"""Deterministic character-bigram language identification.

Replaces the reference's tag-derived record classification
(water.lua:224-241 routes records by tag predicates; here the "tag" is
the byte content of the text).  fastText is not available in this
container, so the model is a fastText-style char-n-gram linear scorer
whose profiles are derived at import time from the embedded wordlists
(wtq.rules.lexicon.LANG_WORDS) — deterministic, no downloads
(SURVEY.md §7 hard-part 5).

The model and the per-word scorer live here; the batch kernel
(wtq/rules/kernel.py) that the Spark pandas UDF and the oracle both run
applies them, so predictions agree exactly.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

from wtq.rules.lexicon import LANG_WORDS

_NON_CJK_RE = re.compile(r"[^一-鿿]+")

_LANGS = sorted(LANG_WORDS)  # deterministic order: de, en, es, fr, zh

# Whole-word training coverage — every Latin-script word the bigram
# profiles were trained on.  The coverage gate below reads this, not
# the bigram vocabulary: bigram coverage does NOT separate unseen
# Latin languages from trained ones (measured: Italian text covers
# 0.74-0.84 of profile bigrams, the same band as genuine es/fr text)
# because Romance languages share their character pairs; whole-WORD
# membership separates cleanly (trained-language text: ~0.5 of tokens
# are function words from its list; Italian/Portuguese/Dutch: 0.03-0.14,
# only cross-language homographs like 'de', 'en', 'con').
_LATIN_LEXICON: frozenset = frozenset(
    w for lang in _LANGS if lang != "zh" for w in LANG_WORDS[lang]
)

# Minimum fraction of scored words that must come from the training
# lexicon for a Latin-script prediction to count.  Below it the doc is
# mostly words the model never saw whole — an unseen LANGUAGE (not
# just unseen vocabulary: trained-language text keeps its function-
# word backbone, which IS the lexicon), and the char-bigram likelihood
# then just picks the nearest trained neighbor with high margin
# (measured: Italian → 'es' at median margin 0.25, MORE confident than
# genuine French text at median 0.17 — the margin gate cannot catch
# this, round-5 eval in test_heldout_eval.py).  0.25 at document scale
# (40-200 words): unseen it/pt/nl false-fire ≤ 0.7%, trained-language
# abstention 0.0% (doc scale) / ≤ 1% (15-35-word snippets).
LEX_HIT_MIN = 0.25

# Per-doc cost cap (cf. st_subdivide, SURVEY.md §4): a document is scored
# on its first SAMPLE_WORDS alphabetic lower-cased words.
SAMPLE_WORDS = 200


def _bigrams(s: str):
    s = f" {s} "
    for i in range(len(s) - 1):
        yield s[i : i + 2]


@lru_cache(maxsize=1)
def _profiles() -> dict[str, dict[str, float]]:
    """Per-lang log P(bigram) with add-one smoothing over the observed
    bigram vocabulary union."""
    counts: dict[str, dict[str, int]] = {}
    vocab: set[str] = set()
    for lang in _LANGS:
        c: dict[str, int] = {}
        for w in LANG_WORDS[lang]:
            for bg in _bigrams(w):
                c[bg] = c.get(bg, 0) + 1
        counts[lang] = c
        vocab.update(c)
    v = len(vocab) + 1
    profiles: dict[str, dict[str, float]] = {}
    for lang in _LANGS:
        total = sum(counts[lang].values()) + v
        base = -math.log(total)  # unseen bigram → log(1/total)
        prof = {bg: math.log(n + 1) - math.log(total) for bg, n in counts[lang].items()}
        prof["__base__"] = base
        profiles[lang] = prof
    return profiles


def _cjk_fraction(s: str) -> float:
    if not s:
        return 0.0
    # what is left after deleting every non-CJK run is the CJK chars:
    # one C scan, without the per-match string objects findall builds;
    # ASCII text has none
    n = 0 if s.isascii() else len(_NON_CJK_RE.sub("", s))
    return n / len(s)


# plain-dict memo (round-6: ~2× cheaper per hit than lru_cache — no
# recency bookkeeping; cleared wholesale at the bound, like dedup's
# _HASH_MEMO, so executor memory stays flat on adversarial vocab)
_WORD_SCORES_MEMO: dict = {}
_WORD_SCORES_MAX = 1 << 18


def _word_scores(w: str) -> tuple[tuple[float, ...], int]:
    """Per-word log-likelihood under each language profile (+ bigram
    count).  Word-level memoization: function words repeat constantly
    in natural text, so the hit rate is high and deterministic."""
    memo = _WORD_SCORES_MEMO
    hit = memo.get(w)
    if hit is not None:
        return hit
    if len(memo) > _WORD_SCORES_MAX:
        memo.clear()
    profiles = _profiles()
    scores = []
    n = 0
    for lang in _LANGS:
        prof = profiles[lang]
        base = prof["__base__"]
        s = 0.0
        n = 0
        for bg in _bigrams(w):
            s += prof.get(bg, base)
            n += 1
        scores.append(s)
    out = (tuple(scores), n)
    memo[w] = out
    return out


# any char outside the Latin blocks (>= U+0250) — one compiled-regex
# scan per distinct sample word.  The script gate is the fraction of
# LETTERS in the Latin blocks (Basic..Extended-B, < U+0250 — covers every
# accented char the supported languages use) across the SAME capped
# alpha-word sample the scorer consumes: a fixed raw-char window was
# bypassable by a long digit/punctuation/markup preamble before non-Latin
# prose (found in round-4 self-review, regression-pinned), while the
# alpha-word sample cannot contain a letterless prefix by construction.
_NON_LATIN_RE = re.compile("[\u0250-\U0010ffff]")


def predict_lang(text: str, _lwords: "list[str] | None" = None) -> tuple[str, float]:
    """Return (lang, margin). margin = mean-per-bigram log-likelihood
    gap between best and second-best language; 0.0 when undecidable.

    Script-aware abstention: this model's label set is Latin-script
    languages + zh, so text whose letters are predominantly in any
    OTHER script (Cyrillic, Greek, Arabic, Hangul, kana, ...) returns
    ('und', 0.0) — the L-1 rule then abstains (margin < MARGIN_MIN)
    instead of firing on a confidently WRONG label.  Without this, a
    fully-unseen script degenerates to the per-language smoothing
    baselines, which differ by a CONSTANT — measured: Russian, Greek,
    Arabic, and Korean all predicted 'zh' at margin 0.118 > MARGIN_MIN
    (round-4 fix; pinned in test_heldout_eval.py).

    Computed by the batch kernel (wtq.rules.kernel.lang_columns) on a
    batch of one.  Gates, in order: empty text → 'und'; CJK share > 0.30
    → ('zh', 10.0); then over the sample (SAMPLE_WORDS): no
    sample, Latin-letter share < 0.5 (see _NON_LATIN_RE) or lexicon hits
    < LEX_HIT_MIN of the sample → 'und'.  `_lwords` optionally supplies
    text.lower().split() when the caller already has it."""
    from wtq.rules.kernel import flatten, lang_columns

    lwords = _lwords if _lwords is not None else (text or "").lower().split()
    lang, margin = lang_columns([text], flatten([lwords]))
    return lang[0], margin[0].item()


# Confidence gate for the L-1 rule: below this margin the prediction is
# treated as unreliable and the rule does not fire.
MARGIN_MIN = 0.05
