"""KenLM-style character-trigram perplexity scorer.

A deterministic stand-in for a KenLM model (not installable here): a
char-trigram LM with add-one smoothing, trained at import time on a
corpus synthesized from the embedded wordlists — self-contained, no
network (SURVEY.md §7 hard-part 5).  High perplexity ⇒ gibberish ⇒
rule P-1.

The model and the per-word scorer live here; the batch kernel
(wtq/rules/kernel.py) shared by the Spark pandas UDF and the oracle
applies them.
"""

from __future__ import annotations

import math
from functools import lru_cache

from wtq.rules.lexicon import CONTENT_WORDS, LANG_WORDS

# Per-doc cost cap: perplexity is taken over the first MAX_WORDS words,
# which keeps Arrow batches balanced (cf. st_subdivide, SURVEY.md §4).
MAX_WORDS = 400


@lru_cache(maxsize=1)
def _model() -> tuple[dict[str, int], dict[str, int], int]:
    """(trigram counts, bigram context counts, vocab size)."""
    corpus_words: list[str] = list(CONTENT_WORDS)
    for lang in ("en", "fr", "es", "de"):
        corpus_words.extend(LANG_WORDS[lang])
    corpus = " ".join(corpus_words)
    tri: dict[str, int] = {}
    bi: dict[str, int] = {}
    pad = "  " + corpus
    for i in range(len(pad) - 2):
        ctx = pad[i : i + 2]
        tg = pad[i : i + 3]
        tri[tg] = tri.get(tg, 0) + 1
        bi[ctx] = bi.get(ctx, 0) + 1
    vocab = len(set(corpus)) + 1
    return tri, bi, vocab


# plain-dict memo (round-6: ~2× cheaper per hit than lru_cache — no
# recency bookkeeping; cleared wholesale at the bound so executor
# memory stays flat on adversarial vocab)
_WORD_LL_MEMO: dict = {}
_WORD_LL_MAX = 1 << 18


def _word_ll(w: str) -> tuple[float, int]:
    """(sum log-prob, n trigrams) for one space-padded word.  Word-level
    memoization: natural text repeats words constantly, so the hit rate
    is high and deterministic (same trick as langid._word_scores)."""
    memo = _WORD_LL_MEMO
    hit = memo.get(w)
    if hit is not None:
        return hit
    if len(memo) > _WORD_LL_MAX:
        memo.clear()
    tri, bi, vocab = _model()
    s = "  " + w + " "
    ll = 0.0
    n = 0
    for i in range(len(s) - 2):
        num = tri.get(s[i : i + 3], 0) + 1
        den = bi.get(s[i : i + 2], 0) + vocab
        ll += math.log(num / den)
        n += 1
    out = (ll, n)
    memo[w] = out
    return out


def char_perplexity(
    text: str, max_words: int = MAX_WORDS, _lwords: "list[str] | None" = None
) -> float:
    """Per-char perplexity under the trigram LM, computed word-by-word
    (each word scored in a space-padded context, totals pooled); 0.0
    for empty text, over the first `max_words` words.  The batch kernel
    (wtq.rules.kernel.ppl_column) on a batch of one; `_lwords`
    optionally supplies text.lower().split() when the caller already
    has it."""
    from wtq.rules.kernel import flatten, ppl_column

    words = _lwords if _lwords is not None else (text or "").lower().split()
    return ppl_column(flatten([words]), max_words)[0].item()
