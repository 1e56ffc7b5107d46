"""Batch-columnar score kernel: every score field for a batch of texts.

This is the single implementation of the per-document score — the
pipeline's Arrow pass (``wtq.pipeline.score_udf``), the pandas oracle
(``oracle/oracle.py``) and the per-document public functions
(``py_stats``, ``predict_lang``, ``char_perplexity``, which call it on a
batch of one) all run it.  The stat contracts are documented in
``wtq.rules.heuristics``; the models in ``langid`` and ``perplexity``.

Shape of the work (cf. "Accelerating Python UDFs in Vectorized Query
Execution", CIDR 2022 — do the work once per batch in native code):

  * per document, at C speed: ``scrub_text``, ``split()``, the
    line-based stats, the ``SYMBOLS`` counts, ``has_lorem`` (on
    ``lower()``) and the CJK gate;
  * per batch: the words of every document are flattened into one array
    with document offsets and interned by one hash pass
    (``pd.factorize``), and lower-cased by re-interning only the
    distinct words (``lowered``); each word-level quantity (char length, stopword
    membership, ``isalpha``, Latin letters, lexicon hit, the langid and
    perplexity word scores) is computed once per distinct word; integer
    per-document sums run over the offsets; the Gopher n-gram cascade
    runs once per level over (document, gram) keys.

Every value is exact and independent of the batch a document lands in:
counts stay integer until the final division, and the langid and
perplexity float sums are added left to right, the order of a
per-document loop, one column of a padded docs × words matrix at a time
(``np.sum`` / ``np.add.reduceat`` sum floats pairwise, which rounds
differently).  tests/test_score_kernel.py pins every field's bits.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence
from itertools import chain
from typing import NamedTuple

import numpy as np
import pandas as pd

from wtq.rules import heuristics as H
from wtq.rules import registry as R
from wtq.rules.langid import (
    _LANGS,
    _LATIN_LEXICON,
    _NON_LATIN_RE,
    LEX_HIT_MIN,
    SAMPLE_WORDS,
    _cjk_fraction,
    _word_scores,
)
from wtq.rules.lexicon import STOPWORDS
from wtq.rules.perplexity import MAX_WORDS, _word_ll
from wtq.rules.scrub import scrub_text

# Every stat, in emission order.  SCORE_SCHEMA, the UDF's columns and
# the oracle's stats dict all derive from this one list.
STAT_FIELDS: list[str] = [
    "n_words", "n_lines", "mean_word_len", "symbol_ratio",
    "stopword_frac", "bullet_frac", "ellipsis_frac", "rep_line_frac",
    "top_word_frac", "brace_line_frac", "has_lorem", "dup_para_frac",
    "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
    "dup_5gram_frac", "dup_6gram_frac", "dup_7gram_frac",
    "dup_8gram_frac", "dup_9gram_frac", "dup_10gram_frac",
]

_INT64_MAX = np.iinfo(np.int64).max
# one compiled char-class scan == a count per symbol char
_SYMBOL_RE = re.compile("[" + re.escape(R.SYMBOLS) + "]")


class Words(NamedTuple):
    """The words of a batch flattened in document order."""

    codes: np.ndarray  # per word: index into `uniq`
    uniq: np.ndarray  # distinct words (object array)
    doc: np.ndarray  # per word: its document (non-decreasing)
    pos: np.ndarray  # per word: its position within the document
    lens: np.ndarray  # per document: word count


def flatten(word_lists: Sequence[list[str]]) -> Words:
    """One array over every document's words, interned by one hash pass."""
    lens = np.fromiter(map(len, word_lists), np.int64, len(word_lists))
    n = int(lens.sum())
    flat = np.fromiter(chain.from_iterable(word_lists), object, n)
    codes, uniq = pd.factorize(flat)
    doc = np.repeat(np.arange(len(lens)), lens)
    pos = np.arange(n) - (np.cumsum(lens) - lens)[doc]
    return Words(codes.astype(np.int64, copy=False), uniq, doc, pos, lens)


def lowered(w: Words) -> Words:
    """`w` with every word lower-cased, re-interned over its distinct
    words only.  Equal to flattening each text's lower().split():
    lower() maps no whitespace char to non-whitespace or back, and its
    one context-dependent mapping (final sigma) never looks across
    whitespace (both pinned over every code point in the tests)."""
    lcodes, luniq = pd.factorize(np.fromiter(map(str.lower, w.uniq), object, len(w.uniq)))
    return w._replace(codes=lcodes.astype(np.int64, copy=False)[w.codes], uniq=luniq)


def _doc_sums(x: np.ndarray, doc: np.ndarray, n_docs: int) -> np.ndarray:
    """Integer per-document sums of `x`, whose rows are grouped by the
    non-decreasing `doc`; documents with no rows sum to 0."""
    cs = np.concatenate(([0], np.cumsum(x, dtype=np.int64)))
    b = np.searchsorted(doc, np.arange(n_docs + 1))
    return cs[b[1:]] - cs[b[:-1]]


def _ordered_sums(
    table: np.ndarray, code: np.ndarray, doc: np.ndarray, rank: np.ndarray, n_docs: int
) -> np.ndarray:
    """Per-document float sums of `table[code]`, added left to right in
    `rank` order: the terms fill a rank × docs matrix padded with a zero
    row of `table`, summed one rank at a time.  Every term is nonzero, so
    the padding's `+ 0.0` changes no bit."""
    pad = len(table)
    table = np.concatenate([table, np.zeros((1,) + table.shape[1:])])
    width = int(rank.max()) + 1 if len(rank) else 0
    m = np.full((width, n_docs), pad, dtype=np.int64)
    m[rank, doc] = code
    acc = np.zeros((n_docs,) + table.shape[1:])
    for j in range(width):
        acc += table[m[j]]
    return acc


def _word_table(uniq: np.ndarray, codes: np.ndarray, fn, shape: tuple[int, ...]):
    """`fn(word) -> (value, count)` for each distinct word that `codes`
    uses, as arrays indexed by word code (rows of unused words are 0)."""
    idx = np.flatnonzero(np.bincount(codes, minlength=len(uniq)))
    vals = np.zeros((len(uniq),) + shape)
    counts = np.zeros(len(uniq), dtype=np.int64)
    if len(idx):
        vals[idx], counts[idx] = zip(*map(fn, uniq[idx].tolist()))
    return vals, counts


def lang_columns(texts: Sequence[str | None], lw: Words) -> tuple[list[str], np.ndarray]:
    """(pred_lang, lang_margin) per document; `lw` holds each text's
    lower().split() words.  The gates and the model are
    ``wtq.rules.langid``'s (see ``predict_lang``)."""
    n_docs = len(texts)
    lang = ["und"] * n_docs
    margin = np.zeros(n_docs)
    eligible = np.zeros(n_docs, dtype=bool)
    for i, t in enumerate(texts):
        if t:
            if _cjk_fraction(t) > 0.30:
                lang[i], margin[i] = "zh", 10.0
            else:
                eligible[i] = True
    uniq = lw.uniq
    # the sample: each document's first SAMPLE_WORDS alphabetic words
    alpha = np.fromiter(map(str.isalpha, uniq), bool, len(uniq))[lw.codes]
    seen = np.cumsum(alpha)
    seen_before_doc = np.concatenate(([0], seen))[np.cumsum(lw.lens) - lw.lens]
    rank = seen - seen_before_doc[lw.doc]  # 1-based among the doc's alpha words
    s = np.flatnonzero(alpha & (rank <= SAMPLE_WORDS) & eligible[lw.doc])
    code, doc, rank = lw.codes[s], lw.doc[s], rank[s] - 1
    n_sample = np.bincount(doc, minlength=n_docs)
    idx = np.flatnonzero(np.bincount(code, minlength=len(uniq)))
    words = uniq[idx].tolist()
    letters = np.zeros(len(uniq), dtype=np.int64)
    non_latin = np.zeros(len(uniq), dtype=np.int64)
    lex_hit = np.zeros(len(uniq), dtype=np.int64)
    letters[idx] = list(map(len, words))
    non_latin[idx] = [0 if x.isascii() else len(_NON_LATIN_RE.findall(x)) for x in words]
    lex_hit[idx] = list(map(_LATIN_LEXICON.__contains__, words))
    n_letters = _doc_sums(letters[code], doc, n_docs)
    n_latin = n_letters - _doc_sums(non_latin[code], doc, n_docs)
    n_hits = _doc_sums(lex_hit[code], doc, n_docs)
    ok = eligible & (n_sample > 0)
    # script gate, then the unseen-language gate (LEX_HIT_MIN)
    ok[ok] = ~(n_latin[ok] / n_letters[ok] < 0.5)
    ok[ok] = ~(n_hits[ok] < LEX_HIT_MIN * n_sample[ok])
    rows = np.flatnonzero(ok)
    if not len(rows):
        return lang, margin
    keep = ok[doc]
    code, doc, rank = code[keep], doc[keep], rank[keep]
    row_of = np.cumsum(ok) - 1
    scores, n_bigrams = _word_table(uniq, code, _word_scores, (len(_LANGS),))
    totals = _ordered_sums(scores, code, row_of[doc], rank, len(rows))
    nbg = _doc_sums(n_bigrams[code], row_of[doc], len(rows))
    # rank by (-total, lang): a stable sort on -total keeps _LANGS order on ties
    order = np.argsort(-totals, axis=1, kind="stable")
    best = np.take_along_axis(totals, order[:, :2], axis=1)
    margin[rows] = (best[:, 0] - best[:, 1]) / nbg
    for r, b in zip(rows.tolist(), order[:, 0].tolist()):
        lang[r] = _LANGS[b]
    return lang, margin


def ppl_column(lw: Words, max_words: int = MAX_WORDS) -> np.ndarray:
    """Char-trigram perplexity per document over its first `max_words`
    lower-cased words `lw` (``wtq.rules.perplexity``); 0.0 for a
    document without words."""
    n_docs = len(lw.lens)
    s = np.flatnonzero(lw.pos < max_words)
    code, doc, rank = lw.codes[s], lw.doc[s], lw.pos[s]
    ll, n_tri = _word_table(lw.uniq, code, _word_ll, ())
    n = _doc_sums(n_tri[code], doc, n_docs)
    total = _ordered_sums(ll, code, doc, rank, n_docs)
    has = n > 0
    out = np.zeros(n_docs)
    out[has] = [math.exp(v) for v in (-total[has] / n[has]).tolist()]
    return out


def _line_stats(texts: Sequence[str], ltexts: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """The per-document string stats, as an int (docs × 5) array of
    line, symbol, bullet-line, ellipsis-line and brace-line counts and a
    float (docs × 3) array of rep_line_frac, dup_para_frac, has_lorem."""
    counts, fracs = [], []
    for text, ltext in zip(texts, ltexts):
        lines = H.py_lines(text)
        n_bullet = n_ellipsis = n_brace = 0
        for l in lines:
            if l.startswith(R.BULLET_PREFIXES):
                n_bullet += 1
            if l.endswith("..."):
                n_ellipsis += 1
            if "{" in l or "}" in l:
                n_brace += 1
        counts.append((len(lines), len(_SYMBOL_RE.findall(text)), n_bullet, n_ellipsis, n_brace))
        fracs.append((
            H.py_rep_line_frac(text, _lines=lines),
            H.py_dup_para_frac(text),
            1.0 if "lorem ipsum" in ltext else 0.0,
        ))
    return np.array(counts, dtype=np.int64).reshape(-1, 5), np.array(fracs).reshape(-1, 3)


def _repetition(
    w: Words, wchars: np.ndarray, total: np.ndarray
) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """Per document: the top word's count, and the nine Gopher n-gram
    stats.

    The cascade over n = 2..10 keys each n-gram as (id of its
    (n−1)-gram prefix) · W + (id of its last word), where level-1 ids
    intern (document, word) pairs, so a key carries its document and no
    gram crosses a document boundary.  Each level's factorize codes are
    the next level's prefix ids; gram char lengths and documents follow
    the same chain.  Both (n−1)-grams inside a repeated n-gram repeat,
    so level n only keys the positions where they do: every occurrence
    of a repeated gram is kept, so the counts of repeated grams — all
    the stats depend on — are exact, and a document leaves the cascade
    at its first level with no repeated gram.  Keys stay below
    max(docs, words) · W: an Arrow batch (int32 offsets, < 2 GiB of
    text, so < 2^30 words) stays below 2^60."""
    n_docs, n_words, W = len(w.lens), len(w.codes), len(w.uniq)
    if max(n_docs, n_words) * W > _INT64_MAX:
        raise ValueError(
            f"{n_words} words in {n_docs} documents overflow the int64 "
            "n-gram keys; score the texts in smaller batches"
        )
    out = {f"top_{n}gram_frac": np.zeros(n_docs) for n in (2, 3, 4)}
    out.update({f"dup_{n}gram_frac": np.zeros(n_docs) for n in range(5, 11)})
    top_word = np.zeros(n_docs, dtype=np.int64)
    if not n_words:
        return top_word, out
    rem = (w.lens[w.doc] - 1) - w.pos  # words after each position
    repeats = np.zeros(n_words + 1, dtype=bool)  # scratch, per position
    # level 1: the grams are (document, word) pairs at every position
    p = np.arange(n_words)
    prefix, uk = pd.factorize(w.doc * W + w.codes)
    cnt, gdoc, pchars = np.bincount(prefix), uk // W, wchars[uk % W]
    starts = np.flatnonzero(np.diff(gdoc, prepend=-1))
    top_word[gdoc[starts]] = np.maximum.reduceat(cnt, starts)
    for n in range(2, 11):
        r = cnt[prefix] >= 2
        repeats[p[r]] = True
        keep = r & repeats[p + 1] & (rem[p] >= n - 1)
        repeats[p[r]] = False
        p, prefix = p[keep], prefix[keep]
        if not len(p):
            break
        g, uk = pd.factorize(prefix * W + w.codes[p + n - 1])
        cnt, gdoc = np.bincount(g), gdoc[uk // W]
        kch = pchars[uk // W] + wchars[uk % W]
        # grams are grouped by document (positions ascend, codes follow
        # first appearance)
        starts = np.flatnonzero(np.diff(gdoc, prepend=-1))
        ds, mx = gdoc[starts], np.maximum.reduceat(cnt, starts)
        rep = mx >= 2
        if n <= 4:
            # tie-break on chars (value-determining, as py_top_ngram_frac)
            at_max = np.where(cnt == np.repeat(mx, np.diff(starts, append=len(cnt))), kch, 0)
            chars = np.maximum.reduceat(at_max, starts)
            out[f"top_{n}gram_frac"][ds[rep]] = (mx * chars)[rep] / total[ds[rep]]
        else:
            dup = np.add.reduceat(np.where(cnt > 1, (cnt - 1) * kch, 0), starts)
            out[f"dup_{n}gram_frac"][ds[rep]] = dup[rep] / total[ds[rep]]
        prefix, pchars = g, kch
    return top_word, out


def stat_columns(texts: Sequence[str], ltexts: Sequence[str], w: Words) -> dict[str, np.ndarray]:
    """Every STAT_FIELDS column for a batch of (scrubbed) texts;
    `ltexts` are their lower() forms and `w` their split() words."""
    n_docs, n_uniq = len(texts), len(w.uniq)
    wchars = np.fromiter(map(len, w.uniq), np.int64, n_uniq)
    stop = np.fromiter(map(STOPWORDS.__contains__, map(str.lower, w.uniq)), bool, n_uniq)
    total = _doc_sums(wchars[w.codes], w.doc, n_docs)
    n_stop = _doc_sums(stop[w.codes], w.doc, n_docs)
    top_word, rep = _repetition(w, wchars, total)
    (n_lines, n_symbols, n_bullet, n_ellipsis, n_brace), (rep_line, dup_para, lorem) = (
        a.T for a in _line_stats(texts, ltexts)
    )
    # a document without words has total == top_word == 0, so dividing by
    # max(n, 1) gives its 0.0
    nw1, nl1 = np.maximum(w.lens, 1), np.maximum(n_lines, 1)
    return {
        "n_words": w.lens,
        "n_lines": n_lines,
        "mean_word_len": total / nw1,
        "symbol_ratio": n_symbols / nw1,
        "stopword_frac": n_stop / nw1,
        "bullet_frac": n_bullet / nl1,
        "ellipsis_frac": n_ellipsis / nl1,
        "rep_line_frac": rep_line,
        "top_word_frac": top_word / nw1,
        "brace_line_frac": n_brace / nl1,
        "has_lorem": lorem,
        "dup_para_frac": dup_para,
        **rep,
    }


def score_batch(texts: Sequence[str | None]) -> dict[str, list | np.ndarray]:
    """Every score field for a batch of raw texts, keyed in SCORE_SCHEMA
    order.  ``scrubbed`` is NULL when scrubbing changed nothing (the
    caller still holds the input), except for a NULL input, whose ''
    ships explicitly."""
    scrubbed = [scrub_text(t) for t in texts]
    st = [s.text for s in scrubbed]
    w = flatten([t.split() for t in st])
    lw = lowered(w)
    lang, margin = lang_columns(st, lw)
    counts = np.array([s[1:] for s in scrubbed], dtype=np.int64).reshape(-1, 4)
    return {
        "scrubbed": [s.text if (s.n_edits or t is None) else None for s, t in zip(scrubbed, texts)],
        "n_email": counts[:, 0],
        "n_phone": counts[:, 1],
        "n_ip": counts[:, 2],
        "n_profanity": counts[:, 3],
        "pred_lang": lang,
        "lang_margin": margin,
        "ppl": ppl_column(lw),
        **stat_columns(st, [t.lower() for t in st], w),
    }
