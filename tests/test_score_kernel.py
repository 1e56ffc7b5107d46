"""The batch score kernel (wtq/rules/kernel.py) against pinned values.

`score_udf` emits 29 fields per document.  Their values are pinned as one
sha256 over the `repr` of every row, for the smoke corpus's texts plus a
fixed list of edge texts; the digest was taken from the per-document
implementation the kernel replaced, so any drift in any bit of any field
fails here."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from wtq.pipeline import SCORE_SCHEMA, score_udf
from wtq.rules import kernel as K

EDGE_TEXTS = [
    None,
    "",
    " \t\n 　 \n",
    "alpha\x1cbeta\x1dgamma\x1e delta\x1fepsilon the of and",
    "今天早上花园里很安静孩子们在河边玩耍，我们在家里学习",
    "Мама мыла раму, а папа читал газету в саду у дома",
    "Lorem Ipsum dolor sit amet, consectetur adipiscing elit, sed do eiusmod",
    " ".join(
        ["the", "data", "x9", "Straße", "ΣΟΦΙΑΣ", "über", "--", "query", "İstanbul", "of"][i % 10]
        + ("" if i % 7 else "s")
        for i in range(450)
    ),
    " ".join(["the quick brown fox jumps over the lazy dog again"] * 3) + " and then it stopped",
    "Mail john.doe@example.com or call +1 555-123-4567 from 10.0.0.1, you idiot. Damn.",
    "- one item\n- two items...\n* three {x}\n\nsame para\n\nsame para\n\n• last…",
    ("7 42 13 " * 150) + "le père des enfants était déjà à côté de la rivière",
]


def score_digest(frame: pd.DataFrame) -> str:
    """sha256 over the repr of every row's 29 fields, as Python scalars."""
    h = hashlib.sha256()
    for row in frame.itertuples(index=False):
        vals = tuple(v.item() if hasattr(v, "item") else v for v in row)
        assert len(vals) == len(SCORE_SCHEMA.fields)
        h.update(repr(vals).encode("utf-8"))
    return h.hexdigest()


# score_udf over the smoke corpus's texts + EDGE_TEXTS, from the
# per-document implementation the kernel replaced
PINNED_SCORE_DIGEST = "d45fdcaad289010a979ea26d048c79aaa145e5d5368d28001e29fddddf12a9eb"


def test_score_digest_pinned(pages_pdf):
    texts = pages_pdf["text"].tolist() + EDGE_TEXTS
    frame = score_udf.func(pd.Series(texts))
    assert list(frame.columns) == [f.name for f in SCORE_SCHEMA.fields]
    assert len(frame) == len(texts)
    assert score_digest(frame) == PINNED_SCORE_DIGEST


def _rows(cols: dict, n: int) -> list[str]:
    """One repr per document over every field, as Python scalars."""
    as_lists = [c.tolist() if hasattr(c, "tolist") else list(c) for c in cols.values()]
    return [repr(tuple(c[i] for c in as_lists)) for i in range(n)]


def test_batch_split_invariance_hypothesis():
    """The kernel gives every document the same row whatever batch it is
    scored in — the batch-level form of the "same decisions at any
    partition count" invariant (no n-gram, word id or float sum may leak
    across documents)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = ["the", "The", "a", "bb", "ccc", "data", "le", "ΣΟΦΙΑΣ", "中文", "x9", "--", "lorem", "ipsum"]
    seps = [" ", "\n", "\n\n", "\t", "\x1c"]
    texts = st.one_of(
        st.sampled_from(EDGE_TEXTS),
        st.lists(st.tuples(st.sampled_from(words), st.sampled_from(seps)), max_size=40).map(
            lambda ws: "".join(w + s for w, s in ws)
        ),
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(texts, max_size=10), st.lists(st.integers(0, 10), max_size=4))
    def check(batch, cuts):
        whole = _rows(K.score_batch(batch), len(batch))
        bounds = [0, *sorted(c for c in cuts if c <= len(batch)), len(batch)]
        parts = []
        for a, b in zip(bounds, bounds[1:]):
            parts += _rows(K.score_batch(batch[a:b]), b - a)
        assert parts == whole

    check()


def test_per_document_functions_are_the_kernel_on_one_text():
    from wtq.rules.heuristics import py_stats
    from wtq.rules.langid import predict_lang
    from wtq.rules.perplexity import char_perplexity
    from wtq.rules.scrub import scrub_text

    cols = K.score_batch(EDGE_TEXTS)
    for i, t in enumerate(EDGE_TEXTS):
        s = scrub_text(t).text
        assert predict_lang(s) == (cols["pred_lang"][i], cols["lang_margin"][i])
        assert char_perplexity(s) == cols["ppl"][i]
        assert py_stats(s) == {f: cols[f][i] for f in K.STAT_FIELDS}


def test_lowered_words_equal_lower_split():
    """`lowered` re-interns the split() words lower-cased instead of
    splitting text.lower(); the two agree because lower() maps no
    whitespace char to non-whitespace or back, and final sigma never
    looks across whitespace.  Both facts are checked over every code
    point of this interpreter's Unicode database."""
    import sys

    spaces = [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]
    for c in map(chr, range(sys.maxunicode + 1)):
        assert c.isspace() == any(x.isspace() for x in c.lower()), hex(ord(c))
    for s in spaces:
        assert s.lower() == s
        # a whitespace char is not case-ignorable: the sigma context
        # scan stops at it in both directions
        assert ("A" + s + "Σ").lower()[-1] == "σ"
        assert ("AΣ" + s + "A").lower()[1] == "ς"
    texts = [t or "" for t in EDGE_TEXTS] + ["ΟΔΟΣ ΟΔΟΣ\x1cΣΑ Σ İI ẞ"]
    w = K.lowered(K.flatten([t.split() for t in texts]))
    ref = K.flatten([t.lower().split() for t in texts])
    assert w.uniq[w.codes].tolist() == ref.uniq[ref.codes].tolist()
    assert (w.lens == ref.lens).all()


def test_ngram_key_overflow_is_refused(monkeypatch):
    monkeypatch.setattr(K, "_INT64_MAX", 8)
    with pytest.raises(ValueError, match="overflow the int64"):
        K.score_batch(["a b c d e f"])
