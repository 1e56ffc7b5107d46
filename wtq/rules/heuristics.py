"""Gopher/C4-style heuristic quality rules.

Spark side: ``fired_rules_expr`` — a pure ``pyspark.sql.functions``
expression evaluating every rule threshold in ONE pass per record
(JVM whole-stage-codegen).  This is the analog of the reference's
CASE-ladder tagging (SURVEY.md §2.7 U3 note: evaluate every rule per
record in one scan instead of 13 unioned scans, semantically equal to
proccess_data.sql:505-737 + the :734-736 rollup).  The stat INPUTS to
the thresholds come from the pipeline's single Arrow score pass
(wtq/pipeline.py), which runs the batch kernel (wtq/rules/kernel.py)
— the text is already in Python for the regex scrub, so per-batch word
arrays are far cheaper than re-evaluating interpreted higher-order
expressions per output column (measured in round 1: 176 → >10k
docs/sec).

Oracle side: the differential oracle (oracle/oracle.py) runs the SAME
kernel while re-deriving keep/drop decisions independently of the
Spark plan.  ``py_stats`` is the kernel on a batch of one; the simple
per-n forms ``py_top_ngram_frac`` / ``py_dup_ngram_frac`` below are the
test reference for its n-gram cascade.  The contract for every stat is
documented once here.

Definitions (on the SCRUBBED text):
  words      = non-empty substrings after splitting on whitespace
               (Python ``str.split()`` semantics, incl. Unicode spaces)
  lines      = non-empty substrings after splitting on "\n"
  mean_word_len   = Σ len(word) / n_words          (0.0 if no words)
  symbol_ratio    = count(chars ∈ SYMBOLS) / max(n_words, 1)
  stopword_frac   = count(lower(word) ∈ STOPWORDS) / max(n_words, 1)
  bullet_frac     = count(line startswith bullet) / max(n_lines, 1)
  ellipsis_frac   = count(line endswith "...") / max(n_lines, 1)
  rep_line_frac   = Σ len(line)·(occurrences-1) over distinct lines
                    / Σ len(line)                (0.0 if no lines)
  top_word_frac   = max word frequency / n_words  (0.0 if no words)
  brace_line_frac = count(line contains "{" or "}") / max(n_lines, 1)
  has_lorem       = 1.0 iff lower(text) contains "lorem ipsum"

Gopher repetition family (Rae et al. 2021, Table A1; char-weighted
"excess occurrence" form, matching rep_line_frac's convention —
paragraphs split on "\n\n", word n-grams over `words`, gram chars =
Σ len(word) over the gram, total chars = Σ len(word) over all words):
  dup_para_frac     = Σ parachars·(occurrences-1) over distinct
                      paragraphs / Σ parachars     (0.0 if no paras)
  top_{2,3,4}gram_frac = occurrences(most frequent n-gram) · gramchars
                      / total word chars           (0.0 if < n words
                      or the top gram occurs only once — once is not
                      repetition)
  dup_{5..10}gram_frac = Σ gramchars·(occurrences-1) over distinct
                      duplicated n-grams / total word chars
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F

from wtq.rules import registry as R


def fired_rules_expr(
    stats: dict[str, Column],
    lang_mismatch: Column,
    ppl: Column,
    profanity_hits: Column,
) -> Column:
    """array<string> of fired rule codes, sorted — the err_all analog
    (proccess_data.sql:814-841) built in ONE pass per record: every
    ``registry.RULES`` predicate over the column stats."""
    s = {**stats, "lang_mismatch": lang_mismatch, "ppl": ppl, "profanity_hits": profanity_hits}
    arr = F.array(*[F.when(r.fires(s), F.lit(r.code)) for r in R.RULES])
    return F.array_sort(F.filter(arr, lambda x: x.isNotNull()))


# ---------------------------------------------------------------------------
# Pure-Python mirror (oracle / differential side)
# ---------------------------------------------------------------------------

def py_words(text: str) -> list[str]:
    return [w for w in (text or "").split() if w]


def py_lines(text: str) -> list[str]:
    return [l for l in (text or "").split("\n") if l != ""]


def py_rep_line_frac(text: str, _lines: "list[str] | None" = None) -> float:
    lines = _lines if _lines is not None else py_lines(text)
    if not lines:
        return 0.0
    total = sum(map(len, lines))
    if total == 0:
        return 0.0
    c = Counter(lines)
    dup = sum(len(l) * (n - 1) for l, n in c.items() if n > 1)
    return dup / total


def py_top_word_frac(text: str) -> float:
    words = py_words(text)
    if not words:
        return 0.0
    c = Counter(words)
    return max(c.values()) / len(words)


def py_dup_para_frac(text: str) -> float:
    paras = [p for p in (text or "").split("\n\n") if p != ""]
    if not paras:
        return 0.0
    total = sum(map(len, paras))
    if total == 0:
        return 0.0
    c = Counter(paras)
    dup = sum(len(p) * (n - 1) for p, n in c.items() if n > 1)
    return dup / total


def py_top_ngram_frac(words: list[str], n: int) -> float:
    """Chars covered by the single most frequent word n-gram / total
    word chars (Gopher top-n-gram character fraction).  A gram
    occurring once is not repetition: 0.0 unless the top count ≥ 2 —
    otherwise every short document's unique top 4-gram exceeds the
    0.16 threshold arithmetically (a 21-word clean sentence measures
    0.20)."""
    total = sum(len(w) for w in words)
    if len(words) < n or total == 0:
        return 0.0
    c = Counter(tuple(words[i : i + n]) for i in range(len(words) - n + 1))
    # tie-break on gram char length — the value-determining quantity —
    # so the answer is independent of gram representation (the kernel's
    # cascade counts interned ids)
    cnt, chars = max((k, sum(len(w) for w in g)) for g, k in c.items())
    if cnt < 2:
        return 0.0
    return cnt * chars / total


def py_dup_ngram_frac(words: list[str], n: int) -> float:
    """Excess chars of duplicated word n-grams / total word chars
    (Gopher duplicate-n-gram character fraction, excess-occurrence
    form: each repeat beyond the first counts its gram's chars)."""
    total = sum(len(w) for w in words)
    if len(words) < n or total == 0:
        return 0.0
    c = Counter(tuple(words[i : i + n]) for i in range(len(words) - n + 1))
    dup = sum(sum(len(w) for w in g) * (k - 1) for g, k in c.items() if k > 1)
    return dup / total


def py_stats(text: str, _ltext: "str | None" = None) -> dict[str, float]:
    """Every stat for one document: the batch kernel
    (wtq.rules.kernel.stat_columns) on a batch of one.  `_ltext`
    optionally supplies text.lower() when the caller already has it;
    value-identical to the single-argument call."""
    from wtq.rules.kernel import STAT_FIELDS, flatten, stat_columns

    text = text or ""
    ltext = _ltext if _ltext is not None else text.lower()
    cols = stat_columns([text], [ltext], flatten([text.split()]))
    return {f: cols[f][0].item() for f in STAT_FIELDS}


def py_fired_rules(
    stats: dict[str, float],
    lang_mismatch: bool,
    ppl: float,
    profanity_hits: int,
) -> list[str]:
    """The sorted fired codes for one document's scalar stats: the same
    ``registry.RULES`` predicates ``fired_rules_expr`` compiles."""
    s = {**stats, "lang_mismatch": lang_mismatch, "ppl": ppl, "profanity_hits": profanity_hits}
    return sorted(r.code for r in R.RULES if r.fires(s))
