"""Pure-pandas/Python reference implementation (golden-label oracle).

Independent of Spark: re-crawl dedup + the rule thresholds are
re-derived here with plain Python/pandas (a different code path from
the pipeline's DataFrame expressions), while the scrub/langid/
perplexity/stats values come from the SAME batch kernel the pipeline's
pandas UDF runs (wtq.rules.kernel.score_batch), called once over the
deduplicated frame — required for byte-identical scrubbed text
(SURVEY.md §5.2, §7 hard-part 1).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from wtq.rules import heuristics as H
from wtq.rules.kernel import STAT_FIELDS, score_batch
from wtq.rules.langid import MARGIN_MIN


def oracle_decide(pages: pd.DataFrame) -> pd.DataFrame:
    """One row per url: keep, fired_rules (sorted list), scrubbed text,
    text_sha256, scrub-edit counts."""
    # drop_duplicates keeps WHOLE rows; GroupBy.first() would take the
    # first non-null value per column and could stitch values from
    # different crawl rows if any column were null — diverging from the
    # pipeline's row-wise window top-1
    dedup = pages.sort_values(
        ["url", "warc_ts", "text"], ascending=[True, False, True]
    ).drop_duplicates("url", keep="first")
    cols = score_batch(dedup["text"].tolist())
    rows = []
    for i, r in enumerate(dedup.itertuples(index=False)):
        # NULL scrubbed = scrubbing changed nothing (the pipeline's
        # coalesce with the input column)
        text = cols["scrubbed"][i]
        text = r.text if text is None else text
        stats = {f: cols[f][i] for f in STAT_FIELDS}
        lang_pred, margin = cols["pred_lang"][i], cols["lang_margin"][i]
        n_prof = int(cols["n_profanity"][i])
        mismatch = (lang_pred != r.lang) and (margin >= MARGIN_MIN)
        fired = H.py_fired_rules(stats, mismatch, cols["ppl"][i], n_prof)
        rows.append(
            {
                "url": r.url,
                "keep": len(fired) == 0,
                "fired_rules": fired,
                "text": text,
                "text_sha256": hashlib.sha256(text.encode("utf-8")).hexdigest(),
                "n_scrub_edits": int(
                    cols["n_email"][i] + cols["n_phone"][i] + cols["n_ip"][i] + n_prof
                ),
                "pred_lang": lang_pred,
                "n_words": int(stats["n_words"]),
            }
        )
    return pd.DataFrame(rows)
