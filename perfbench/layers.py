"""Per-layer measurements for the traced run.

Every layer is timed from outside, around calls into the public
functions of ``wtq.session``, ``wtq.pipeline``, ``wtq.rules``,
``wtq.operators.curation``, ``wtq.build`` and ``wtq.queries``.  Spans are
kept in memory (``Tracer``) and written out when the run ends; layer
metrics are span durations.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

import pandas as pd

# prefix chains are short, noisy measurements: each prefix runs this many
# times and its median is used
PREFIX_REPEATS = 2
# the session's spark.sql.execution.arrow.maxRecordsPerBatch
ARROW_BATCH = 10_000

PIPELINE_STEPS = ["scan", "exchange", "window", "arrow_floor", "score", "rules", "sink"]
RULE_PARTS = ["scrub", "lower_split", "langid", "perplexity", "py_stats"]
BUILD_SECTIONS = ["quality_kept", "dedup", "decontam", "budget", "write", "lineage"]


class Tracer:
    """In-memory spans: name, parent (the span open when it started),
    start and end in wall-clock seconds.  Spans open and close on one
    thread, so the open spans form a stack."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._open[-1] if self._open else None, "start": time.time()}
        self._open.append(name)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, parent: str | None, start: float, end: float) -> None:
        self.spans.append({"name": name, "parent": parent, "start": start, "end": end})

    def dur(self, name: str) -> float:
        return next(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def window_ms(self, name: str) -> tuple[float, float]:
        s = next(s for s in self.spans if s["name"] == name)
        return s["start"] * 1e3, s["end"] * 1e3

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_udf():
    """The Arrow floor: a pandas UDF with ``score_udf``'s input and output
    schema that returns the text unchanged and constant scores, so its
    cost is the Arrow transfer and worker dispatch alone."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from wtq.pipeline import SCORE_SCHEMA

    fields = SCORE_SCHEMA.fields

    @F.pandas_udf(SCORE_SCHEMA)
    def identity_score(texts: pd.Series) -> pd.DataFrame:
        n = len(texts)
        cols = {}
        for f in fields:
            if f.name == "scrubbed":
                cols[f.name] = texts.values
            elif isinstance(f.dataType, T.StringType):
                cols[f.name] = ["en"] * n
            elif isinstance(f.dataType, T.IntegerType):
                cols[f.name] = np.zeros(n, dtype=np.int32)
            else:
                cols[f.name] = np.zeros(n)
        return pd.DataFrame(cols)

    return identity_score


def pipeline_prefixes(spark, pages: str, nproc: int):
    """The cumulative noop-sink prefixes of the flagless pipeline up to the
    rules; the last step, the sinks, is the full filter run."""
    from pyspark.sql import functions as F

    from wtq.pipeline import decide, dedup_recrawls, salted_repartition, score_udf

    def scan():
        return spark.read.parquet(pages).select("url", "warc_ts", "text", "lang")

    floor = _identity_udf()
    return [
        ("scan", scan),
        ("exchange", lambda: salted_repartition(scan(), nproc)),
        ("window", lambda: dedup_recrawls(salted_repartition(scan(), nproc))),
        ("arrow_floor", lambda: dedup_recrawls(salted_repartition(scan(), nproc))
            .withColumn("__s", floor(F.col("text")))),
        ("score", lambda: dedup_recrawls(salted_repartition(scan(), nproc))
            .withColumn("__s", score_udf(F.col("text")))),
        ("rules", lambda: decide(spark.read.parquet(pages), num_partitions=nproc)),
    ]


def measure_pipeline(spark, tracer: Tracer, pages: str, nproc: int, full_run) -> dict[str, float]:
    """OPTIMIZATION_r06's stage table: each step is the increment of its
    cumulative prefix over the previous one.  ``full_run`` runs the whole
    filter workload once and returns its execution seconds."""
    from wtq.pipeline import decide
    from wtq.plans.audit import plan_string

    cumulative = {}
    for step, build_df in pipeline_prefixes(spark, pages, nproc):
        samples = []
        for i in range(PREFIX_REPEATS):
            with tracer.span(f"pipeline.prefix.{step}.{i}"):
                t0 = time.perf_counter()
                _noop(build_df())
                samples.append(time.perf_counter() - t0)
        cumulative[step] = statistics.median(samples)
    cumulative["sink"] = full_run()
    m, prev = {}, 0.0
    for step in PIPELINE_STEPS:
        m[f"pipeline.{step}_s"] = cumulative[step] - prev
        prev = cumulative[step]
    plan = plan_string(decide(spark.read.parquet(pages), num_partitions=nproc), mode="simple")
    m["pipeline.arrow_eval_nodes"] = plan.count("ArrowEvalPython")
    m["pipeline.exchanges"] = plan.count("Exchange")
    m["pipeline.pages_scans"] = plan.count("FileScan parquet")
    return m


def stage_table(m: dict[str, float], run_s: float) -> str:
    lines = ["stage            increment_s  cumulative_s  share"]
    cum = 0.0
    for step in PIPELINE_STEPS:
        cum += m[f"pipeline.{step}_s"]
        label = step if step == "scan" else "+" + step
        lines.append(f"{label:<16} {m[f'pipeline.{step}_s']:>11.3f}  {cum:>12.3f}  {m[f'pipeline.{step}_s'] / run_s:>5.1%}")
    verdict = "within" if abs(cum / run_s - 1) <= 0.1 else "NOT within"
    lines.append(f"layers sum {cum:.3f} s vs run_s {run_s:.3f} s ({cum / run_s - 1:+.1%}, {verdict} 10%)")
    return "\n".join(lines)


def dedup_texts(pages: str) -> list[str]:
    """The texts the score UDF sees: latest crawl per url, as the pipeline's
    re-crawl window keeps it."""
    pdf = pd.read_parquet(pages, columns=["url", "warc_ts", "text"])
    pdf = pdf.sort_values(["url", "warc_ts", "text"], ascending=[True, False, True])
    return pdf.drop_duplicates("url")["text"].tolist()


def measure_rules(tracer: Tracer, pages: str) -> dict[str, float]:
    """Score components in pure Python on one core, no Spark: each part's
    summed time over every text, and the whole UDF body on pandas batches.
    One untimed pass first fills the word memos, as a warm worker has."""
    from wtq.pipeline import score_udf
    from wtq.rules import heuristics as H
    from wtq.rules.langid import predict_lang
    from wtq.rules.perplexity import char_perplexity
    from wtq.rules.scrub import scrub_text

    texts = dedup_texts(pages)
    batches = [pd.Series(texts[i : i + ARROW_BATCH]) for i in range(0, len(texts), ARROW_BATCH)]
    body = score_udf.func
    with tracer.span("rules.warmup"):
        for b in batches:
            body(b)
    parts = dict.fromkeys(RULE_PARTS, 0.0)
    pc = time.perf_counter
    with tracer.span("rules.parts"):
        for t in texts:
            t0 = pc()
            sr = scrub_text(t)
            t1 = pc()
            tl = sr.text.lower()
            lw = tl.split()
            t2 = pc()
            predict_lang(sr.text, _lwords=lw)
            t3 = pc()
            char_perplexity(sr.text, _lwords=lw)
            t4 = pc()
            H.py_stats(sr.text, _ltext=tl)
            t5 = pc()
            parts["scrub"] += t1 - t0
            parts["lower_split"] += t2 - t1
            parts["langid"] += t3 - t2
            parts["perplexity"] += t4 - t3
            parts["py_stats"] += t5 - t4
    with tracer.span("rules.udf_body"):
        t0 = pc()
        for b in batches:
            body(b)
        udf_body = pc() - t0
    m = {f"rules.{k}_s": v for k, v in parts.items()}
    m["rules.udf_body_s"] = udf_body
    m["rules.row_assembly_s"] = udf_body - sum(parts.values())
    return m


def measure_curation(spark, tracer: Tracer, pages: str, nproc: int) -> dict[str, float]:
    """The build's two curation passes, each through the noop sink, on the
    inputs ``run_pipeline`` gives them."""
    from pyspark.sql import functions as F

    from wtq.operators.curation import source_quality_gate, strip_boilerplate_lines
    from wtq.pipeline import dedup_recrawls, salted_repartition

    raw = spark.read.parquet(pages)
    base = dedup_recrawls(
        salted_repartition(raw.select("url", "warc_ts", "text", "lang"), nproc)
    ).localCheckpoint(eager=True)
    with tracer.span("curation.strip_boilerplate"):
        _noop(strip_boilerplate_lines(base, "url", "text", carry_cols=("warc_ts", "lang")))
    with tracer.span("curation.host_gate"):
        host = F.substring_index(F.col("url"), "/", 3)
        _noop(source_quality_gate(raw.select("url", "text").withColumn("host", host), "url", "text", "host"))
    return {
        "curation.strip_boilerplate_s": tracer.dur("curation.strip_boilerplate"),
        "curation.host_gate_s": tracer.dur("curation.host_gate"),
    }


@contextmanager
def build_probe(spark):
    """Record, while active, when each ``localCheckpoint`` and parquet write
    returns and which file called it.  Patches the classes of this
    process's DataFrame and writer objects; restores them on exit."""
    df = spark.range(1)
    df_cls, writer_cls = type(df), type(df.write)
    orig_cp, orig_pq = df_cls.localCheckpoint, writer_cls.parquet
    marks: list[tuple[str, float, str]] = []

    def local_checkpoint(self, *a, **k):
        caller = sys._getframe(1).f_code.co_filename
        r = orig_cp(self, *a, **k)
        marks.append(("checkpoint", time.time(), caller))
        return r

    def parquet(self, *a, **k):
        caller = sys._getframe(1).f_code.co_filename
        r = orig_pq(self, *a, **k)
        marks.append(("write", time.time(), caller))
        return r

    df_cls.localCheckpoint, writer_cls.parquet = local_checkpoint, parquet
    try:
        yield marks
    finally:
        df_cls.localCheckpoint, writer_cls.parquet = orig_cp, orig_pq


def build_sections(tracer: Tracer, marks, start: float, end: float) -> dict[str, float]:
    """Sections of the build that ran from ``start`` to ``end``, between
    the boundaries ``wtq/build.py`` draws: its checkpoints (kept, deduped,
    clean, final), its split write and the end of the call (lineage
    counts)."""
    build_py = os.path.join("wtq", "build.py")
    marks = [(kind, t, f) for kind, t, f in marks if start <= t <= end]
    ends = [t for kind, t, f in marks if f.endswith(build_py)]
    if len(ends) != len(BUILD_SECTIONS) - 1:
        raise RuntimeError(f"expected {len(BUILD_SECTIONS) - 1} build.py boundaries, saw {len(ends)}")
    m, prev = {}, start
    for name, t in zip(BUILD_SECTIONS, ends + [end]):
        tracer.add(f"build.{name}", "build.run", prev, t)
        m[f"build.{name}_s"] = t - prev
        prev = t
    m["build.checkpoints"] = sum(
        kind == "checkpoint" and os.sep + "wtq" + os.sep in f for kind, _, f in marks
    )
    return m
