"""The benchmark's workloads, ``filter`` and ``build``, and the registry
sweep the traced run measures per query.  Each prepares its seeded
inputs and expected outputs before Spark starts (``prepare``), runs once
per call to ``execute`` (the only timed part) and checks what that run
wrote (``check``)."""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq

from perfbench import checks
from perfbench.inputs import ensure_seeded_pages, ensure_tables

# Input sizes.  "full" is what the benchmark measures: pages from 500
# seed-offset documents x 8 replicas (plus the generator's re-crawl,
# near-dup and paragraph companions, ~4.5k pages) and registry tables at
# 1/100 of the sf1 shape.  "small" is the self-test's sf0.001-sized copy.
SIZES = {
    "full": {"n_docs": 500, "replicate": 8, "table_sf": 0.01, "table_docs": 500},
    "small": {"n_docs": 60, "replicate": 8, "table_sf": 0.001, "table_docs": 500},
}

# Registry queries the traced run sweeps, one ``op.<query>_s`` each.  None
# calls run_pipeline, decide or score_udf.  The sweep keeps one or two
# queries per mechanism the operators layer is measured for: shuffled
# joins planned under the session's preferSortMergeJoin=false (an anti
# join and a self join), windows repartitioned by their key, fixed
# per-job latency (k-means rounds, connected components) and the
# decontamination operator the build shares.  The full registry costs
# about 30 s per warm sweep here.
#
# region_revenue and cust_supp_nation_matrix, the two SHUFFLE_HASH-hinted
# joins, are left out: on these generated tables they disagree with their
# DuckDB oracle on most seeds.  Each rounds a decimal sum cast to double
# to two places, and Spark and DuckDB round a half-way value such as
# 4958901.225 differently.  They belong back in the sweep once that is
# fixed.
OPERATOR_QUERIES = [
    "customers_without_orders",
    "supplier_pairs_per_nation",
    "top_customer_per_nation",
    "latest_event_per_user",
    "ann_ivf_topk",
    "dedup_clusters",
    "decontaminate",
]


class Workload:
    """``size`` is a ``SIZES`` entry.  With ``corrupt`` set, every check
    compares a copy of the output with one deliberate error in it, so the
    self-test can show the checks fail when the output is wrong."""

    name = ""

    def __init__(self, size: dict, corrupt: bool = False) -> None:
        self.size, self.corrupt = size, corrupt

    def _pages(self, cache_root: str, seed: int) -> None:
        self.pages = ensure_seeded_pages(
            cache_root, seed, self.size["n_docs"], self.size["replicate"]
        )
        self.n_input = pq.ParquetFile(self.pages).metadata.num_rows


class Filter(Workload):
    """Flagless ``run_pipeline`` writing the four sinks ``bench.py`` writes."""

    name = "filter"
    # Untimed runs after the cold run.  Run times keep falling for several
    # runs while the JVM compiles the engine and the Python workers fill
    # their word memos (filter: 2.7 s on the first warm run, ~2.0 s from
    # the seventh), and how fast they fall differs between processes.
    warmup_runs = 4
    # seconds one warmed-up run takes on a 4-core host; sets how many
    # timed runs make up --seconds
    nominal_s = 2.2

    def prepare(self, cache_root: str, seed: int) -> None:
        self._pages(cache_root, seed)
        self.expected = checks.oracle_filter_digest(os.path.dirname(self.pages), self.pages)

    def execute(self, spark, out: str, nproc: int) -> None:
        from wtq.pipeline import decisions_view, metrics_view, run_pipeline, scrubbed_view

        res = run_pipeline(spark, self.pages, num_partitions=nproc)
        res.decided.write.mode("overwrite").parquet(f"{out}/decided")
        decided = spark.read.parquet(f"{out}/decided")
        decisions_view(decided).write.mode("overwrite").parquet(f"{out}/decisions")
        scrubbed_view(decided).write.mode("overwrite").parquet(f"{out}/scrubbed")
        metrics_view(decided).write.mode("overwrite").parquet(f"{out}/metrics")

    def check(self, out: str) -> list[str]:
        outputs = checks.read_filter_outputs(out)
        if self.corrupt:
            outputs["decisions"].loc[0, "keep"] = not outputs["decisions"].loc[0, "keep"]
        return checks.check_filter(outputs, self.expected)


class Build(Workload):
    """``build_training_set`` with its defaults on the filter's pages."""

    name = "build"
    # Untimed runs after the cold run.  The second and third runs after the
    # cold one can still be 15-25% slower than later ones (7.0, 6.1 then
    # 5.5 s), and on a contended host the process medians of three timed
    # runs after a single warm-up spread by 0.26.
    warmup_runs = 2
    nominal_s = 7.0

    def prepare(self, cache_root: str, seed: int) -> None:
        self._pages(cache_root, seed)
        # split membership of this seed's first build, in any process
        self.digest_path = os.path.join(os.path.dirname(self.pages), "build_split_digest.json")
        self.expected = None
        if os.path.exists(self.digest_path):
            with open(self.digest_path) as f:
                self.expected = json.load(f)["digest"]

    def execute(self, spark, out: str, nproc: int) -> None:
        from wtq.build import build_training_set

        del nproc  # the build sizes itself from the session's parallelism
        res = build_training_set(spark, self.pages, f"{out}/corpus")
        self.lineage = {r.stage: r.n_docs for r in res.lineage.collect()}

    def check(self, out: str) -> list[str]:
        rows = checks.split_rows(f"{out}/corpus")
        if self.corrupt:
            rows = rows[1:]
        problems, digest = checks.check_build(self.lineage, rows, self.expected)
        if self.expected is None and not problems:
            self.expected = digest
            checks.write_json(self.digest_path, {"digest": digest})
        return problems


class Operators(Workload):
    """The ``OPERATOR_QUERIES`` sweep, each query written to the noop sink.

    A process's first sweep collects every result instead and compares it
    with DuckDB; later sweeps only have to finish."""

    name = "operators"

    def prepare(self, cache_root: str, seed: int) -> None:
        self.tables = ensure_tables(
            cache_root, seed, self.size["table_sf"], self.size["table_docs"]
        )
        self.expected = checks.duckdb_expected(self.tables, OPERATOR_QUERIES)
        self.results: dict = {}
        self.query_s: dict[str, float] = {}
        self.sweeps = 0

    def execute(self, spark, out: str, nproc: int) -> None:
        from wtq.queries import QUERIES

        del out, nproc
        self.sweeps += 1
        for q in OPERATOR_QUERIES:
            t0 = time.perf_counter()
            df = QUERIES[q](spark, self.tables)
            if self.sweeps == 1:
                self.results[q] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            self.query_s[q] = time.perf_counter() - t0

    def check(self, out: str) -> list[str]:
        del out
        if self.sweeps != 1:
            return []
        return [
            f"{q}: {p}" for q in OPERATOR_QUERIES
            for p in checks.check_query(self.results[q], self.expected[q])
        ]


WORKLOADS = {w.name: w for w in (Filter, Build)}
