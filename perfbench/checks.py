"""Output checks, each independent of the Spark code path it checks.

* ``filter``: an order-independent digest of (url, keep, fired_rules,
  text_sha256) over the written sinks must equal the same digest of
  ``oracle.oracle.oracle_decide`` on the same pages, and the metrics sink
  must conserve documents.
* ``build``: the lineage conservation ``bench.py`` asserts, and a digest
  of the written (split, url) membership that must repeat exactly across
  runs of one seed.
* ``operators``: each query's rows equal DuckDB's ``ORACLE_SQL`` result,
  normalised as ``tests/test_queries_oracle.py`` normalises them.

Every check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench.inputs import TABLES


def _digest(rows) -> str:
    """Sum of per-row 64-bit hashes mod 2**64 plus the row count: equal for
    equal multisets of rows, whatever their order."""
    total, n = 0, 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join(r).encode("utf-8"), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def decision_rows(urls, keeps, fired, shas) -> list[tuple[str, ...]]:
    """Rows of the filter digest; ``shas`` maps kept urls to text_sha256."""
    return [
        (u, "1" if k else "0", ",".join(f), shas.get(u, "") if k else "")
        for u, k, f in zip(urls, keeps, fired)
    ]


def oracle_filter_digest(cache_dir: str, pages_path: str) -> str:
    """Digest of the pandas oracle's decisions, computed once per seed."""
    path = os.path.join(cache_dir, "oracle_filter.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["digest"]
    from oracle.oracle import oracle_decide

    o = oracle_decide(pd.read_parquet(pages_path, columns=["url", "warc_ts", "text", "lang"]))
    shas = dict(zip(o["url"], o["text_sha256"]))
    digest = _digest(decision_rows(o["url"], o["keep"], o["fired_rules"], shas))
    write_json(path, {"digest": digest})
    return digest


def write_json(path: str, obj) -> None:
    """Write atomically, so a process killed mid-write leaves no partial
    cache entry for a later run of the same seed to trust."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def read_filter_outputs(out_dir: str) -> dict[str, pd.DataFrame]:
    return {
        name: pq.read_table(os.path.join(out_dir, name)).to_pandas()
        for name in ("decisions", "scrubbed", "metrics")
    }


def check_filter(outputs: dict[str, pd.DataFrame], expected_digest: str) -> list[str]:
    dec, scr, met = outputs["decisions"], outputs["scrubbed"], outputs["metrics"]
    problems = []
    shas = dict(zip(scr["url"], scr["text_sha256"]))
    got = _digest(
        decision_rows(dec["url"], dec["keep"], [list(f) for f in dec["fired_rules"]], shas)
    )
    if got != expected_digest:
        problems.append(f"decision digest {got} != oracle {expected_digest}")
    bad_sha = [
        u for u, t, s in zip(scr["url"], scr["text"], scr["text_sha256"])
        if hashlib.sha256(t.encode("utf-8")).hexdigest() != s
    ]
    if bad_sha:
        problems.append(f"{len(bad_sha)} scrubbed rows whose sha256 does not match the text")
    n_in, n_keep, n_drop = (int(met[c].sum()) for c in ("n_input", "n_keep", "n_drop"))
    if n_in != len(dec) or n_keep + n_drop != n_in or n_keep != int(dec["keep"].sum()):
        problems.append(f"metrics sink does not conserve docs: {n_in} {n_keep} {n_drop} vs {len(dec)}")
    return problems


def check_lineage(lineage: dict[str, int]) -> list[str]:
    """The conservation ``bench.py`` asserts on every build."""
    problems = []
    doc_stages = [k for k in sorted(lineage) if not k.startswith("6")]
    for a, b in zip(doc_stages, doc_stages[1:]):
        if b != "50_written" and lineage[a] < lineage[b]:
            problems.append(f"lineage grows from {a}={lineage[a]} to {b}={lineage[b]}")
    if not lineage.get("50_written") == lineage.get("40_after_budget", -1) > 0:
        problems.append(f"written != after_budget or empty: {lineage}")
    return problems


def split_rows(corpus_dir: str) -> list[tuple[str, str]]:
    """(split, url) of every written row."""
    t = ds.dataset(corpus_dir, format="parquet", partitioning="hive").to_table(
        columns=["split", "url"]
    )
    return list(zip(t.column("split").to_pylist(), t.column("url").to_pylist()))


def check_build(
    lineage: dict[str, int], rows: list[tuple[str, str]], expected: str | None
) -> tuple[list[str], str]:
    """Returns (problems, digest of the split membership ``rows``)."""
    problems = check_lineage(lineage)
    digest = _digest(rows)
    if len(rows) != lineage.get("50_written"):
        problems.append(f"{len(rows)} rows on disk, lineage says {lineage.get('50_written')}")
    if expected is not None and digest != expected:
        problems.append(f"split membership {digest} differs from the first run's {expected}")
    return problems, digest


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """``tests/test_queries_oracle.py``'s normalisation."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype(bool)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def duckdb_expected(table_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    import duckdb

    from wtq.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        return {n: normalize(con.execute(ORACLE_SQL[n]).fetchdf()) for n in names}
    finally:
        con.close()


def check_query(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    got = normalize(got)
    if list(got.columns) != list(expected.columns):
        return [f"columns {list(got.columns)} != {list(expected.columns)}"]
    if len(got) != len(expected):
        return [f"row count {len(got)} != {len(expected)}"]
    try:
        pd.testing.assert_frame_equal(got, expected, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [f"values differ: {str(e).splitlines()[0]}"]
    return []
