"""Seeded benchmark inputs.

Every table the workloads read is generated here from ``--seed`` into a
cache directory whose name carries the seed, so the same seed always
yields byte-identical parquet and two seeds never share files:

* ``write_tables`` writes the ten registry tables (TPC-H-ish star
  schema, ``events``, ``documents``, ``embeddings``) with the schemas
  and value domains TESTDATA.md and FIXTURES.md describe.  Each file is
  one row group, like those tables, so the registry's read-side
  rebalancing (``wtq.queries._t``) runs as it does on them.
* ``ensure_seeded_pages`` builds the ``pages`` table through the
  program's own ``wtq.generate.ensure_pages`` from a seed-offset copy
  of ``documents`` (``doc_id + seed * DOC_ID_STRIDE``, same ``lang``).
  ``ensure_pages`` keys its cache on ``basename(sf_dir)``, ``replicate``
  and ``GEN_VERSION`` only, so the cache root handed to it is per seed.

The program under test receives only the generated parquet paths.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# doc_id offset between seeds: page keys are doc_id * replicate + r, so a
# stride far above any row count keeps the seeds' pages disjoint
DOC_ID_STRIDE = 1_000_003

_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["widget", "bolt", "gear", "plate", "ring", "rod", "gizmo", "nut"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_EMB_DIM = 64

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, len(df)))


def _documents(rng: np.random.Generator, n: int, seed: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: its prefix + "dup"
            src = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(src[: max(5, len(src) - 3)] + ["dup"]))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(_DOC_WORDS, size=k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64) + seed * DOC_ID_STRIDE,
            "text": texts,
            "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
            "source": [f"src{j}" for j in rng.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int) -> None:
    """Write the ten registry tables at scale ``sf`` (customers = 150k·sf,
    orders = 10 per customer, lineitem = 4 per order) plus ``n_docs``
    documents and embeddings into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = 10 * n_cust, 40 * n_cust, int(1_000_000 * sf)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    d = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(
        pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
        d("region"), pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        d("nation"), pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        d("customer"),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]),
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        d("supplier"),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]),
    )
    _write(
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PTYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        d("part"),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]),
    )
    day0 = np.datetime64("1995-01-01", "us")
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
                "o_orderdate": day0 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D"),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        d("orders"),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]),
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": day0 + rng.integers(1, 2500, n_li) * np.timedelta64(1, "D"),
            }
        ),
        d("lineitem"),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]),
    )
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ) * np.timedelta64(1, "us")
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ev_ts,
                "user_id": rng.integers(0, max(15, n_cust // 10), n_ev).astype(np.int64),
                "event_type": rng.choice(_EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        d("events"),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]),
    )
    _write(
        _documents(rng, n_docs, seed),
        d("documents"),
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]),
    )
    vecs = rng.standard_normal((n_docs, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n_docs, dtype=np.int64),
                "embedding": list(vecs),
                "label": rng.integers(0, 10, n_docs).astype(np.int32),
            }
        ),
        d("embeddings"),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]),
    )


def ensure_tables(cache_root: str, seed: int, sf: float, n_docs: int) -> str:
    """Return the seeded table directory, writing it on first use."""
    out = os.path.join(cache_root, f"tables_seed{seed}_sf{sf}_d{n_docs}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        write_tables(out, seed, sf, n_docs)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def ensure_seeded_pages(cache_root: str, seed: int, n_docs: int, replicate: int) -> str:
    """Pages parquet for ``seed`` built by ``wtq.generate.ensure_pages``."""
    from wtq.generate import ensure_pages

    root = os.path.join(cache_root, f"pages_seed{seed}_d{n_docs}")
    sf_dir = os.path.join(root, "docs")
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        os.makedirs(sf_dir, exist_ok=True)
        rng = np.random.default_rng(seed + 7_919)
        docs = pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64) + seed * DOC_ID_STRIDE,
                "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
            }
        )
        tmp = os.path.join(sf_dir, "documents.parquet.tmp")
        docs.to_parquet(tmp, index=False)
        os.replace(tmp, os.path.join(sf_dir, "documents.parquet"))
    return ensure_pages(sf_dir, replicate=replicate, cache_root=os.path.join(root, "pages"))
