"""The rule table is the one definition of the rule battery: the Spark
expression (`fired_rules_expr`) and the scalar form (`py_fired_rules`)
both evaluate each `registry.RULES` predicate, so they must agree on
every stats row — probed here at each rule's thresholds and one
floating-point step to either side."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wtq.rules import heuristics as H
from wtq.rules import registry as R
from wtq.rules.kernel import STAT_FIELDS

NUMERIC = [*STAT_FIELDS, "ppl", "profanity_hits"]
BASE = {**dict.fromkeys(NUMERIC, 0.0), "n_words": 100.0, "lang_mismatch": False}


def _probes(rule: R.Rule) -> list[dict]:
    if not rule.thresholds:
        return [{**BASE, rule.stat: v} for v in (False, True)]
    rows = []
    for t in rule.thresholds:
        for v in (math.nextafter(t, -math.inf), float(t), math.nextafter(t, math.inf)):
            rows.append({**BASE, rule.stat: v})
            if rule.code == "Q-3":
                rows.append({**BASE, rule.stat: v, "n_words": 0.0})
    return rows


def _py(row: dict, scalar=float) -> list[str]:
    stats = {f: scalar(row[f]) for f in STAT_FIELDS}
    return H.py_fired_rules(stats, row["lang_mismatch"], scalar(row["ppl"]), scalar(row["profanity_hits"]))


def test_every_rule_flips_at_its_thresholds():
    for rule in R.RULES:
        for t in rule.thresholds:
            below = rule.fires({**BASE, rule.stat: math.nextafter(t, -math.inf)})
            above = rule.fires({**BASE, rule.stat: math.nextafter(t, math.inf)})
            assert bool(below) != bool(above), (rule.code, t)


def test_spark_and_python_rules_agree_at_thresholds(spark):
    rows = [row for rule in R.RULES for row in _probes(rule)]
    schema = T.StructType(
        [T.StructField("i", T.LongType())]
        + [T.StructField(f, T.DoubleType()) for f in NUMERIC]
        + [T.StructField("lang_mismatch", T.BooleanType())]
    )
    df = spark.createDataFrame(
        [(i, *[r[f] for f in NUMERIC], r["lang_mismatch"]) for i, r in enumerate(rows)], schema
    )
    fired = H.fired_rules_expr(
        {f: F.col(f) for f in STAT_FIELDS},
        lang_mismatch=F.col("lang_mismatch"),
        ppl=F.col("ppl"),
        profanity_hits=F.col("profanity_hits"),
    )
    got = {r.i: list(r.fired) for r in df.select("i", fired.alias("fired")).collect()}
    assert len(got) == len(rows)
    for i, row in enumerate(rows):
        assert got[i] == _py(row) == _py(row, np.float64), (i, row)
    # every rule both fires and stays silent somewhere in the probe set
    for rule in R.RULES:
        assert any(rule.code in f for f in got.values()), rule.code
        assert any(rule.code not in f for f in got.values()), rule.code
