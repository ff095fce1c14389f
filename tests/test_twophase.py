"""Two-phase global ordering (plans/twophase.py): value parity against the
single-partition windows they replace, on constructed frames with ties,
negatives, strings, and skew — plus the plan property that motivates them
(no Exchange SinglePartition feeding a data-sized window)."""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from arc_maskdata_pipeline_plugin_spark.plans.twophase import (
    global_cumsums,
    global_ntile,
    global_rank,
    utf8_prefix_key,
)


def _mk(spark, n=5000, seed="tp"):
    # deterministic pseudo-random bigints with heavy duplication + skew
    return spark.range(n).select(
        F.col("id"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(seed), F.col("id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % 97
        ).alias("k"),
        (F.col("id") % 13 + 1).alias("x"),
    )


def test_global_rank_matches_window(spark):
    df = _mk(spark)
    got = global_rank(df, ["k", "id"], out="r", parts=8)
    want = df.withColumn(
        "r", F.row_number().over(Window.orderBy("k", "id")).cast("bigint")
    )
    assert got.select("id", "r").exceptAll(want.select("id", "r")).count() == 0
    assert want.select("id", "r").exceptAll(got.select("id", "r")).count() == 0


def test_global_rank_plan_has_no_single_partition_exchange(spark):
    df = _mk(spark, n=1000)
    got = global_rank(df, ["k", "id"], out="r", parts=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the data-sized frame goes through rangepartitioning, never a gather;
    # the offsets frame (<= parts rows) is the only single-partition window
    assert "rangepartitioning" in plan
    win_feeds = re.findall(
        r"Window [^\n]*\n(?:[^\n]*\n){0,4}?[^\n]*Exchange SinglePartition",
        plan,
    )
    # any such window must be the offsets cumsum over _tp_pid (bounded)
    for w in win_feeds:
        assert "_tp_pid" in w or "_tp_b" in w


def test_global_cumsums_matches_window(spark):
    df = _mk(spark).groupBy("k").agg(F.sum("x").cast("bigint").alias("w"))
    got = global_cumsums(
        df, ["k"], {"ci": ("w", "incl"), "ce": ("w", "excl")}, parts=8,
        rank_out="r",
    )
    wi = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    we = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = df.select(
        "k",
        F.sum("w").over(wi).alias("ci"),
        F.coalesce(F.sum("w").over(we), F.lit(0)).alias("ce"),
        F.row_number().over(Window.orderBy("k")).cast("bigint").alias("r"),
    )
    g = got.select("k", "ci", "ce", "r")
    assert g.exceptAll(want).count() == 0 and want.exceptAll(g).count() == 0


def test_global_cumsums_string_lead(spark):
    df = spark.createDataFrame(
        [(w, i + 1) for i, w in enumerate(
            ["apple", "ab", "a", "zebra", "éclair", "mango", "z", "", "zz"]
        )],
        "word string, n bigint",
    )
    got = global_cumsums(
        df,
        ["word"],
        {"c": ("n", "incl")},
        lead_numeric=utf8_prefix_key("word"),
        parts=4,
    )
    want = df.select(
        "word",
        F.sum("n")
        .over(Window.orderBy("word").rowsBetween(Window.unboundedPreceding, 0))
        .alias("c"),
    )
    g = got.select("word", "c")
    assert g.exceptAll(want).count() == 0 and want.exceptAll(g).count() == 0


def test_utf8_prefix_key_monotone(spark):
    words = ["", "a", "ab", "abc", "abcdefgh", "abd", "b", "zz", "éclair"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = (
        df.select("w", utf8_prefix_key("w").alias("p")).orderBy("w").collect()
    )
    ps = [r["p"] for r in rows]
    assert ps == sorted(ps)  # order-preserving (non-strict)


def test_global_ntile_matches_window(spark):
    for n, tiles in [(5000, 7), (10, 16), (13, 13), (1, 4)]:
        df = _mk(spark, n=n)
        got = global_ntile(df, ["k", "id"], tiles, out="t", parts=8)
        want = df.withColumn(
            "t", F.ntile(tiles).over(Window.orderBy("k", "id"))
        )
        g = got.select("id", "t")
        w = want.select("id", "t")
        assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def test_empty_inputs(spark):
    df = _mk(spark).filter("id < 0")
    assert global_rank(df, ["k", "id"], out="r", parts=8).count() == 0
    assert (
        global_cumsums(df, ["k"], {"c": ("x", "incl")}, parts=8).count() == 0
    )
    assert global_ntile(df, ["k", "id"], 4, out="t", parts=8).count() == 0


def test_global_cumsums_totals_follow_sums_order(spark):
    """The per-bucket totals aggregate lists its sum(...) columns in
    ``sums``' order: a set of sources would order them by PYTHONHASHSEED,
    and the plan's fingerprint would differ between two processes."""
    srcs = ["e", "b", "d", "a", "c"]
    df = _mk(spark, n=200).select(
        "k", *[(F.col("x") + i).alias(s) for i, s in enumerate(srcs)]
    )
    got = global_cumsums(
        df, ["k"], {f"c_{s}": (s, "incl") for s in srcs}, parts=4
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    totals = [ln for ln in plan.split("\n") if "HashAggregate(keys=[_tp_b#" in ln]
    assert totals
    for line in totals:
        assert re.findall(r"sum\((\w+)#", line) == srcs, line
