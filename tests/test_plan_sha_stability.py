"""Plan-fingerprint stability across session positions.

The SAME query planned at a different session position once rendered a
permuted plan string — RewriteDistinctAggregates assigns Expand gid numbers
and orders the expanded grouping keys from exprId-keyed set iteration, and
exprIds depend on how many expressions the session allocated before the
query. The fixtures are two REAL captures of the same queries (bench-order
vs isolated session) that hashed differently before the canonicalization;
they must canonicalize byte-identically now. Every test calls the one
normalizer, ``tools/plan_shas.py``, which ``bench.py`` imports.
"""

from __future__ import annotations

import json
import os

from tools.plan_shas import _canon_distinct_rewrite, normalize_plan_string

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "distinct_rewrite_plans.json")


def _load():
    with open(FIXTURES) as f:
        return json.load(f)


def test_session_permuted_captures_canonicalize_identically():
    d = _load()
    for q in ("kmv", "boiler"):
        ca = _canon_distinct_rewrite(d[f"{q}_pos_a"])
        cb = _canon_distinct_rewrite(d[f"{q}_pos_b"])
        assert ca == cb, f"{q}: canonical forms differ"
        # and they genuinely differed pre-canonicalization (fixture sanity)
        assert d[f"{q}_pos_a"] != d[f"{q}_pos_b"]


def test_gid_literal_and_in_list_normalization():
    s = "HashAggregate(keys=[b#x, a#x], functions=[count(x#x) FILTER (WHERE (gid#x = 2))])"
    t = "HashAggregate(keys=[a#x, b#x], functions=[count(x#x) FILTER (WHERE (gid#x = 1))])"
    assert _canon_distinct_rewrite(s) == _canon_distinct_rewrite(t)
    # IN-list sets hash identically regardless of splat order
    a = normalize_plan_string("Filter tok#12 IN (b,a,c)")
    assert a == normalize_plan_string("Filter tok#7 IN (c,a,b)")
    assert a != normalize_plan_string("Filter tok#7 IN (c,a,d)")


def test_expand_sublists_canonical_independent_of_slot_order():
    a = "+- Expand [[user_id#xL, null, 1], [null, day#x, 2]], [user_id#xL, day#x, gid#x]"
    b = "+- Expand [[day#x, null, 1], [null, user_id#xL, 2]], [day#x, user_id#xL, gid#x]"
    assert _canon_distinct_rewrite(a) == _canon_distinct_rewrite(b)
    # different expression SETS must still differ
    c = "+- Expand [[other#x, null, 1], [null, day#x, 2]], [other#x, day#x, gid#x]"
    assert _canon_distinct_rewrite(a) != _canon_distinct_rewrite(c)


def test_non_gid_integer_literals_stay_visible_in_expand():
    """Only the gid SLOT (located from the gid#x / spark_grouping_id#x
    column of the output-attr list) is rewritten to 'n'; a genuine integer
    literal elsewhere in an Expand branch must survive canonicalization so
    a changed constant still reads as a plan change in the >1.3x
    adjudication."""
    a = "+- Expand [[user_id#xL, 7, 1], [null, 7, 2]], [user_id#xL, lit#x, gid#x]"
    b = "+- Expand [[user_id#xL, 9, 1], [null, 9, 2]], [user_id#xL, lit#x, gid#x]"
    ca, cb = _canon_distinct_rewrite(a), _canon_distinct_rewrite(b)
    assert ca != cb  # changed constant is a REAL plan change
    assert "7" in ca and "9" in cb
    # while the gid slot itself still canonicalizes away
    g1 = "+- Expand [[user_id#xL, 7, 1]], [user_id#xL, lit#x, gid#x]"
    g2 = "+- Expand [[user_id#xL, 7, 2]], [user_id#xL, lit#x, gid#x]"
    assert _canon_distinct_rewrite(g1) == _canon_distinct_rewrite(g2)


def test_aqe_stage_and_codegen_ids_normalized():
    """AQE materializes query stages in timing-dependent order at sf0.1, so
    ShuffleQueryStage/codegen ids permute between two same-commit bench
    runs inside a cached frame's finalized plan (q_dedup_evidence_clusters
    — the one residual flip after the distinct-rewrite fix). The fixture
    pairs are REAL differing lines from the two captures; each pair must
    normalize identically."""
    p = os.path.join(os.path.dirname(__file__), "fixtures", "aqe_stage_noise_plans.json")
    with open(p) as f:
        pairs = json.load(f)["line_pairs"]
    assert pairs, "fixture must carry at least one differing line pair"
    for x, y in pairs:
        assert x != y  # fixture sanity: they really differed raw
        assert normalize_plan_string(x) == normalize_plan_string(y), (x, y)


def test_checkpoint_rdd_id_and_callsite_normalized():
    """A localCheckpoint leaf prints its RDD id and the Python call site of
    the action that built it; both are session noise."""
    a = "Scan ExistingRDD[id#3L] MapPartitionsRDD[123] at toPandas at /x/y.py:45"
    b = "Scan ExistingRDD[id#9L] MapPartitionsRDD[7] at count at /other/z.py:312"
    assert normalize_plan_string(a) == normalize_plan_string(b)
    assert normalize_plan_string(a) == (
        "Scan ExistingRDD[id#xL] MapPartitionsRDD[n] at action at callsite"
    )
