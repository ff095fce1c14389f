"""Tracked-persist hygiene (VERDICT r05 next-round #6).

Queries that ``persist()`` an internal fragment cannot unpersist before
returning (the caller's action runs later), so they route the persist
through ``cache.persisted`` and a library caller releases everything with
``cache.release_persisted()``. These tests pin the contract: persisting
queries register their frames, release drops them from the session cache,
and release is idempotent.
"""

from pyspark.sql import functions as F

from arc_maskdata_pipeline_plugin_spark.cache import (
    _PERSISTED,
    persisted,
    release_persisted,
)


def test_persisted_tracks_and_release_unpersists(spark):
    release_persisted()  # start clean (autouse fixture runs after, not before)
    # judge THIS frame's storage level, not getPersistentRDDs() counts:
    # localCheckpoint RDDs from earlier tests linger there (cleared neither
    # by catalog.clearCache() nor release_persisted()) and the
    # ContextCleaner reclaims them asynchronously, so global counts are
    # order- and timing-dependent
    df = persisted(spark.range(10).select(F.col("id") * 2))
    assert len(_PERSISTED) == 1
    assert df.count() == 10  # materialize the cache
    assert df.storageLevel.useMemory  # actually persisted
    assert release_persisted() == 1
    assert not _PERSISTED
    assert not df.storageLevel.useMemory  # actually unpersisted
    # idempotent: nothing left to release
    assert release_persisted() == 0


def test_query_persists_are_tracked_and_releasable(spark, tmp_path):
    """A real registry query that persists internally (RFM's range frame and
    the daily-activity frame in behavior.py) leaves ZERO pinned frames after
    release_persisted()."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 10, 0, tzinfo=datetime.timezone.utc)
    rows = [
        (i, t0 + datetime.timedelta(hours=i), i % 7, "purchase", 5.0, "{}")
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from arc_maskdata_pipeline_plugin_spark.plans.behavior import (
        q_rfm_segments,
    )

    release_persisted()
    assert q_rfm_segments(spark, str(tmp_path)).count() > 0
    frames = list(_PERSISTED)
    assert frames  # the query registered its internal persists
    assert any(f.storageLevel.useMemory for f in frames)
    release_persisted()
    assert not _PERSISTED
    assert all(not f.storageLevel.useMemory for f in frames)


def test_plan_sha_is_session_position_independent(spark):
    """plan_sha must hash the SAME plan identically whether the
    session is fresh or has run other queries first — exprId digit-width
    interacting with FileScan's metadata truncation once leaked session
    position into the fingerprint and spuriously adjudicated unchanged
    plans as 'plan-changed'."""
    import sys
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from tools.plan_shas import plan_sha

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    before = plan_sha(qs["q3_shipping_priority"](spark, sf))
    qs["q1_pricing_summary"](spark, sf).count()  # burn exprIds
    after = plan_sha(qs["q3_shipping_priority"](spark, sf))
    assert before == after
    # higher-order-function lambdas carry session-monotonic variable
    # suffixes (x_3 -> x_7); shingle-heavy queries must normalize too
    b2 = plan_sha(qs["dedup_jaccard_pairs"](spark, sf))
    qs["q_word_counts"](spark, sf).count()  # burn more ids
    a2 = plan_sha(qs["dedup_jaccard_pairs"](spark, sf))
    assert b2 == a2
