"""Session-shared materialized frames (queries/_util.py::shared): identity
reuse, cache healing after an external clearCache (the optimizer-barrier
regression that OOMed Catalyst), and cross-consumer consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from profitscout_engine_spark.queries import _util, load_registry
from profitscout_engine_spark.queries._util import shared, shared_value

REGISTRY = load_registry()


def _live(df) -> bool:
    # is_cached is unreliable after clearCache in Spark 4.1 (stays True);
    # storageLevel reflects the actual cache-manager state.
    sl = df.storageLevel
    return bool(sl.useMemory or sl.useDisk)


def test_shared_returns_same_frame_and_persists(spark, sf_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("y"))

    a = shared(spark, sf_dir, "test_frame_idem", build)
    b = shared(spark, sf_dir, "test_frame_idem", build)
    assert a is b  # one build, one cached object
    assert len(calls) == 1
    assert _live(a)


def test_shared_heals_after_clear_cache(spark, sf_dir):
    """clearCache drops the cache entry; the next shared() access must
    re-persist (the persist is the optimizer barrier for wide scalar
    layouts — losing it silently is the Catalyst-OOM failure mode)."""
    df = shared(
        spark, sf_dir, "test_frame_heal", lambda: spark.range(5).select("id")
    )
    assert _live(df)
    spark.catalog.clearCache()
    assert not _live(df)
    df2 = shared(
        spark, sf_dir, "test_frame_heal", lambda: spark.range(99).select("id")
    )
    assert df2 is df  # same frame, NOT rebuilt from the (changed) builder
    assert _live(df2)  # re-persisted
    assert df2.count() == 5


@pytest.fixture()
def empty_memos(monkeypatch):
    """Fresh memo dicts for the test, so resets and evictions here leave
    the session's real shared frames alone."""
    for name in ("_SHARED", "_SHARED_VALS", "SHARED_BUILD_SECONDS"):
        monkeypatch.setattr(_util, name, {})


def test_reset_shared_clears_build_seconds(spark, sf_dir, empty_memos):
    shared(spark, sf_dir, "test_frame_reset", lambda: spark.range(3).select("id"))
    shared_value(spark, sf_dir, "test_value_reset", lambda: 3)
    assert "test_frame_reset" in _util.SHARED_BUILD_SECONDS
    _util.reset_shared()
    assert _util.SHARED_BUILD_SECONDS == {}
    assert _util._SHARED == {} and _util._SHARED_VALS == {}


def test_stale_session_entries_evicted_from_both_memos(spark, sf_dir, empty_memos):
    """Either memo's access evicts the other sessions' frames AND values."""
    _util._SHARED[("dead-app", sf_dir, "f")] = spark.range(1)
    _util._SHARED_VALS[("dead-app", sf_dir, "v")] = 1
    assert shared_value(spark, sf_dir, "test_value_live", lambda: 7) == 7
    assert [k[0] for k in _util._SHARED] == []
    assert [k[0] for k in _util._SHARED_VALS] == [spark.sparkContext.applicationId]


def test_dedup_queries_consistent_after_clear_cache(spark, sf_dir):
    """End-to-end: clearing every cache between two runs of a
    shared-frame consumer must not change its result."""
    fn = REGISTRY["neardup_components"].fn
    before = sorted(map(tuple, fn(spark, sf_dir).collect()))
    spark.catalog.clearCache()
    after = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert before == after
