"""Focused pins for the round-13 optimization internals.

Three contracts the r13 changes introduced, each cheap enough to run
at sf0.001:

* the k-means fit is now DRIVER-REPRESENTED: `fit_centroids` returns
  plain Python (cid, centroid) tuples — exact int64s, K rows max —
  and the session memo holds no Spark-side storage (the clear hook
  just drops the entry);
* the working frames of minhash_calibration and dup_span_fraction are
  HELD in the session registry when their owner query builds, and
  `clear_session_memos` both releases and forgets them — the
  bench-honesty contract that lets both sit in MEMO_OWNERS;
* both owners ARE in MEMO_OWNERS, so bench.py's min-of-two re-run
  clears them before re-measuring.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_fit_centroids_is_bounded_driver_side_ints(spark):
    from psx_data_pipeline_spark import session
    from psx_data_pipeline_spark.plans.clustering import (
        _DIM,
        _K,
        fit_centroids,
    )

    cents = fit_centroids(spark, SF_SMOKE)
    assert 0 < len(cents) <= _K
    for cid, c in cents:
        assert isinstance(cid, int)
        assert len(c) == _DIM
        assert all(isinstance(v, int) for v in c)
    # the memo holds the SAME plain-Python value — kilobytes, nothing
    # persisted Spark-side, so the clear hook's entry drop suffices
    key = ("centroids", spark.sparkContext.applicationId, SF_SMOKE)
    assert session._MEMOS[key] is cents


def test_r13_session_caches_register_and_clear(spark):
    from psx_data_pipeline_spark import session
    from psx_data_pipeline_spark.plans import (
        MEMO_OWNERS,
        QUERIES,
        clear_session_memos,
    )

    assert "minhash_calibration" in MEMO_OWNERS
    assert "dup_span_fraction" in MEMO_OWNERS

    clear_session_memos()
    QUERIES["minhash_calibration"](spark, SF_SMOKE).write.format(
        "noop"
    ).mode("overwrite").save()
    calib = list(session._HELD)
    QUERIES["dup_span_fraction"](spark, SF_SMOKE).write.format(
        "noop"
    ).mode("overwrite").save()
    span = session._HELD[len(calib):]
    assert calib, "calibration working frames must register"
    assert span, "dup_span dup-bounded tables must register"
    cached = [df for df in calib + span if df.is_cached]
    assert cached
    clear_session_memos()
    assert not session._HELD
    # unpersisted, not just forgotten: a re-built identical plan must
    # not silently reuse the old materialized partitions
    assert all(not df.is_cached for df in cached)
