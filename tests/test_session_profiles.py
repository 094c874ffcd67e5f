"""Round-12 session-profile helpers: the streaming replay child scales
its state-store width with cores (env-overridable), the trainer child
is an AQE-off sibling, and both are memoized per application so
repeated query builds never accumulate session state."""

from __future__ import annotations

import os

import pytest

import substreams_sink_clickhouse_spark.session as S


def test_stream_session_width_defaults_to_cores(spark):
    S._STREAM_SESSIONS.clear()
    old = os.environ.pop("SPARK_GRAFT_STREAM_SHUFFLE", None)
    try:
        ss = S.stream_session(spark)
        assert ss is not spark
        assert ss.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism
        )
        # memoized: the same child serves every build in the app
        assert S.stream_session(spark) is ss
    finally:
        if old is not None:
            os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = old
        S._STREAM_SESSIONS.clear()


def test_stream_session_width_env_override(spark):
    S._STREAM_SESSIONS.clear()
    old = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = "6"
    try:
        ss = S.stream_session(spark)
        assert ss.conf.get("spark.sql.shuffle.partitions") == "6"
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_STREAM_SHUFFLE"]
        else:
            os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = old
        S._STREAM_SESSIONS.clear()


def test_stream_session_width_env_fails_loudly_and_keys_memo(spark):
    """A bad $SPARK_GRAFT_STREAM_SHUFFLE names the variable; a changed
    width gets its own child instead of the memoized one."""
    S._STREAM_SESSIONS.clear()
    old = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    try:
        for bad in ("wide", "0", "-2"):
            os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = bad
            with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_SHUFFLE"):
                S.stream_session(spark)
        os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = "6"
        six = S.stream_session(spark)
        os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = "3"
        three = S.stream_session(spark)
        assert three is not six
        assert three.conf.get("spark.sql.shuffle.partitions") == "3"
        os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = "6"
        assert S.stream_session(spark) is six
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_STREAM_SHUFFLE", None)
        else:
            os.environ["SPARK_GRAFT_STREAM_SHUFFLE"] = old
        S._STREAM_SESSIONS.clear()


def test_iterate_session_is_memoized_aqe_off_child(spark):
    it = S.iterate_session(spark)
    assert it is not spark
    assert it.conf.get("spark.sql.adaptive.enabled") == "false"
    assert S.iterate_session(spark) is it
    # the parent's conf is untouched
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
