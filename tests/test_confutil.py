"""Session-conf scoping: ``scoped_conf`` puts every key back as it was,
also when the body raises, and blocks on several threads share or wait
for a key instead of undoing each other's settings."""

import threading
import time

import pytest

from tap_airbyte_wrapper_spark.confutil import scoped_conf

SET_KEY = "spark.sql.parquet.outputTimestampType"
UNSET_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def _is_set(spark, key):
    return spark._jsparkSession.conf().contains(key)


def test_scoped_conf_restores_set_and_unset_keys_on_error(spark):
    spark.conf.set(SET_KEY, "INT96")
    spark.conf.unset(UNSET_KEY)
    assert not _is_set(spark, UNSET_KEY)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with scoped_conf(spark, {SET_KEY: "TIMESTAMP_MICROS",
                                     UNSET_KEY: "true"}):
                assert spark.conf.get(SET_KEY) == "TIMESTAMP_MICROS"
                assert spark.conf.get(UNSET_KEY) == "true"
                raise RuntimeError("boom")
        assert spark.conf.get(SET_KEY) == "INT96"
        assert not _is_set(spark, UNSET_KEY)
    finally:
        spark.conf.unset(SET_KEY)


def _start(*targets):
    threads = [threading.Thread(target=t, daemon=True) for t in targets]
    for t in threads:
        t.start()
    return threads


def _join(threads):
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)


def test_scoped_conf_threads_share_a_key_until_the_last_exits(spark):
    """Two threads set the same key to the same value; the first to
    enter exits first.  The key stays set for the other thread until it
    exits too, and then goes back to unset."""
    spark.conf.unset(UNSET_KEY)
    first_in = threading.Barrier(2, timeout=30)
    second_in = threading.Barrier(2, timeout=30)
    first_out = threading.Event()
    seen = []

    def first():
        with scoped_conf(spark, {UNSET_KEY: "true"}):
            first_in.wait()
            second_in.wait()
        first_out.set()

    def second():
        first_in.wait()
        with scoped_conf(spark, {UNSET_KEY: "true"}):
            second_in.wait()
            assert first_out.wait(timeout=30)
            seen.append(spark.conf.get(UNSET_KEY, None))

    _join(_start(first, second))
    assert seen == ["true"]
    assert not _is_set(spark, UNSET_KEY)


def test_scoped_conf_waits_for_a_held_key_and_takes_all_keys_at_once(spark):
    """A block that needs another value for a held key waits for it, and
    takes none of its keys while it waits."""
    spark.conf.unset(SET_KEY)
    spark.conf.unset(UNSET_KEY)
    held, release = threading.Event(), threading.Event()
    seen = []

    def holder():
        with scoped_conf(spark, {SET_KEY: "INT96"}):
            held.set()
            assert release.wait(timeout=30)

    def waiter():
        assert held.wait(timeout=30)
        with scoped_conf(spark, {UNSET_KEY: "true",
                                 SET_KEY: "TIMESTAMP_MICROS"}):
            seen.append((spark.conf.get(SET_KEY),
                         spark.conf.get(UNSET_KEY)))

    threads = _start(holder, waiter)
    try:
        assert held.wait(timeout=30)
        time.sleep(0.5)
        assert seen == []
        assert spark.conf.get(SET_KEY) == "INT96"
        assert not _is_set(spark, UNSET_KEY)
    finally:
        release.set()
    _join(threads)
    assert seen == [("TIMESTAMP_MICROS", "true")]
    assert not _is_set(spark, SET_KEY) and not _is_set(spark, UNSET_KEY)


def test_scoped_conf_nested_clash_on_one_thread_raises(spark):
    with scoped_conf(spark, {SET_KEY: "INT96"}):
        with pytest.raises(RuntimeError, match="two values"):
            with scoped_conf(spark, {SET_KEY: "TIMESTAMP_MICROS"}):
                pass
        assert spark.conf.get(SET_KEY) == "INT96"
        with scoped_conf(spark, {SET_KEY: "INT96"}):
            pass
        assert spark.conf.get(SET_KEY) == "INT96"
    assert not _is_set(spark, SET_KEY)
