"""Session-conf scoping: ``scoped_conf`` puts every key back as it was,
also when the body raises."""

import pytest

from tap_airbyte_wrapper_spark.confutil import scoped_conf

SET_KEY = "spark.sql.parquet.outputTimestampType"
UNSET_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def test_scoped_conf_restores_set_and_unset_keys_on_error(spark):
    def is_set(key):
        return spark._jsparkSession.conf().contains(key)

    spark.conf.set(SET_KEY, "INT96")
    spark.conf.unset(UNSET_KEY)
    assert not is_set(UNSET_KEY)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with scoped_conf(spark, {SET_KEY: "TIMESTAMP_MICROS",
                                     UNSET_KEY: "true"}):
                assert spark.conf.get(SET_KEY) == "TIMESTAMP_MICROS"
                assert spark.conf.get(UNSET_KEY) == "true"
                raise RuntimeError("boom")
        assert spark.conf.get(SET_KEY) == "INT96"
        assert not is_set(UNSET_KEY)
    finally:
        spark.conf.unset(SET_KEY)
