"""The session contract: SPARK_GRAFT_CPUS is validated where it is read,
and every registered query tunes the session it is handed, also when
the query function is imported and called directly."""

from __future__ import annotations

import pytest

from cometbft_log_etl_spark.session import default_parallelism, tune_session


@pytest.mark.parametrize("raw", ["abc", "0", "-2"])
def test_default_parallelism_rejects_non_positive_integers(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_CPUS.*'{raw}'"):
        default_parallelism()


def test_default_parallelism_defaults_to_32(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == 32


def test_direct_query_call_tunes_the_session(spark, sf_dir):
    """No catalog(): the module-level name must be the registry's
    wrapper, which resets the session before building the plan. Only the
    plan is built; no action runs."""
    from cometbft_log_etl_spark.queries.events_analytics import q23_sessionization

    spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        q23_sessionization(spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(default_parallelism())
    finally:
        tune_session(spark)
