"""Session helpers: the pin-strategy conf is validated, and concurrent
actions run on threads that carry the caller's job group and tags."""

from __future__ import annotations

import pytest

from databricks_etl_pipelines_spark.session import (
    PIN_STRATEGY_CONF,
    invocation_pin,
    run_concurrently,
)


def test_unknown_pin_strategy_raises(spark):
    spark.conf.set(PIN_STRATEGY_CONF, "Persist")
    try:
        with pytest.raises(ValueError, match="Persist"):
            invocation_pin(spark.range(3))
    finally:
        spark.conf.unset(PIN_STRATEGY_CONF)


def test_run_concurrently_carries_job_group_and_tags(spark):
    sc = spark.sparkContext
    seen = {}

    def job(name):
        def run():
            seen[name] = (
                sc.getLocalProperty("spark.jobGroup.id"),
                set(sc.getJobTags()),
            )
            return spark.range(100).count()

        return run

    sc.setJobGroup("concurrent-probe", "run_concurrently test")
    sc.addJobTag("concurrent-tag")
    try:
        assert run_concurrently(spark, job("a"), job("b")) == [100, 100]
    finally:
        sc.removeJobTag("concurrent-tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen == {
        "a": ("concurrent-probe", {"concurrent-tag"}),
        "b": ("concurrent-probe", {"concurrent-tag"}),
    }
    # both jobs ran in the caller's group, so cancelling it reaches them
    assert len(sc.statusTracker().getJobIdsForGroup("concurrent-probe")) >= 2
