import pytest
from pyspark.sql import functions as F

from etl_core_spark.functions.skew import salted_join, skewness_report
from etl_core_spark.operators.base import get_operator
from etl_core_spark.plans import JobRunner, build_job


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share key 1
    large = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (950, "cold")], "k long, name string"
    )
    return large, small


def test_salted_join_matches_plain_join(skewed):
    large, small = skewed
    plain = large.join(small, on="k", how="inner")
    salted = salted_join(large, small, on="k", salt=8)
    assert sorted((r["k"], r["v"], r["name"]) for r in salted.collect()) == sorted(
        (r["k"], r["v"], r["name"]) for r in plain.collect()
    )


def test_salted_left_join_keeps_unmatched(skewed):
    large, small = skewed
    salted = salted_join(large, small, on="k", how="left", salt=4)
    plain = large.join(small, on="k", how="left")
    assert salted.count() == plain.count()
    assert salted.filter(F.col("name").isNull()).count() == plain.filter(
        F.col("name").isNull()
    ).count()


def test_salted_join_rejects_outer(skewed):
    large, small = skewed
    with pytest.raises(ValueError):
        salted_join(large, small, on="k", how="outer")


def test_skewness_report(skewed):
    large, _ = skewed
    top = skewness_report(large, "k", top=3).collect()
    assert top[0]["k"] == 1
    assert top[0]["n_rows"] == 900
    assert top[0]["share"] == pytest.approx(0.9)


def test_generate_rows_source(spark):
    df = get_operator("generate_rows")(spark=spark, n=1000).apply({})["out"]
    assert df.count() == 1000
    assert df.columns == ["id", "value", "label"]
    # distributed, not a driver-side collect
    assert df.rdd.getNumPartitions() > 1


def test_fail_once_retry_roundtrip(spark):
    job = {
        "name": "retry_roundtrip",
        "num_of_retries": 2,
        "components": [
            {
                "name": "gen", "comp_type": "generate_rows", "n": 10,
                "routes": {"out": [{"to": "sink", "in_port": "in"}]},
            },
            {"name": "sink", "comp_type": "fail_once_sink", "key": "t_retry_rt"},
        ],
    }
    result = JobRunner(build_job(spark, job)).run()
    assert result.status == "SUCCESS"
    assert result.attempts == 2


def test_fail_source_fails_job(spark):
    job = {
        "name": "failing",
        "components": [
            {
                "name": "bad", "comp_type": "fail_source",
                "routes": {"out": [{"to": "sink", "in_port": "in"}]},
            },
            {"name": "sink", "comp_type": "fail_once_sink", "key": "t_fail_src"},
        ],
    }
    with pytest.raises(RuntimeError, match="injected failure"):
        build_job(spark, job)


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's session defaults include AQE skew-join handling;
    this pins that a hot-key sort-merge join actually gets its skewed
    partition SPLIT at runtime (skew=true in the final adaptive plan)
    — the self-healing path that makes explicit salting
    (functions/skew.py) a fallback rather than a requirement."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
        # fixed width: inherited from the core count, 4 partitions
        # leave no partition large enough relative to the median to
        # count as skewed
        "spark.sql.shuffle.partitions": "32",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 4 == 0, 0)
            .otherwise(F.col("id") % 50 + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        j = left.join(right, on="k")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan  # the hot partition was split
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
