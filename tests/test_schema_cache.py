"""The inferred-schema cache of file sources (sources/base_io.py): a
re-build of an unchanged source runs no schema-inference Spark job,
and any change to the listed files, the reader options or the
inference confs reads as an uncached read does, errors included."""

import json
import os
import shutil
import sys
import threading
import uuid

import pytest
from pyspark.errors import AnalysisException

from etl_core_spark.operators.base import get_operator
from etl_core_spark.plans.builder import build_job
from etl_core_spark.sources.base_io import inferred_schemas, listed_files


def _job(comp_type: str, path, out) -> dict:
    return {
        "name": f"schema_cache_{comp_type}",
        "components": [
            {
                "name": "read", "comp_type": comp_type, "filepath": str(path),
                "routes": {"out": [{"to": "sink", "in_port": "in"}]},
            },
            {"name": "sink", "comp_type": "write_json", "filepath": str(out)},
        ],
    }


def _read(spark, comp_type, path, out):
    """Build the ``_job`` of ``comp_type``: the sink's input frame and
    the number of Spark jobs building launched."""
    sc = spark.sparkContext
    group = f"schema_cache_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache probe")
    try:
        builder = build_job(spark, _job(comp_type, path, out))
    finally:
        sc.setJobGroup(None, None)
    # job-start events reach the status tracker through the listener
    # bus; drain it so a lagging event cannot read as "no job"
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return builder.sink_inputs["sink"], len(sc.statusTracker().getJobIdsForGroup(group))


def _write_source(spark, comp_type, path):
    if comp_type == "read_csv":
        path.write_text("id,name\n1,a\n2,b\n")
    elif comp_type == "read_json":
        path.write_text('{"id": 1, "tags": ["x"]}\n{"id": 2, "tags": []}\n')
    else:
        writer = spark.createDataFrame(
            [(1, "a", 1.5, 7), (2, None, None, None)],
            "id long, name string, v double, k int",
        ).write
        if path.name.startswith("partitioned"):
            writer = writer.partitionBy("k")
        writer.format(comp_type.removeprefix("read_")).save(str(path))


@pytest.mark.parametrize(
    "comp_type, name, fmt, options, inference_jobs",
    [
        ("read_csv", "t.csv", "csv", {"header": True}, True),
        ("read_json", "t.ndjson", "json", {}, True),
        ("read_parquet", "t.parquet", "parquet", {}, True),
        ("read_parquet", "partitioned.parquet", "parquet", {}, True),
        # ORC reads a small file set's footers on the driver, no job
        ("read_orc", "t.orc", "orc", {}, False),
    ],
)
def test_second_build_runs_no_spark_job(
    spark, tmp_path, comp_type, name, fmt, options, inference_jobs
):
    path = tmp_path / name
    _write_source(spark, comp_type, path)
    first, first_jobs = _read(spark, comp_type, path, tmp_path / "out")
    second, second_jobs = _read(spark, comp_type, path, tmp_path / "out")
    assert (first_jobs >= 1) == inference_jobs  # and the count sees them
    assert second_jobs == 0
    inferred = spark.read.format(fmt).options(**options).load(str(path)).schema
    assert first.schema == inferred
    assert second.schema == inferred  # nullability included
    assert sorted(second.collect()) == sorted(first.collect())


def test_csv_rewrite_with_new_header_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.csv"
    path.write_text("a,b\n1,2\n")
    _read(spark, "read_csv", path, tmp_path / "out")
    _read(spark, "read_csv", path, tmp_path / "out")
    # same length: only the modification time tells the versions apart
    mtime = os.stat(path).st_mtime_ns
    path.write_text("x,y\n1,2\n")
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    df, jobs = _read(spark, "read_csv", path, tmp_path / "out")
    assert jobs >= 1
    assert df.columns == ["x", "y"]


def test_parquet_overwrite_with_new_schema_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_source(spark, "read_parquet", path)
    _read(spark, "read_parquet", path, tmp_path / "out")
    spark.createDataFrame([("k", 7)], "key string, n int").write.mode(
        "overwrite"
    ).parquet(str(path))
    df, _ = _read(spark, "read_parquet", path, tmp_path / "out")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("key", "string"), ("n", "int"),
    ]
    assert [tuple(r) for r in df.collect()] == [("k", 7)]


def test_json_rewrite_with_extra_field_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.ndjson"
    path.write_text(json.dumps({"id": 1}) + "\n")
    _read(spark, "read_json", path, tmp_path / "out")
    path.write_text(json.dumps({"id": 1, "extra": "e"}) + "\n")
    df, _ = _read(spark, "read_json", path, tmp_path / "out")
    assert df.columns == ["extra", "id"]
    assert df.collect()[0]["extra"] == "e"


def test_parquet_added_part_file_changes_file_set(spark, tmp_path):
    path = tmp_path / "t.parquet"
    spark.createDataFrame([(1,), (2,)], "id long").coalesce(1).write.parquet(
        str(path)
    )
    read = get_operator("read_parquet")(spark=spark, filepath=str(path))
    assert len(listed_files(read.read())) == 1
    _, hit_jobs = _read(spark, "read_parquet", path, tmp_path / "out")
    assert hit_jobs == 0
    (part,) = path.glob("part-*.parquet")
    shutil.copy(part, path / "part-99999-added.snappy.parquet")
    after, jobs = _read(spark, "read_parquet", path, tmp_path / "out")
    assert jobs >= 1  # the changed file set was inferred again
    assert after.count() == 4
    assert len(listed_files(read.read())) == 2
    _, jobs = _read(spark, "read_parquet", path, tmp_path / "out")
    assert jobs == 0  # and the new version is cached


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # written without Spark's schema metadata, which would pin the type
    path = tmp_path / "bin.parquet"
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), path)
    df, _ = _read(spark, "read_parquet", path, tmp_path / "out")
    assert df.dtypes == [("b", "binary")]
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df, _ = _read(spark, "read_parquet", path, tmp_path / "out")
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert df.dtypes == [("b", "string")]
    assert df.collect()[0]["b"] == "hi"
    df, jobs = _read(spark, "read_parquet", path, tmp_path / "out")
    assert df.dtypes == [("b", "binary")]
    assert jobs == 0


def test_cache_is_bounded_lru(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(inferred_schemas(spark), "CAPACITY", 2)
    paths = []
    for i in range(3):
        paths.append(tmp_path / f"t{i}.csv")
        paths[-1].write_text(f"c{i}\n{i}\n")
        _read(spark, "read_csv", paths[-1], tmp_path / "out")
    _, jobs = _read(spark, "read_csv", paths[2], tmp_path / "out")
    assert jobs == 0
    df, jobs = _read(spark, "read_csv", paths[0], tmp_path / "out")
    assert jobs >= 1  # evicted as least recently used
    assert df.columns == ["c0"]


def test_new_session_starts_empty(spark, tmp_path):
    path = tmp_path / "t.csv"
    _write_source(spark, "read_csv", path)
    _read(spark, "read_csv", path, tmp_path / "out")
    other = spark.newSession()
    assert inferred_schemas(other) is not inferred_schemas(spark)
    _, jobs = _read(other, "read_csv", path, tmp_path / "out")
    assert jobs >= 1


def _uncached_error(spark, path) -> AnalysisException:
    with pytest.raises(AnalysisException) as uncached:
        spark.read.parquet(str(path))
    return uncached.value


def test_deleted_path_raises_like_an_uncached_read(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_source(spark, "read_parquet", path)
    _read(spark, "read_parquet", path, tmp_path / "out")
    shutil.rmtree(path)
    with pytest.raises(AnalysisException) as cached:
        _read(spark, "read_parquet", path, tmp_path / "out")
    want = _uncached_error(spark, path)
    assert cached.value.getCondition() == "PATH_NOT_FOUND"
    assert cached.value.getCondition() == want.getCondition()
    assert str(cached.value) == str(want)


def test_emptied_directory_raises_like_an_uncached_read(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_source(spark, "read_parquet", path)
    _read(spark, "read_parquet", path, tmp_path / "out")
    _, jobs = _read(spark, "read_parquet", path, tmp_path / "out")
    assert jobs == 0
    for part in path.glob("*.parquet"):
        part.unlink()
    # the cached schema would read the empty directory as zero rows;
    # an uncached read cannot infer a schema from it and raises
    with pytest.raises(AnalysisException) as cached:
        _read(spark, "read_parquet", path, tmp_path / "out")
    want = _uncached_error(spark, path)
    assert cached.value.getCondition() == want.getCondition()
    assert str(cached.value) == str(want)


def test_concurrent_builds_of_one_job(spark, tmp_path):
    path = tmp_path / "t.csv"
    _write_source(spark, "read_csv", path)
    job = _job("read_csv", path, tmp_path / "out")
    results, errors = [], []

    def worker():
        try:
            for _ in range(3):
                df = build_job(spark, job).sink_inputs["sink"]
                results.append((df.columns, sorted(tuple(r) for r in df.collect())))
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert results == [(["id", "name"], [("1", "a"), ("2", "b")])] * 24
