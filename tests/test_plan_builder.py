import json

import pytest

from etl_core_spark.plans import JobConfig, JobRunner, build_job
from etl_core_spark.plans.config import JobConfigError


def make_csv(tmp_path, name="in.csv"):
    p = tmp_path / name
    p.write_text("id,name,age\n1,alice,30\n2,bob,17\n3,carol,45\n")
    return p


def test_csv_filter_csv_end_to_end(spark, tmp_path):
    """The reference's minimum slice: read_csv → filter → write_csv
    (≈ tests/combinations_jobs/csv filter jobs)."""
    src = make_csv(tmp_path)
    out_dir = tmp_path / "out"
    job = {
        "name": "csv_filter_csv",
        "components": [
            {
                "name": "read",
                "comp_type": "read_csv",
                "filepath": str(src),
                "routes": {"out": [{"to": "flt", "in_port": "in"}]},
            },
            {
                "name": "flt",
                "comp_type": "filter",
                "rule": {"column": "age", "operator": ">", "value": "18"},
                "routes": {"pass": [{"to": "sink", "in_port": "in"}]},
            },
            {"name": "sink", "comp_type": "write_csv", "filepath": str(out_dir)},
        ],
    }
    builder = build_job(spark, job)
    result = JobRunner(builder).run()
    assert result.status == "SUCCESS", result.error
    assert result.metrics["sink"]["lines_received"] == 2
    back = spark.read.option("header", True).csv(str(out_dir))
    assert {r["name"] for r in back.collect()} == {"alice", "carol"}


def test_split_merge_roundtrip(spark, tmp_path):
    src = make_csv(tmp_path)
    out_dir = tmp_path / "out2"
    job = {
        "name": "split_merge",
        "components": [
            {
                "name": "read",
                "comp_type": "read_csv",
                "filepath": str(src),
                "routes": {"out": [{"to": "sp", "in_port": "in"}]},
            },
            {
                "name": "sp",
                "comp_type": "split",
                "branches": ["a", "b"],
                "routes": {
                    "a": [{"to": "mg", "in_port": "in"}],
                    "b": [{"to": "mg", "in_port": "in"}],
                },
            },
            {
                "name": "mg",
                "comp_type": "merge",
                "routes": {"out": [{"to": "sink", "in_port": "in"}]},
            },
            {"name": "sink", "comp_type": "write_csv", "filepath": str(out_dir)},
        ],
    }
    builder = build_job(spark, job)
    result = JobRunner(builder).run()
    assert result.status == "SUCCESS", result.error
    # bag-union: every row duplicated
    assert result.metrics["sink"]["lines_received"] == 6


def test_cycle_detection(spark):
    job = {
        "name": "cyclic",
        "components": [
            {
                "name": "a", "comp_type": "merge",
                "routes": {"out": [{"to": "b", "in_port": "in"}]},
            },
            {
                "name": "b", "comp_type": "merge",
                "routes": {"out": [{"to": "a", "in_port": "in"}]},
            },
        ],
    }
    with pytest.raises(JobConfigError, match="cycle"):
        build_job(spark, job)


def test_unknown_route_target(spark):
    job = {
        "name": "dangling",
        "components": [
            {
                "name": "a", "comp_type": "merge",
                "routes": {"out": [{"to": "ghost", "in_port": "in"}]},
            },
        ],
    }
    with pytest.raises(JobConfigError, match="unknown component"):
        build_job(spark, job)


def test_retry_then_success(spark, tmp_path, monkeypatch):
    src = make_csv(tmp_path)
    out_dir = tmp_path / "out3"
    job = {
        "name": "retry_job",
        "num_of_retries": 2,
        "components": [
            {
                "name": "read", "comp_type": "read_csv", "filepath": str(src),
                "routes": {"out": [{"to": "sink", "in_port": "in"}]},
            },
            {"name": "sink", "comp_type": "write_csv", "filepath": str(out_dir)},
        ],
    }
    builder = build_job(spark, job)
    runner = JobRunner(builder)
    calls = {"n": 0}
    real = runner._run_once

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return real()

    monkeypatch.setattr(runner, "_run_once", flaky)
    result = runner.run()
    assert result.status == "SUCCESS"
    assert result.attempts == 2


def test_analysis_error_is_not_retried(spark, tmp_path):
    """Writing with mode "error" onto an existing path fails the same
    way every time: one attempt, not num_of_retries + 1."""
    src = make_csv(tmp_path)
    out_dir = tmp_path / "exists"
    out_dir.mkdir()
    job = {
        "name": "no_retry_job",
        "num_of_retries": 2,
        "components": [
            {
                "name": "read", "comp_type": "read_csv", "filepath": str(src),
                "routes": {"out": [{"to": "sink", "in_port": "in"}]},
            },
            {
                "name": "sink", "comp_type": "write_csv",
                "filepath": str(out_dir), "mode": "error",
            },
        ],
    }
    result = JobRunner(build_job(spark, job)).run()
    assert result.status == "FAILED"
    assert result.attempts == 1
    assert result.error.startswith("AnalysisException: [PATH_ALREADY_EXISTS]")


def test_job_config_json_roundtrip(tmp_path):
    cfg = {
        "name": "j",
        "components": [
            {"name": "r", "comp_type": "read_csv", "filepath": "/x.csv",
             "routes": {"out": [{"to": "w", "in_port": "in"}]}},
            {"name": "w", "comp_type": "write_csv", "filepath": "/y"},
        ],
    }
    p = tmp_path / "job.json"
    p.write_text(json.dumps(cfg))
    job = JobConfig.from_json(p)
    assert job.component("r").routes["out"][0].to == "w"
    with pytest.raises(JobConfigError):
        JobConfig.from_dict({"name": "dup", "components": [
            {"name": "x", "comp_type": "merge"}, {"name": "x", "comp_type": "merge"},
        ]})


def test_per_component_metrics(spark, tmp_path):
    """Reference-parity component counters (component_metrics.py:4-31,
    filter_metrics.py:6-18): lines_received/forwarded/dismissed per
    component, observed on the sink action itself — no count() calls,
    no extra scans."""
    src = make_csv(tmp_path)
    out_dir = tmp_path / "out_metrics"
    job = {
        "name": "metrics_job",
        "components": [
            {
                "name": "read",
                "comp_type": "read_csv",
                "filepath": str(src),
                "routes": {"out": [{"to": "flt", "in_port": "in"}]},
            },
            {
                "name": "flt",
                "comp_type": "filter",
                "rule": {"column": "age", "operator": ">", "value": "18"},
                # fail port deliberately unrouted: dismissed must be
                # derived (received - forwarded), not separately scanned
                "routes": {"pass": [{"to": "sink", "in_port": "in"}]},
            },
            {"name": "sink", "comp_type": "write_csv", "filepath": str(out_dir)},
        ],
    }
    sc = spark.sparkContext
    group = "metrics_job_probe"
    sc.setJobGroup(group, "metrics ride the sink action")
    try:
        result = JobRunner(build_job(spark, job)).run()
    finally:
        sc.setJobGroup(None, None)
    assert result.status == "SUCCESS", result.error
    flt = result.metrics["flt"]
    assert flt["lines_received"] == 3
    assert flt["lines_forwarded"] == 2
    assert flt["lines_dismissed"] == 1
    assert flt["ports"] == {"pass": 2}
    assert result.metrics["read"] == {
        "lines_forwarded": 3, "ports": {"out": 3}
    }  # sources have no received side
    assert result.metrics["sink"]["lines_received"] == 2
    # the whole job — metrics included — ran as the sink's write
    # action(s) only: no per-metric count() jobs
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_metrics_skip_dead_branch(spark, tmp_path):
    """A branch that never reaches a sink must not be observed (its
    Observation would block forever) nor executed."""
    src = make_csv(tmp_path)
    out_dir = tmp_path / "out_dead"
    job = {
        "name": "dead_branch",
        "components": [
            {
                "name": "read",
                "comp_type": "read_csv",
                "filepath": str(src),
                "routes": {"out": [{"to": "sp", "in_port": "in"}]},
            },
            {
                "name": "sp",
                "comp_type": "split",
                "branches": ["a", "b"],
                "routes": {
                    "a": [{"to": "sink", "in_port": "in"}],
                    "b": [{"to": "dead", "in_port": "in"}],
                },
            },
            {
                "name": "dead",
                "comp_type": "filter",
                "rule": {"column": "age", "operator": ">", "value": "0"},
                "routes": {},
            },
            {"name": "sink", "comp_type": "write_csv", "filepath": str(out_dir)},
        ],
    }
    result = JobRunner(build_job(spark, job)).run()
    assert result.status == "SUCCESS", result.error
    assert result.metrics["sp"]["ports"] == {"a": 3}  # only the live branch
    assert "dead" not in result.metrics


def _two_sink_job(tmp_path):
    src = make_csv(tmp_path)
    return {
        "name": "two_sinks",
        "components": [
            {
                "name": "read",
                "comp_type": "read_csv",
                "filepath": str(src),
                "routes": {"out": [{"to": "flt", "in_port": "in"}]},
            },
            {
                "name": "flt",
                "comp_type": "filter",
                "rule": {"column": "age", "operator": ">", "value": "18"},
                "routes": {
                    "pass": [{"to": "adults", "in_port": "in"}],
                    "fail": [{"to": "minors", "in_port": "in"}],
                },
            },
            {"name": "adults", "comp_type": "write_csv", "filepath": str(tmp_path / "adults")},
            {"name": "minors", "comp_type": "write_json", "filepath": str(tmp_path / "minors")},
        ],
    }


#: Py4J round trips of one warm build+run of ``_two_sink_job``
TWO_SINK_ROUND_TRIPS = 95


def test_warm_build_and_run_round_trip_budget(spark, tmp_path, py4j_round_trips):
    """Driver-to-JVM round trips per warm build+run of a small two-sink
    job, object-release messages excluded. Unlike wall time the count
    does not drift with host load: a change that adds calls to the
    build or the runner fails here, one that removes calls lowers the
    budget."""
    from etl_core_spark.plans.runner import run_job

    job = _two_sink_job(tmp_path)
    for _ in range(2):  # cold: schema inference, first-use lookups
        assert run_job(spark, job).status == "SUCCESS"
    counts = []
    for _ in range(2):
        with py4j_round_trips() as calls:
            result = run_job(spark, job)
        assert result.status == "SUCCESS", result.error
        counts.append(calls.n)
    assert result.metrics["adults"] == {"lines_received": 2}
    assert result.metrics["minors"] == {"lines_received": 1}
    assert counts[0] == counts[1], counts
    assert counts[0] <= TWO_SINK_ROUND_TRIPS, counts
