import json
import urllib.request

import pytest

from etl_core_spark.api import serve
from etl_core_spark.plans.context import ContextError, apply_context, resolve_context
from etl_core_spark.plans.store import JobStore


def http(method, url, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    if data:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture()
def api(spark, tmp_path):
    store = JobStore(tmp_path / "api.db")
    server = serve(spark, store, port=0)
    yield server, tmp_path
    server.stop()


def test_api_job_crud_and_execution(api, spark):
    server, tmp_path = api
    base = f"http://127.0.0.1:{server.port}"

    assert http("GET", f"{base}/health")[1] == {"status": "ok"}

    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,a\n2,b\n")
    config = {
        "name": "api_job",
        "components": [
            {"name": "r", "comp_type": "read_csv", "filepath": str(src),
             "routes": {"out": [{"to": "w", "in_port": "in"}]}},
            {"name": "w", "comp_type": "write_csv", "filepath": str(tmp_path / "out")},
        ],
    }
    status, created = http("POST", f"{base}/jobs", config)
    assert status == 201
    job_id = created["job_id"]

    assert http("GET", f"{base}/jobs")[1][0]["job_id"] == job_id
    assert http("GET", f"{base}/jobs/{job_id}")[1]["name"] == "api_job"

    status, record = http("POST", f"{base}/execution/{job_id}")
    assert status == 200
    assert record["status"] == "SUCCESS"
    assert record["metrics"]["w"]["lines_received"] == 2

    status, execs = http("GET", f"{base}/execution?job_id={job_id}")
    assert status == 200 and len(execs) == 1

    assert http("DELETE", f"{base}/jobs/{job_id}")[0] == 200
    assert http("GET", f"{base}/jobs/{job_id}")[0] == 404


def test_api_operators_and_errors(api):
    server, _ = api
    base = f"http://127.0.0.1:{server.port}"
    status, names = http("GET", f"{base}/operators")
    assert status == 200 and "filter" in names
    status, doc = http("GET", f"{base}/operators/dedup")
    assert status == 200 and "minhash" in doc["doc"]
    assert http("GET", f"{base}/nope")[0] == 404
    assert http("POST", f"{base}/jobs", {"name": "bad", "components": [{"name": "x"}]})[0] == 400


def test_api_context_error_is_500_not_404(api, tmp_path, monkeypatch):
    """A ContextError raised while STARTING an execution (unset secret
    env var) is a server-side configuration failure — it must surface
    as 500, not be conflated with the store's not-found KeyError
    (ContextError subclasses KeyError)."""
    server, tmp_path = api
    base = f"http://127.0.0.1:{server.port}"
    monkeypatch.delenv("NOPE_SECRET_ENV", raising=False)

    status, _ = http("POST", f"{base}/contexts", {
        "context_id": "broken_ctx",
        "mapping": {"password_env": "NOPE_SECRET_ENV"},
    })
    assert status == 201
    src = tmp_path / "ctx.csv"
    src.write_text("id\n1\n")
    config = {
        "name": "ctx_job",
        "components": [
            {"name": "r", "comp_type": "read_csv", "filepath": str(src),
             "context_id": "broken_ctx",
             "routes": {"out": [{"to": "w", "in_port": "in"}]}},
            {"name": "w", "comp_type": "write_csv",
             "filepath": str(tmp_path / "ctx_out")},
        ],
    }
    status, created = http("POST", f"{base}/jobs", config)
    assert status == 201
    status, body = http("POST", f"{base}/execution/{created['job_id']}")
    assert status == 500, body
    assert "NOPE_SECRET_ENV" in body["error"]
    # a genuinely missing resource stays 404
    assert http("POST", f"{base}/execution/no_such_job")[0] == 404


def test_api_setup_key(api):
    server, _ = api
    base = f"http://127.0.0.1:{server.port}"
    assert http("GET", f"{base}/setup?key=VALID_KEY")[1] is True
    assert http("GET", f"{base}/setup?key=nope")[1] is False


def test_api_config_schemas(api):
    server, _ = api
    base = f"http://127.0.0.1:{server.port}"

    status, types = http("GET", f"{base}/configs/component_types")
    assert status == 200 and "read_csv" in types and "type_conversion" in types

    status, job = http("GET", f"{base}/configs/job")
    assert status == 200
    assert job["required"] == ["name", "components"]
    assert "component" in job["$defs"]
    assert "read_csv" in job["$defs"]["component"]["properties"]["comp_type"]["enum"]

    status, form = http("GET", f"{base}/configs/write_postgresql/form")
    assert status == 200
    assert form["type"] == "object"
    assert "password" not in form["properties"]  # hidden in the form view
    assert "entity_name" in form["required"]
    assert form["properties"]["operation"]["enum"] == [
        "insert", "upsert", "update", "truncate"
    ]

    status, full = http("GET", f"{base}/configs/write_postgresql/full")
    assert status == 200 and "password" in full["properties"]

    status, hidden = http("GET", f"{base}/configs/write_postgresql/hidden")
    assert status == 200 and list(hidden["properties"]) == ["password"]

    assert http("GET", f"{base}/configs/nope/form")[0] == 404


def test_api_schedules_crud(api, spark, monkeypatch):
    server, tmp_path = api
    base = f"http://127.0.0.1:{server.port}"

    src = tmp_path / "s.csv"
    src.write_text("id\n1\n")
    job = {
        "name": "sched_job",
        "components": [
            {"name": "r", "comp_type": "read_csv", "filepath": str(src),
             "routes": {"out": [{"to": "w", "in_port": "in"}]}},
            {"name": "w", "comp_type": "write_csv", "filepath": str(tmp_path / "so")},
        ],
    }
    job_id = http("POST", f"{base}/jobs", job)[1]["job_id"]

    status, created = http("POST", f"{base}/schedules", {
        "job_id": job_id, "trigger_type": "cron",
        "trigger_args": {"expression": "0 3 * * *"},
    })
    assert status == 201
    sid = created["schedule_id"]

    status, listed = http("GET", f"{base}/schedules")
    assert status == 200 and listed[0]["schedule_id"] == sid

    status, one = http("GET", f"{base}/schedules/{sid}")
    assert one["trigger_type"] == "cron" and one["enabled"] is True

    status, updated = http("PUT", f"{base}/schedules/{sid}", {
        "trigger_type": "interval", "trigger_args": {"seconds": 60},
    })
    assert updated["trigger_type"] == "interval"

    assert http("POST", f"{base}/schedules/{sid}/pause")[1]["enabled"] is False
    assert http("POST", f"{base}/schedules/{sid}/resume")[1]["enabled"] is True

    status, record = http("POST", f"{base}/schedules/{sid}/run-now")
    assert status == 200 and record["status"] == "SUCCESS"

    assert http("DELETE", f"{base}/schedules/{sid}")[0] == 200
    assert http("GET", f"{base}/schedules/{sid}")[0] == 404

    # invalid trigger rejected at the API boundary
    status, err = http("POST", f"{base}/schedules", {
        "job_id": job_id, "trigger_type": "cron",
        "trigger_args": {"expression": "not cron"},
    })
    assert status == 400 and "cron" in err["error"]


def test_api_contexts_crud(api, monkeypatch):
    server, _ = api
    base = f"http://127.0.0.1:{server.port}"
    monkeypatch.delenv("ETL_CONTEXTS_FILE", raising=False)
    monkeypatch.setenv("API_PG_PW", "s3cret")

    # literal secret values are REJECTED at create (the store persists
    # plaintext JSON; masking-on-read alone leaks any key the
    # heuristic misses) — *_env indirection is the secret path
    status, err = http("POST", f"{base}/contexts", {
        "context_id": "api_pg",
        "mapping": {"url": "jdbc:postgresql://h/db", "user": "etl",
                    "password_env": "API_PG_PW", "api_token": "literal-secret"},
    })
    assert status == 400 and "api_token" in err["error"]

    monkeypatch.setenv("API_TOKEN_VALUE", "tok-123")
    status, created = http("POST", f"{base}/contexts", {
        "context_id": "api_pg",
        "mapping": {"url": "jdbc:postgresql://h/db", "user": "etl",
                    "password_env": "API_PG_PW",
                    "api_token_env": "API_TOKEN_VALUE"},
    })
    assert status == 201 and created["context_id"] == "api_pg"
    assert http("GET", f"{base}/contexts")[1] == ["api_pg"]

    status, got = http("GET", f"{base}/contexts/api_pg")
    # *_env indirections are names, not secrets — they stay visible
    assert got["mapping"]["password_env"] == "API_PG_PW"
    assert got["mapping"]["api_token_env"] == "API_TOKEN_VALUE"
    assert got["mapping"]["user"] == "etl"

    # a job param block with context_id resolves through the store
    from etl_core_spark.plans.context import apply_context

    merged = apply_context({"context_id": "api_pg", "entity_name": "t"})
    assert merged["password"] == "s3cret" and merged["url"] == "jdbc:postgresql://h/db"
    assert merged["api_token"] == "tok-123"

    assert http("DELETE", f"{base}/contexts/api_pg")[0] == 200
    assert http("GET", f"{base}/contexts/api_pg")[0] == 404
    with pytest.raises(Exception):
        apply_context({"context_id": "api_pg"})


def test_every_operator_has_a_field_spec():
    # coverage guard: registering an operator without a schema spec is
    # an API regression (reference serves a schema for every component)
    from etl_core_spark.operators.base import operator_names
    from etl_core_spark.plans.op_schemas import FIELD_SPECS, component_schema

    missing = [n for n in operator_names() if n not in FIELD_SPECS]
    assert missing == []
    for name in operator_names():
        schema = component_schema(name, "full")
        assert schema["type"] == "object" and "properties" in schema


def test_context_from_file(tmp_path, monkeypatch):
    ctx_file = tmp_path / "contexts.json"
    ctx_file.write_text(json.dumps({
        "prod_pg": {
            "url": "jdbc:postgresql://db.prod/warehouse",
            "user": "etl",
            "password_env": "PROD_PG_PW",
        }
    }))
    monkeypatch.setenv("ETL_CONTEXTS_FILE", str(ctx_file))
    monkeypatch.setenv("PROD_PG_PW", "s3cret")
    resolved = resolve_context("prod_pg")
    assert resolved == {
        "url": "jdbc:postgresql://db.prod/warehouse", "user": "etl", "password": "s3cret",
    }
    # secret env missing → clear error
    monkeypatch.delenv("PROD_PG_PW")
    with pytest.raises(ContextError, match="PROD_PG_PW"):
        resolve_context("prod_pg")


def test_context_from_env_vars(monkeypatch):
    monkeypatch.delenv("ETL_CONTEXTS_FILE", raising=False)
    monkeypatch.setenv("ETL_CTX_STAGE_MONGO_URI", "mongodb://stage:27017")
    monkeypatch.setenv("ETL_CTX_STAGE_MONGO_DATABASE", "etl")
    assert resolve_context("stage_mongo") == {
        "uri": "mongodb://stage:27017", "database": "etl",
    }
    with pytest.raises(ContextError):
        resolve_context("missing_ctx")


def test_apply_context_merge(monkeypatch):
    monkeypatch.setenv("ETL_CTX_X_URL", "jdbc:postgresql://h/db")
    monkeypatch.setenv("ETL_CTX_X_USER", "default_user")
    merged = apply_context({"context_id": "x", "user": "override", "entity_name": "t"})
    # explicit keys win; context_id consumed
    assert merged == {"url": "jdbc:postgresql://h/db", "user": "override", "entity_name": "t"}
    assert apply_context({"a": 1}) == {"a": 1}


def test_api_execution_reports_component_metrics(api, spark):
    """Reference-parity per-component counters surfaced through the
    HTTP surface (GET /execution): a filter job reports received +
    forwarded + dismissed, all observed on the sink action itself —
    no count() scans anywhere in the path."""
    server, tmp_path = api
    base = f"http://127.0.0.1:{server.port}"
    src = tmp_path / "mx.csv"
    src.write_text("id,age\n1,30\n2,17\n3,45\n4,12\n")
    config = {
        "name": "metrics_api_job",
        "components": [
            {"name": "r", "comp_type": "read_csv", "filepath": str(src),
             "routes": {"out": [{"to": "flt", "in_port": "in"}]}},
            {"name": "flt", "comp_type": "filter",
             "rule": {"column": "age", "operator": ">", "value": "18"},
             "routes": {"pass": [{"to": "w", "in_port": "in"}]}},
            {"name": "w", "comp_type": "write_csv",
             "filepath": str(tmp_path / "mx_out")},
        ],
    }
    _, created = http("POST", f"{base}/jobs", config)
    status, record = http("POST", f"{base}/execution/{created['job_id']}")
    assert status == 200 and record["status"] == "SUCCESS"
    flt = record["metrics"]["flt"]
    assert flt["lines_received"] == 4
    assert flt["lines_forwarded"] == 2
    assert flt["lines_dismissed"] == 2
    assert record["metrics"]["w"]["lines_received"] == 2

    # and the persisted record serves the same numbers back
    _, execs = http("GET", f"{base}/execution?job_id={created['job_id']}")
    assert execs[-1]["metrics"]["flt"]["lines_dismissed"] == 2


def test_api_misnamed_in_port_is_400_not_404(api):
    """A job that routes into an operator port it does not have is a
    config error of a job that exists: 400 naming the expected and the
    received port — not the store's "job not found" 404."""
    server, tmp_path = api
    base = f"http://127.0.0.1:{server.port}"
    left = tmp_path / "left.csv"
    left.write_text("id,lo,hi\n1,0,5\n")
    right = tmp_path / "right.csv"
    right.write_text("rid,rlo,rhi\n7,3,9\n")
    config = {
        "name": "misnamed_port",
        "components": [
            {"name": "l", "comp_type": "read_csv", "filepath": str(left),
             "routes": {"out": [{"to": "j", "in_port": "left"}]}},
            {"name": "r", "comp_type": "read_csv", "filepath": str(right),
             "routes": {"out": [{"to": "j", "in_port": "rigth"}]}},
            {"name": "j", "comp_type": "interval_join", "left_lo": "lo",
             "left_hi": "hi", "right_lo": "rlo", "right_hi": "rhi",
             "bucket_width": 5, "routes": {"out": [{"to": "w", "in_port": "in"}]}},
            {"name": "w", "comp_type": "write_csv", "filepath": str(tmp_path / "out")},
        ],
    }
    status, created = http("POST", f"{base}/jobs", config)
    assert status == 201
    status, body = http("POST", f"{base}/execution/{created['job_id']}")
    assert status == 400, body
    assert "right" in body["error"] and "rigth" in body["error"]
    assert http("POST", f"{base}/execution/no_such_job")[0] == 404
