"""Command-line interface.

Parity with the reference's Typer CLI
(``src/etl_core/api/cli/commands/jobs.py:15-57`` — job CRUD from a
JSON file; ``execution.py:15-30`` — start an execution by job id).

    python -m etl_core_spark jobs create path/to/job.json
    python -m etl_core_spark jobs list
    python -m etl_core_spark jobs get JOB_ID
    python -m etl_core_spark jobs delete JOB_ID
    python -m etl_core_spark execution start JOB_ID
    python -m etl_core_spark execution list [JOB_ID]
    python -m etl_core_spark schedule create JOB_ID --interval 3600
    python -m etl_core_spark schedule create JOB_ID --cron "0 3 * * *"
    python -m etl_core_spark schedule create JOB_ID --at 2026-09-01T03:00:00
    python -m etl_core_spark schedule list|pause|resume|run-now|delete ...
    python -m etl_core_spark schedule run-due
    python -m etl_core_spark schedule daemon --interval 30
    python -m etl_core_spark contexts create|list|get|delete ...
    python -m etl_core_spark run path/to/job.json      # one-shot, no store

The reference embeds its scheduler in the FastAPI app's lifespan
(30 s APScheduler sync); here the equivalent is the explicit
`schedule daemon` foreground loop (plans/store.run_scheduler) — or
`run-due` driven by any external cron. Embedding it inside the API
server process is intentionally avoided: the loop is owned by
whatever supervises it (CLI, systemd, a sidecar thread).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _store(args):
    from etl_core_spark.plans.store import JobStore

    return JobStore(args.db)


def _spark():
    from etl_core_spark.session import get_spark

    return get_spark(app_name="etl_core_spark_cli")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="etl_core_spark")
    parser.add_argument("--db", default="jobs.db", help="job store sqlite path")
    sub = parser.add_subparsers(dest="cmd", required=True)

    jobs = sub.add_parser("jobs").add_subparsers(dest="jobs_cmd", required=True)
    p = jobs.add_parser("create")
    p.add_argument("config_path")
    p = jobs.add_parser("get")
    p.add_argument("job_id")
    jobs.add_parser("list")
    p = jobs.add_parser("update")
    p.add_argument("job_id")
    p.add_argument("config_path")
    p = jobs.add_parser("delete")
    p.add_argument("job_id")

    execution = sub.add_parser("execution").add_subparsers(dest="exec_cmd", required=True)
    p = execution.add_parser("start")
    p.add_argument("job_id")
    p = execution.add_parser("list")
    p.add_argument("job_id", nargs="?")

    schedule = sub.add_parser("schedule").add_subparsers(dest="sched_cmd", required=True)
    p = schedule.add_parser("create")
    p.add_argument("job_id")
    trig = p.add_mutually_exclusive_group(required=True)
    trig.add_argument("--interval", type=float, help="seconds")
    trig.add_argument("--cron", help="5-field cron expression")
    trig.add_argument("--at", help="one-shot: ISO datetime or epoch seconds")
    schedule.add_parser("list")
    for name in ("pause", "resume", "run-now", "delete"):
        p = schedule.add_parser(name)
        p.add_argument("schedule_id")
    schedule.add_parser("run-due")
    p = schedule.add_parser("daemon")
    p.add_argument("--interval", type=float, default=30.0, help="sweep seconds")
    p.add_argument("--max-sweeps", type=int, default=None,
                   help="stop after N sweeps (default: run until SIGINT)")

    contexts = sub.add_parser("contexts").add_subparsers(dest="ctx_cmd", required=True)
    p = contexts.add_parser("create")
    p.add_argument("context_id")
    p.add_argument("mapping_json", help="JSON object; *_env keys name secret env vars")
    contexts.add_parser("list")
    p = contexts.add_parser("get")
    p.add_argument("context_id")
    p = contexts.add_parser("delete")
    p.add_argument("context_id")

    p = sub.add_parser("run", help="run a job config file directly (no store)")
    p.add_argument("config_path")

    p = sub.add_parser(
        "explain",
        help="print each sink's optimized physical plan for a job config "
        "(no execution — audit pushdown/broadcasts/shuffles before running)",
    )
    p.add_argument("config_path")

    p = sub.add_parser(
        "operators", help="list registered operators (≈ reference GET /schemas)"
    )
    p.add_argument("name", nargs="?", help="show one operator's doc")

    p = sub.add_parser("serve", help="start the HTTP API (stdlib http.server)")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8343)

    args = parser.parse_args(argv)

    if args.cmd == "serve":
        from etl_core_spark.api import serve as api_serve
        from etl_core_spark.plans.store import JobStore

        server = api_serve(_spark(), JobStore(args.db), host=args.host, port=args.port)
        print(f"listening on http://{args.host}:{server.port} (ctrl-c to stop)")
        try:
            import signal

            signal.pause()
        except KeyboardInterrupt:
            pass
        finally:
            server.stop()
        return 0

    # the same clean error mapping the store-backed commands get:
    # an unknown operator / missing config path / bad JSON is an
    # expected user error (exit 2, one line), not a traceback
    try:
        if args.cmd == "operators":
            from etl_core_spark.operators.base import get_operator, operator_doc, operator_names

            if args.name:
                print(f"{args.name}: {operator_doc(get_operator(args.name))}")
            else:
                print(json.dumps(operator_names(), indent=2))
            return 0

        if args.cmd == "run":
            from etl_core_spark.plans.runner import run_job

            config = json.loads(Path(args.config_path).read_text())
            result = run_job(_spark(), config)
            print(json.dumps(result.__dict__))
            return 0 if result.status == "SUCCESS" else 1

        if args.cmd == "explain":
            from etl_core_spark.plans import build_job

            config = json.loads(Path(args.config_path).read_text())
            builder = build_job(_spark(), config)
            for sink_name in builder.sinks:
                print(f"== sink: {sink_name} ==")
                builder.sink_inputs[sink_name].explain("formatted")
            return 0
    except (KeyError, ValueError, OSError) as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2

    store = _store(args)
    try:
        if args.cmd == "jobs":
            if args.jobs_cmd == "create":
                config = json.loads(Path(args.config_path).read_text())
                print(store.create_job(config))
            elif args.jobs_cmd == "get":
                print(json.dumps(store.get_job(args.job_id), indent=2))
            elif args.jobs_cmd == "list":
                print(json.dumps(store.list_jobs(), indent=2))
            elif args.jobs_cmd == "update":
                config = json.loads(Path(args.config_path).read_text())
                store.update_job(args.job_id, config)
                print("updated")
            elif args.jobs_cmd == "delete":
                store.delete_job(args.job_id)
                print("deleted")
        elif args.cmd == "execution":
            if args.exec_cmd == "start":
                record = store.start_execution(_spark(), args.job_id)
                print(json.dumps(record.__dict__))
                return 0 if record.status == "SUCCESS" else 1
            elif args.exec_cmd == "list":
                print(json.dumps([r.__dict__ for r in store.list_executions(args.job_id)], indent=2))
        elif args.cmd == "schedule":
            if args.sched_cmd == "create":
                if args.interval is not None:
                    print(store.create_schedule(args.job_id, args.interval))
                elif args.cron:
                    print(store.create_schedule(
                        args.job_id, trigger_type="cron",
                        trigger_args={"expression": args.cron}))
                else:
                    run_at = float(args.at) if args.at.replace(".", "").isdigit() else args.at
                    print(store.create_schedule(
                        args.job_id, trigger_type="date",
                        trigger_args={"run_at": run_at}))
            elif args.sched_cmd == "list":
                print(json.dumps(store.list_schedules(), indent=2))
            elif args.sched_cmd == "pause":
                print(json.dumps(store.pause_schedule(args.schedule_id)))
            elif args.sched_cmd == "resume":
                print(json.dumps(store.resume_schedule(args.schedule_id)))
            elif args.sched_cmd == "run-now":
                print(json.dumps(store.run_schedule_now(_spark(), args.schedule_id).__dict__))
            elif args.sched_cmd == "delete":
                store.delete_schedule(args.schedule_id)
                print("deleted")
            elif args.sched_cmd == "run-due":
                records = store.run_due(_spark())
                print(json.dumps([r.__dict__ for r in records]))
            elif args.sched_cmd == "daemon":
                from etl_core_spark.plans.store import run_scheduler

                state = {"sweeps": 0}

                def _report(sweep, records):
                    state["sweeps"] = sweep
                    print(json.dumps({
                        "sweep": sweep,
                        "executed": [r.__dict__ for r in records],
                    }), flush=True)

                try:
                    state["sweeps"] = run_scheduler(
                        store, _spark(), interval_s=args.interval,
                        max_sweeps=args.max_sweeps, on_sweep=_report,
                    )
                except KeyboardInterrupt:
                    # Ctrl-C is the documented stop for the default
                    # unbounded mode — clean summary, exit 0
                    pass
                print(json.dumps({"sweeps": state["sweeps"]}))
        elif args.cmd == "contexts":
            if args.ctx_cmd == "create":
                print(store.create_context(args.context_id, json.loads(args.mapping_json)))
            elif args.ctx_cmd == "list":
                print(json.dumps(store.list_contexts()))
            elif args.ctx_cmd == "get":
                print(json.dumps(store.get_context(args.context_id), indent=2))
            elif args.ctx_cmd == "delete":
                store.delete_context(args.context_id)
                print("deleted")
        return 0
    except (KeyError, ValueError) as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    raise SystemExit(main())
