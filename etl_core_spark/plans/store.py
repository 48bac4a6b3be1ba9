"""Job persistence + execution records.

Parity with the reference's persistence layer
(``src/etl_core/persistence/db.py``, ``table_definitions.py``,
``handlers/job_handler.py:95-137``): job configs stored by id and
rebuilt into runnable jobs; execution + attempt records written after
each run. SQLModel/SQLite there; stdlib sqlite3 here — the store is
driver-side control-plane state, deliberately outside the data path.

Also covers the scheduler's storage (``scheduling/scheduler_service``):
schedules persist as (job_id, interval_seconds, next_due); `run_due`
executes everything due — the cron daemon loop stays external
(cron/systemd/Airflow on a real deployment).
"""

from __future__ import annotations

import dataclasses
import json
import sqlite3
import time
import uuid
from pathlib import Path
from typing import Any, Optional

from etl_core_spark.plans.config import JobConfig

_SCHEMA = """
CREATE TABLE IF NOT EXISTS jobs (
    job_id TEXT PRIMARY KEY,
    name TEXT NOT NULL,
    config_json TEXT NOT NULL,
    created_at REAL NOT NULL,
    updated_at REAL NOT NULL
);
CREATE TABLE IF NOT EXISTS executions (
    execution_id TEXT PRIMARY KEY,
    job_id TEXT NOT NULL REFERENCES jobs(job_id),
    status TEXT NOT NULL,
    attempts INTEGER NOT NULL,
    wall_seconds REAL NOT NULL,
    metrics_json TEXT,
    error TEXT,
    started_at REAL NOT NULL
);
CREATE TABLE IF NOT EXISTS schedules (
    schedule_id TEXT PRIMARY KEY,
    job_id TEXT NOT NULL REFERENCES jobs(job_id),
    trigger_type TEXT NOT NULL DEFAULT 'interval',
    trigger_args_json TEXT NOT NULL DEFAULT '{}',
    next_due REAL,
    enabled INTEGER NOT NULL DEFAULT 1
);
CREATE TABLE IF NOT EXISTS contexts (
    context_id TEXT PRIMARY KEY,
    mapping_json TEXT NOT NULL,
    created_at REAL NOT NULL
);
"""


@dataclasses.dataclass
class ExecutionRecord:
    execution_id: str
    job_id: str
    status: str
    attempts: int
    wall_seconds: float
    metrics: dict[str, Any]
    error: Optional[str]
    started_at: float


class JobStore:
    def __init__(self, path: str | Path = "jobs.db"):
        self.path = str(path)
        # check_same_thread=False + a lock: the HTTP API serves from
        # handler threads while the store is created on the main one
        self._conn = sqlite3.connect(self.path, check_same_thread=False)
        self._lock = __import__("threading").RLock()
        self._migrate_schedules_table()
        self._conn.executescript(_SCHEMA)
        self._conn.commit()
        self._load_contexts()  # stored contexts join the resolution path

    def _migrate_schedules_table(self) -> None:
        """Upgrade a pre-trigger schedules table in place.

        The original table was (schedule_id, job_id, interval_seconds,
        next_due, enabled); CREATE TABLE IF NOT EXISTS silently keeps
        that 5-column shape, so without migration the new 6-value
        INSERT fails and row unpacking misindexes. Old rows become
        interval triggers with the same cadence."""
        cols = [
            r[1]
            for r in self._conn.execute("PRAGMA table_info(schedules)").fetchall()
        ]
        if not cols or "trigger_type" in cols:
            return  # absent (fresh db) or already current
        if "interval_seconds" not in cols:
            raise RuntimeError(
                f"schedules table has unknown schema {cols}; refusing to guess"
            )
        old = self._conn.execute(
            "SELECT schedule_id, job_id, interval_seconds, next_due, enabled "
            "FROM schedules"
        ).fetchall()
        self._conn.execute("ALTER TABLE schedules RENAME TO schedules_v0")
        self._conn.executescript(_SCHEMA)
        for sid, job_id, secs, next_due, enabled in old:
            self._conn.execute(
                "INSERT INTO schedules VALUES (?, ?, 'interval', ?, ?, ?)",
                (sid, job_id, json.dumps({"seconds": float(secs)}), next_due, enabled),
            )
        self._conn.execute("DROP TABLE schedules_v0")
        self._conn.commit()

    # -- jobs -----------------------------------------------------------

    def create_job(self, config: dict[str, Any] | JobConfig, job_id: str | None = None) -> str:
        if isinstance(config, JobConfig):
            raise TypeError("pass the raw config dict (JobConfig is not JSON-stable)")
        JobConfig.from_dict(config)  # validate before persisting
        job_id = job_id or uuid.uuid4().hex[:12]
        now = time.time()
        with self._lock:
            self._conn.execute(
                "INSERT INTO jobs VALUES (?, ?, ?, ?, ?)",
                (job_id, config.get("name", "job"), json.dumps(config), now, now),
            )
            self._conn.commit()
        return job_id

    def get_job(self, job_id: str) -> dict[str, Any]:
        row = self._conn.execute(
            "SELECT config_json FROM jobs WHERE job_id = ?", (job_id,)
        ).fetchone()
        if row is None:
            raise KeyError(f"unknown job_id {job_id!r}")
        return json.loads(row[0])

    def update_job(self, job_id: str, config: dict[str, Any]) -> None:
        JobConfig.from_dict(config)
        with self._lock:
            n = self._conn.execute(
                "UPDATE jobs SET config_json = ?, name = ?, updated_at = ? WHERE job_id = ?",
                (json.dumps(config), config.get("name", "job"), time.time(), job_id),
            ).rowcount
            if n == 0:
                raise KeyError(f"unknown job_id {job_id!r}")
            self._conn.commit()

    def delete_job(self, job_id: str) -> None:
        with self._lock:
            n = self._conn.execute(
                "DELETE FROM jobs WHERE job_id = ?", (job_id,)
            ).rowcount
            if n == 0:
                raise KeyError(f"unknown job_id {job_id!r}")
            # cascade: sqlite FKs are off by default and a dangling
            # schedule would fail (and, pre-isolation, poison) every
            # run_due sweep
            self._conn.execute("DELETE FROM schedules WHERE job_id = ?", (job_id,))
            self._conn.commit()

    def list_jobs(self) -> list[dict[str, Any]]:
        rows = self._conn.execute(
            "SELECT job_id, name, created_at, updated_at FROM jobs ORDER BY created_at"
        ).fetchall()
        return [
            {"job_id": r[0], "name": r[1], "created_at": r[2], "updated_at": r[3]}
            for r in rows
        ]

    # -- executions -----------------------------------------------------

    def start_execution(self, spark, job_id: str) -> ExecutionRecord:
        """Load → build → run → persist; the reference's
        POST /execution/{job_id} flow as one call."""
        from etl_core_spark.plans.runner import run_job

        config = self.get_job(job_id)
        started = time.time()
        result = run_job(spark, config)
        record = ExecutionRecord(
            execution_id=uuid.uuid4().hex[:12],
            job_id=job_id,
            status=result.status,
            attempts=result.attempts,
            wall_seconds=result.wall_seconds,
            metrics=result.metrics,
            error=result.error,
            started_at=started,
        )
        with self._lock:
            self._insert_execution(record)
            self._conn.commit()
        return record

    def _insert_execution(self, record: ExecutionRecord) -> None:
        """Add one row to ``executions``; the caller holds the lock and
        commits."""
        self._conn.execute(
            "INSERT INTO executions VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
            (
                record.execution_id, record.job_id, record.status, record.attempts,
                record.wall_seconds, json.dumps(record.metrics), record.error,
                record.started_at,
            ),
        )

    def list_executions(self, job_id: str | None = None) -> list[ExecutionRecord]:
        sql = "SELECT * FROM executions"
        args: tuple = ()
        if job_id:
            sql += " WHERE job_id = ?"
            args = (job_id,)
        rows = self._conn.execute(sql + " ORDER BY started_at", args).fetchall()
        return [
            ExecutionRecord(
                execution_id=r[0], job_id=r[1], status=r[2], attempts=r[3],
                wall_seconds=r[4], metrics=json.loads(r[5] or "{}"), error=r[6],
                started_at=r[7],
            )
            for r in rows
        ]

    # -- schedules ------------------------------------------------------

    def create_schedule(
        self,
        job_id: str,
        interval_seconds: float | None = None,
        trigger_type: str = "interval",
        trigger_args: dict[str, Any] | None = None,
    ) -> str:
        """Register a schedule. ``interval_seconds`` is the historical
        shorthand for ``trigger_type='interval'``; cron/date triggers
        pass ``trigger_args`` (reference trigger surface:
        ``scheduling/scheduler_service.py:12-14,50-384``)."""
        from etl_core_spark.plans.triggers import first_due

        self.get_job(job_id)  # existence check
        if interval_seconds is not None:
            trigger_type = "interval"
            trigger_args = {"seconds": float(interval_seconds)}
        trigger_args = trigger_args or {}
        now = time.time()
        next_due = first_due(trigger_type, trigger_args, now)
        schedule_id = uuid.uuid4().hex[:12]
        with self._lock:
            self._conn.execute(
                "INSERT INTO schedules VALUES (?, ?, ?, ?, ?, 1)",
                (schedule_id, job_id, trigger_type, json.dumps(trigger_args), next_due),
            )
            self._conn.commit()
        return schedule_id

    def _schedule_row(self, row) -> dict[str, Any]:
        return {
            "schedule_id": row[0],
            "job_id": row[1],
            "trigger_type": row[2],
            "trigger_args": json.loads(row[3]),
            "next_due": row[4],
            "enabled": bool(row[5]),
        }

    def get_schedule(self, schedule_id: str) -> dict[str, Any]:
        row = self._conn.execute(
            "SELECT * FROM schedules WHERE schedule_id = ?", (schedule_id,)
        ).fetchone()
        if row is None:
            raise KeyError(f"unknown schedule_id {schedule_id!r}")
        return self._schedule_row(row)

    def list_schedules(self) -> list[dict[str, Any]]:
        rows = self._conn.execute("SELECT * FROM schedules").fetchall()
        return [self._schedule_row(r) for r in rows]

    def update_schedule(
        self,
        schedule_id: str,
        trigger_type: str | None = None,
        trigger_args: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        from etl_core_spark.plans.triggers import first_due

        current = self.get_schedule(schedule_id)
        new_type = trigger_type or current["trigger_type"]
        new_args = trigger_args if trigger_args is not None else current["trigger_args"]
        next_due = first_due(new_type, new_args, time.time())
        with self._lock:
            self._conn.execute(
                "UPDATE schedules SET trigger_type = ?, trigger_args_json = ?, "
                "next_due = ?, enabled = 1 WHERE schedule_id = ?",
                (new_type, json.dumps(new_args), next_due, schedule_id),
            )
            self._conn.commit()
        return self.get_schedule(schedule_id)

    def delete_schedule(self, schedule_id: str) -> None:
        with self._lock:
            n = self._conn.execute(
                "DELETE FROM schedules WHERE schedule_id = ?", (schedule_id,)
            ).rowcount
            if n == 0:
                raise KeyError(f"unknown schedule_id {schedule_id!r}")
            self._conn.commit()

    def _set_enabled(self, schedule_id: str, enabled: bool) -> dict[str, Any]:
        with self._lock:
            n = self._conn.execute(
                "UPDATE schedules SET enabled = ? WHERE schedule_id = ?",
                (int(enabled), schedule_id),
            ).rowcount
            if n == 0:
                raise KeyError(f"unknown schedule_id {schedule_id!r}")
            self._conn.commit()
        return self.get_schedule(schedule_id)

    def pause_schedule(self, schedule_id: str) -> dict[str, Any]:
        return self._set_enabled(schedule_id, False)

    def resume_schedule(self, schedule_id: str) -> dict[str, Any]:
        return self._set_enabled(schedule_id, True)

    def run_schedule_now(self, spark, schedule_id: str) -> ExecutionRecord:
        """Reference POST /schedules/{id}/run-now: execute immediately
        without touching next_due."""
        return self.start_execution(spark, self.get_schedule(schedule_id)["job_id"])

    def run_due(self, spark, now: float | None = None) -> list[ExecutionRecord]:
        """Execute every enabled schedule whose next_due has passed,
        then advance next_due per its trigger (fixed-rate, like the
        reference's 30 s APScheduler sync loop). One-shot date
        triggers disable themselves after firing."""
        from etl_core_spark.plans.triggers import next_due_after_run

        now = now if now is not None else time.time()
        due = self._conn.execute(
            "SELECT schedule_id, job_id, trigger_type, trigger_args_json "
            "FROM schedules WHERE enabled = 1 AND next_due IS NOT NULL AND next_due <= ?",
            (now,),
        ).fetchall()
        records = []
        for schedule_id, job_id, trigger_type, args_json in due:
            # per-schedule isolation: one schedule failing to even
            # START (deleted job, config/build error — job-RUN errors
            # already surface as FAILED RunResults) must not abort the
            # sweep, re-fire already-executed schedules on the next
            # sweep, or block later due schedules. next_due advances
            # and commits per iteration regardless of outcome.
            try:
                records.append(self.start_execution(spark, job_id))
            except Exception as exc:  # noqa: BLE001 - sweep isolation
                record = ExecutionRecord(
                    execution_id=uuid.uuid4().hex[:12],
                    job_id=job_id,
                    status="FAILED",
                    attempts=0,
                    wall_seconds=0.0,
                    metrics={},
                    error=f"{type(exc).__name__}: {exc}",
                    started_at=now,
                )
                with self._lock:
                    self._insert_execution(record)
                records.append(record)
                # disable ONLY when the job row is definitively gone.
                # isinstance(exc, KeyError) also matched ContextError
                # (a KeyError subclass raised for e.g. an unset secret
                # env var) — a TRANSIENT failure that must keep
                # retrying, not permanently kill the schedule.
                if type(exc) is KeyError:
                    # probe + update under ONE lock acquisition: the
                    # connection is check_same_thread=False and shared
                    # with API threads, so an unlocked read can
                    # interleave with a concurrent write mid-cursor
                    with self._lock:
                        job_gone = not self._conn.execute(
                            "SELECT 1 FROM jobs WHERE job_id = ?", (job_id,)
                        ).fetchone()
                        if job_gone:
                            # job is gone: disable rather than re-fail forever
                            self._conn.execute(
                                "UPDATE schedules SET enabled = 0 "
                                "WHERE schedule_id = ?",
                                (schedule_id,),
                            )
                            self._conn.commit()
                    if job_gone:
                        continue
            nxt = next_due_after_run(trigger_type, json.loads(args_json), now)
            with self._lock:
                self._conn.execute(
                    "UPDATE schedules SET next_due = ?, enabled = ? WHERE schedule_id = ?",
                    (nxt, int(nxt is not None), schedule_id),
                )
                self._conn.commit()
        return records

    # -- contexts -------------------------------------------------------
    # (reference: api/routers/contexts.py — named connection-parameter
    #  sets with env-indirected secrets; see plans/context.py)

    def create_context(self, context_id: str, mapping: dict[str, Any]) -> str:
        """Persist a context. Secret-marker keys (password/token/…)
        must use ``*_env`` indirection — the store persists plaintext
        JSON in SQLite, so accepting a literal secret would write it
        to disk and hand it back through GET /contexts on any key the
        masking heuristic misses. The reference keeps secrets out of
        its persistence the same way (SecretProvider; only non-secret
        metadata is stored)."""
        from etl_core_spark.plans.context import (
            _SECRET_MARKERS,
            register_runtime_context,
        )

        if not context_id or not isinstance(mapping, dict):
            raise ValueError("context requires an id and a mapping object")
        literal_secrets = [
            k
            for k in mapping
            if not k.endswith("_env")
            and any(m in k.lower() for m in _SECRET_MARKERS)
        ]
        if literal_secrets:
            raise ValueError(
                f"context {context_id!r}: keys {sorted(literal_secrets)} look "
                f"like secrets and must not be stored literally — use "
                f"'<key>_env' naming an environment variable instead "
                f"(resolved at run time, never persisted)"
            )
        with self._lock:
            self._conn.execute(
                "INSERT OR REPLACE INTO contexts VALUES (?, ?, ?)",
                (context_id, json.dumps(mapping), time.time()),
            )
            self._conn.commit()
        register_runtime_context(context_id, mapping)
        return context_id

    def get_context(self, context_id: str, mask_secrets: bool = True) -> dict[str, Any]:
        from etl_core_spark.plans.context import mask_secret_keys

        row = self._conn.execute(
            "SELECT mapping_json FROM contexts WHERE context_id = ?", (context_id,)
        ).fetchone()
        if row is None:
            raise KeyError(f"unknown context_id {context_id!r}")
        mapping = json.loads(row[0])
        return mask_secret_keys(mapping) if mask_secrets else mapping

    def list_contexts(self) -> list[str]:
        return [
            r[0]
            for r in self._conn.execute(
                "SELECT context_id FROM contexts ORDER BY context_id"
            ).fetchall()
        ]

    def delete_context(self, context_id: str) -> None:
        from etl_core_spark.plans.context import unregister_runtime_context

        with self._lock:
            n = self._conn.execute(
                "DELETE FROM contexts WHERE context_id = ?", (context_id,)
            ).rowcount
            if n == 0:
                raise KeyError(f"unknown context_id {context_id!r}")
            self._conn.commit()
        unregister_runtime_context(context_id)

    def _load_contexts(self) -> None:
        from etl_core_spark.plans.context import register_runtime_context

        for ctx_id in self.list_contexts():
            register_runtime_context(ctx_id, self.get_context(ctx_id, mask_secrets=False))

    def close(self) -> None:
        self._conn.close()


def run_scheduler(
    store: "JobStore",
    spark,
    interval_s: float = 30.0,
    stop_event=None,
    max_sweeps: int | None = None,
    now_fn=time.time,
    on_sweep=None,
) -> int:
    """Foreground scheduler daemon: sweep ``run_due`` every
    ``interval_s`` seconds until ``stop_event`` is set (or
    ``max_sweeps`` sweeps, for bounded runs/tests). Reference parity:
    the FastAPI lifespan's 30 s APScheduler sync loop
    (``src/etl_core/main.py:100-173``) — here a plain loop the caller
    owns (CLI ``schedule daemon``, a systemd unit, or a thread beside
    the API server) instead of an embedded background scheduler.

    Fixed-rate: each sweep's own duration is subtracted from the
    sleep, so drift does not accumulate; a sweep longer than the
    interval triggers the next sweep immediately. ``stop_event.wait``
    doubles as the sleep, so shutdown is responsive mid-interval.
    Per-schedule failure isolation lives in ``run_due`` itself.
    Returns the number of sweeps performed.
    """
    import threading

    stop_event = stop_event if stop_event is not None else threading.Event()
    sweeps = 0
    while not stop_event.is_set():
        started = now_fn()
        records = store.run_due(spark, now=started)
        sweeps += 1
        if on_sweep is not None:
            on_sweep(sweeps, records)
        if max_sweeps is not None and sweeps >= max_sweeps:
            break
        delay = max(0.0, float(interval_s) - (now_fn() - started))
        stop_event.wait(delay)
    return sweeps
