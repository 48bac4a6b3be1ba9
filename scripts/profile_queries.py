"""Stage-level profiler for declared queries (optimization guide §1).

Usage: python scripts/profile_queries.py <query> [query ...]

Runs each named query once through the noop sink with the Spark event
log enabled, then parses the event log and prints, per query: wall
seconds, job/stage count, and per-stage executor-run / shuffle
read+write byte totals so shuffle-bound vs compute-bound stages are
visible without the UI (spark.ui is disabled in this sandbox).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EVLOG_DIR = "/tmp/spark-events"


def main() -> int:
    os.makedirs(EVLOG_DIR, exist_ok=True)
    import __spark_entry__ as entrymod
    from etl_core_spark.session import get_spark, release_intermediates

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.path.abspath(sf_dir)
    # Spark's Python workers import etl_core_spark from the working directory
    os.chdir(ROOT)
    spark = get_spark(
        app_name="profile_queries",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVLOG_DIR,
        },
    )
    # session warm-up mirroring bench.py so first-query costs don't
    # pollute the profile
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    for _tbl in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        try:
            spark.read.parquet(f"{sf_dir}/{_tbl}.parquet").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass

    qmap = entrymod.queries()
    names = sys.argv[1:] or list(qmap)
    walls = {}
    for name in names:
        sc = spark.sparkContext
        sc.setJobDescription(f"PROFILE::{name}")
        t0 = time.monotonic()
        qmap[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        walls[name] = time.monotonic() - t0
        sc.setJobDescription(None)
        release_intermediates()

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    # ---- parse the event log ----
    # Spark 4 rolling layout splits one app's log across
    # events_1_..., events_2_... part files — read them ALL in order
    # or every job after the first roll loses attribution
    paths = []
    single = os.path.join(EVLOG_DIR, app_id)
    if os.path.exists(single):
        paths = [single]
    else:
        v2 = os.path.join(EVLOG_DIR, f"eventlog_v2_{app_id}")
        if os.path.isdir(v2):
            paths = [
                os.path.join(v2, p)
                for p in sorted(
                    (p for p in os.listdir(v2) if p.startswith("events_")),
                    key=lambda p: int(p.split("_")[1]),
                )
            ]
        else:
            paths = [
                os.path.join(EVLOG_DIR, p)
                for p in sorted(os.listdir(EVLOG_DIR))
                if p.startswith(app_id)
            ]

    def _open(p):
        if p.endswith(".zstd"):
            import io
            import subprocess

            raw = subprocess.run(
                ["zstd", "-dc", p], capture_output=True, check=True
            ).stdout
            return io.StringIO(raw.decode("utf-8", "replace"))
        return open(p)
    jobs = {}  # jobId -> {desc, submit, complete, stages: [stageIds]}
    stages = {}  # stageId -> metrics dict
    import itertools

    def _lines():
        for p in paths:
            with _open(p) as fh:
                yield from fh

    for line in itertools.chain(_lines()):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description", ""),
                    "submit": ev.get("Submission Time", 0),
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif et == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["complete"] = ev.get("Completion Time", 0)
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                # update, don't replace: TaskEnd events for this stage
                # have already accumulated metrics into the same dict
                stages.setdefault(sid, {}).update(
                    {
                        "name": si.get("Stage Name", "")[:60],
                        "tasks": si.get("Number of Tasks", 0),
                        "wall_ms": (comp - sub) if sub and comp else 0,
                    }
                )
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                m = ev.get("Task Metrics") or {}
                st["run_ms"] = st.get("run_ms", 0) + m.get(
                    "Executor Run Time", 0
                )
                st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                st["ser_ms"] = st.get("ser_ms", 0) + m.get(
                    "Executor Deserialize Time", 0
                )
                srm = m.get("Shuffle Read Metrics") or {}
                st["sh_read"] = (
                    st.get("sh_read", 0)
                    + srm.get("Remote Bytes Read", 0)
                    + srm.get("Local Bytes Read", 0)
                )
                st["fetch_ms"] = st.get("fetch_ms", 0) + srm.get(
                    "Fetch Wait Time", 0
                )
                swm = m.get("Shuffle Write Metrics") or {}
                st["sh_write"] = st.get("sh_write", 0) + swm.get(
                    "Shuffle Bytes Written", 0
                )
                pym = {
                    a["Name"]: a.get("Update")
                    for a in ev.get("Task Info", {}).get("Accumulables", [])
                    if "Name" in a
                }
                st.setdefault("input", 0)
                im = m.get("Input Metrics") or {}
                st["input"] += im.get("Bytes Read", 0)
                _ = pym

    # ---- report ----
    per_q: dict[str, list] = {}
    for jid, j in sorted(jobs.items()):
        desc = j.get("desc", "")
        if not desc.startswith("PROFILE::"):
            continue
        qname = desc.split("::", 1)[1]
        per_q.setdefault(qname, []).append(j)

    for qname in names:
        jlist = per_q.get(qname, [])
        njobs = len(jlist)
        print(
            f"\n=== {qname}: wall {walls.get(qname, 0):.2f}s, "
            f"{njobs} jobs ==="
        )
        agg = {}
        rows = []
        for j in jlist:
            jdur = (j.get("complete", 0) - j.get("submit", 0)) / 1000.0
            for sid in j["stages"]:
                st = stages.get(sid)
                if st is None or "wall_ms" not in st:
                    continue
                rows.append((sid, jdur, st))
        rows.sort(key=lambda r: -r[2].get("wall_ms", 0))
        tot_wall = sum(r[2].get("wall_ms", 0) for r in rows)
        tot_run = sum(r[2].get("run_ms", 0) for r in rows)
        tot_sr = sum(r[2].get("sh_read", 0) for r in rows)
        tot_sw = sum(r[2].get("sh_write", 0) for r in rows)
        print(
            f"  stages={len(rows)} stage-wall={tot_wall/1000:.2f}s "
            f"exec-run={tot_run/1000:.2f}s "
            f"shuffleR={tot_sr/1e6:.1f}MB shuffleW={tot_sw/1e6:.1f}MB"
        )
        for sid, jdur, st in rows[:8]:
            print(
                f"   stage {sid}: wall={st.get('wall_ms',0)/1000:.2f}s "
                f"run={st.get('run_ms',0)/1000:.2f}s "
                f"gc={st.get('gc_ms',0)/1000:.2f}s "
                f"tasks={st.get('tasks',0)} "
                f"shR={st.get('sh_read',0)/1e6:.1f}MB "
                f"shW={st.get('sh_write',0)/1e6:.1f}MB "
                f"in={st.get('input',0)/1e6:.1f}MB  {st.get('name','')}"
            )
        _ = agg
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
