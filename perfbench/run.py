"""Job-execution benchmark for etl_core_spark.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 18 --trace 0

Runs one workload as a closed loop with one client: each execution is
triggered only after the previous one returned its record.

- ``batch_etl``: one sf0.1-sized DAG through ``JobStore.start_execution``
  (the CLI and scheduler path).
- ``small_jobs``: four ~6k-row jobs in rotation, each POSTed to the HTTP
  API and followed by a history read.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, measured with no tracing installed. With ``--trace 1``
the layer wrappers and Spark's event log are on, and the metrics are
per layer. The line before it names every metric with its unit, plus
the host load stamp, which is never gated.

Inputs are generated from ``--seed``; outputs are checked against
DuckDB over the same inputs. Everything is written under
``.perfbench_work/`` (removed at exit) and, for traced runs, span files
under ``.perfbench_out/``, both in the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: warm-up executions before the timed region (see README.md,
#: "Warm-up"); the JVM's first executions run cold code paths
WARMUP = {"batch_etl": 6, "small_jobs": 32}
#: exec_s.tail's percentile: small_jobs runs ~45 executions in 18 s, so
#: about ten lie beyond p75; batch_etl's ~9 cannot have ten beyond any
#: percentile, and p75 there is steadier than the maximum
TAIL_PCT = 75
PROBE_EXECUTIONS = 3


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


def _env(work: str, trace: bool) -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # every JVM, spark-submit's launcher included, keeps its temp files
    # in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        from tracing import event_log_conf

        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(f"{k}={v}" for k, v in conf.items())


class Client:
    """Triggers executions through one entry point: the store directly,
    as the CLI and scheduler do, or (``http``) the API server, reading
    the job's history after each execution."""

    def __init__(self, spark, store, http: bool, tracer):
        self.spark, self.store, self.tracer = spark, store, tracer
        self.api = None
        if http:
            from etl_core_spark.api import ApiServer

            self.api = ApiServer(spark, store, port=0).start()

    def _request(self, method: str, path: str):
        import http.client

        conn = http.client.HTTPConnection("127.0.0.1", self.api.port, timeout=170)
        try:
            conn.request(method, path, body=b"" if method == "POST" else None)
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    def execute(self, job_id: str, exec_id: str) -> tuple[float, str, dict, int]:
        """Returns (latency, status, metrics, attempts); the latency runs
        from the trigger call to the returned record, so it leaves out
        the history read that follows on the HTTP path."""
        t0 = time.perf_counter()
        try:
            with self.tracer.execution(exec_id):
                if self.api is None:
                    rec = self.store.start_execution(self.spark, job_id)
                    status, metrics, attempts = rec.status, rec.metrics, rec.attempts
                else:
                    code, body = self._request("POST", f"/execution/{job_id}")
                    if code != 200:
                        return time.perf_counter() - t0, f"HTTP {code}: {body}", {}, 0
                    status, metrics, attempts = body["status"], body["metrics"], body["attempts"]
            latency = time.perf_counter() - t0
            if self.api is not None:
                with self.tracer.execution(exec_id + ".read", "read"):
                    code, history = self._request("GET", f"/execution?job_id={job_id}")
                if code != 200 or not history or history[-1]["status"] != status:
                    return latency, f"history read HTTP {code}", metrics, attempts
        except Exception as exc:  # noqa: BLE001 - counted in error_rate
            return time.perf_counter() - t0, f"raised {type(exc).__name__}: {exc}", {}, 0
        return latency, status, metrics, attempts

    def close(self) -> None:
        if self.api is not None:
            self.api.stop()


def _held_storage(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return jsc.getPersistentRDDs().size(), held / (1024.0 * 1024.0)


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import probes
    from tracing import Tracer

    tracer = Tracer(enabled=trace)
    t_start = time.perf_counter()
    sets = ["batch"] if workload == "batch_etl" else ["small"]
    if trace:
        sets.append("graph")
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), str(seed), work, *sets],
        capture_output=True, text=True, check=True, timeout=120,
    )
    inputs = json.loads(gen.stdout.strip().splitlines()[-1])
    inp = {k: v["path"] for k, v in inputs.items()}
    t_inputs = time.perf_counter()

    if trace:
        import tracing

        tracing.install(tracer)
    import jobs
    from etl_core_spark.plans.store import JobStore
    from etl_core_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench_{workload}")
    tracer.sc = spark.sparkContext
    t_session = time.perf_counter()

    out_dir = os.path.join(work, "out")
    store = JobStore(os.path.join(work, "jobs.db"))
    if workload == "batch_etl":
        configs = [jobs.batch_etl(inp, out_dir)]
        rows = [inputs["lineitem"]["rows"] + inputs["orders"]["rows"] + inputs["customers"]["rows"]]
    else:
        configs = [f(inp, os.path.join(out_dir, f.__name__)) for f in jobs.SMALL_JOBS]
        n = inputs["tickets"]["rows"]
        rows = [n, n, inputs["left"]["rows"] + inputs["right"]["rows"], n]
    job_ids = [store.create_job(c) for c in configs]
    client = Client(spark, store, workload == "small_jobs", tracer)
    t_register = time.perf_counter()

    def execute(i: int, prefix: str):
        k = i % len(job_ids)
        return (k, *client.execute(job_ids[k], f"{prefix}{i:04d}"))

    for i in range(WARMUP[workload]):
        execute(i, "w")
    t_warm = time.perf_counter()
    setup_s = probes.seconds_since_process_start()

    # ---- timed region ----
    cpu0, jvm = probes.cpu_times(), probes.jvm_pid()
    jvm_cpu0, py_cpu0 = probes.process_cpu_s(jvm), probes.driver_cpu_s()
    results = []
    t0 = time.perf_counter()
    deadline = t0 + seconds
    i = 0
    while time.perf_counter() < deadline:
        results.append(execute(i, "e"))
        i += 1
    wall = time.perf_counter() - t0
    cpu1 = probes.cpu_times()
    jvm_cpu = probes.process_cpu_s(jvm) - jvm_cpu0
    py_cpu = probes.driver_cpu_s() - py_cpu0
    driver_rss = probes.driver_peak_rss_mb()
    held_rdds, held_mb = _held_storage(spark)
    jvm_rss = probes.process_peak_rss_mb(jvm)

    probe = {}
    if trace:
        probe_job = store.create_job(jobs.graph_pagerank(inp, os.path.join(out_dir, "probe")))
        probe_ids = [f"p{j:04d}" for j in range(PROBE_EXECUTIONS)]
        probe_runs = [client.execute(probe_job, pid) for pid in probe_ids]
        probe["held_rdds"], probe["held_mb"] = _held_storage(spark)
        probe["runs"] = probe_runs
        probe["ids"] = probe_ids
    client.close()
    _stop_spark(spark)

    # ---- correctness ----
    from oracle import Oracle

    oracle = Oracle(work)
    names = [c["name"] for c in configs]
    for name in names:
        oracle.load(name, inp)
    failed = 0
    problems: list[str] = []
    for k, _, status, metrics, _ in results:
        p = oracle.check_record(names[k], status, metrics)
        failed += bool(p)
        problems += p
    for name, cfg in zip(names, configs):
        sink_dir = os.path.dirname(cfg["components"][-1]["filepath"])
        problems += oracle.check_outputs(name, sink_dir)
    if trace:
        for _, status, _, _ in probe["runs"]:
            if status != "SUCCESS":
                problems.append(f"probe: status {status}")
        problems += oracle.check_pagerank(inp["edges"], os.path.join(out_dir, "probe", "sink_ranks"))
    oracle.close()

    lat = [r[1] for r in results]
    half = len(lat) // 2
    e2e = {
        "setup_s": (setup_s, "s"),
        "exec_s.p50": (statistics.median(lat), "s"),
        "exec_s.tail": (_pct(lat, TAIL_PCT), "s"),
        "rows_per_s": (sum(rows[r[0]] for r in results) / wall, "rows/s"),
        "driver_rss_mb": (driver_rss, "MB"),
    }
    info = {
        "workload": workload,
        "seed": seed,
        "executions": len(lat),
        "tail": f"p{TAIL_PCT} of {len(lat)}",
        "error_rate": failed / max(1, len(lat)),
        "held_storage_mb": held_mb,
        "drift": (statistics.median(lat[half:]) / statistics.median(lat[:half])) if half else 1.0,
        "host.loadavg": probes.loadavg(),
        "host.steal_frac": probes.steal_share(cpu0, cpu1),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "problems": problems[:10],
    }
    layer = {
        "session.start_s": (t_session - t_inputs, "s"),
        "setup.inputs_s": (t_inputs - t_start, "s"),
        "setup.register_s": (t_register - t_session, "s"),
        "setup.warmup_s": (t_warm - t_register, "s"),
        "session.held_rdds": (held_rdds, "count"),
        "session.held_storage_mb": (held_mb, "MB"),
        "proc.py_cpu_s": (py_cpu / max(1, len(lat)), "s"),
        "proc.jvm_cpu_s": (jvm_cpu / max(1, len(lat)), "s"),
        "proc.jvm_peak_rss_mb": (jvm_rss, "MB"),
        "host.steal_frac": (info["host.steal_frac"], "fraction"),
        "host.loadavg": (info["host.loadavg"], "load"),
    }
    if trace:
        layer.update(_layer_metrics(tracer, work, results, probe, client.api is not None, workload, seed))
    return {
        "correct": not problems,
        "attempted": len(lat),
        "failed": failed,
        "e2e": e2e,
        "layer": layer,
        "info": info,
    }


def _layer_metrics(tracer, work, results, probe, http: bool, workload, seed) -> dict:
    from tracing import execution_layers, read_event_log

    log = read_event_log(os.path.join(work, "eventlog"))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{workload}-{seed}.json"))
    ids = [f"e{i:04d}" for i in range(len(results))]
    attempts = {eid: r[4] for eid, r in zip(ids, results)}
    per_exec = execution_layers(tracer.spans, log, ids, attempts)
    units = {"spark_jobs": "count", "stages": "count", "tasks": "count",
             "retries": "count", "max_task_ratio": "ratio"}
    metrics = {}
    for name in per_exec[0]:
        if name == "exec_s":
            continue
        unit = units.get(name.split(".", 1)[1], "MB" if name.endswith("_mb") else "s")
        metrics[name] = (statistics.median(e[name] for e in per_exec), unit)
    metrics["trace.exec_s.p50"] = (statistics.median(e["exec_s"] for e in per_exec), "s")
    metrics["store.read_s"] = (
        statistics.median(s["end"] - s["start"] for s in tracer.spans
                          if s["name"] == "store.read" and s["exec"].startswith("e"))
        if http else 0.0, "s")
    probe_exec = execution_layers(tracer.spans, log, probe["ids"], {})
    metrics["probe.held_rdds"] = (probe["held_rdds"], "count")
    metrics["probe.held_storage_mb"] = (probe["held_mb"], "MB")
    metrics["probe.spark_jobs"] = (
        statistics.median(e["builder.spark_jobs"] + e["runner.spark_jobs"] for e in probe_exec), "count")
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "etl_core_spark", "plans", "store.py")):
        print(f"perfbench: no etl_core_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _env(work, bool(args.trace))
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = res["layer"] if args.trace else res["e2e"]
    shown = " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items())
    info = res["info"]
    print(f"[{info['workload']} seed={info['seed']} executions={info['executions']} "
          f"tail={info['tail']} error_rate={info['error_rate']:.4g} fraction "
          f"held_storage_mb={info['held_storage_mb']:.6g} MB drift={info['drift']:.4f} "
          f"cpus={info['SPARK_GRAFT_CPUS']} driver_mem={info['SPARK_GRAFT_DRIVER_MEM']}] {shown} "
          f"| load stamp (not gated): host.loadavg={info['host.loadavg']:.2f} "
          f"host.steal_frac={info['host.steal_frac']:.4f}")
    for p in info["problems"]:
        print(f"MISMATCH {p}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
