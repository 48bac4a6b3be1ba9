"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same conf applies
per-executor. All scale-sensitive knobs (AQE, adaptive skew join,
shuffle partition sizing, Arrow) are on by default so plans built by
this engine survive a 100 TB / 1000-executor deployment without
code changes: AQE coalesces small shuffle partitions at low SF and
splits skewed ones at high SF.

Operator intermediates belong to a run scope. Operators cache
relations they read several times (``persist_intermediate``) and cut
deep plans with local checkpoints (``checkpoint``); both register
with the scope open in the calling context (``run_scope``, bound
through a contextvar), or with an ambient scope when none is open.
The lifetime rule: everything is released when the scope exits,
also on error, and never earlier unless the operator itself calls
``release`` on a frame nothing references any more, such as a
superseded loop round. A persisted frame released early only costs
a recompute, but a local checkpoint has no lineage: freed while a
plan still reads it, that plan fails. So a scope must span the
build and every action that consumes it, and each concurrent run
needs its own scope; ``plans.runner.run_job`` opens one per run.
"""

from __future__ import annotations

import contextlib
import contextvars
import os
import threading

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Spark's bundled RocksDB streaming state store (Spark 3.2+)
ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "etl_core_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    use_rocksdb_state_store: bool | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Defaults matter at scale:

    - AQE (+ skew-join splitting + small-partition coalescing) lets a
      statically-built plan re-shape itself to the actual data volume,
      which is what makes one plan work at sf0.001 and at 100 TB.
    - ``spark.sql.shuffle.partitions`` is only the *initial* number;
      AQE coalesces. On a cluster it should be ~2-3× total cores.
    - Arrow makes the Pandas-UDF slow paths (Excel bridge, multimodal
      decode) batch-columnar instead of row-pickled.
    - PySpark's DataFrame debugging is off. With it on, every
      ``F.col`` and Column method called on a thread with an active
      session records its Python call site in the JVM for the
      "DataFrame query context" of Spark errors: about five extra
      Py4J round trips per Column, a stack walk, and an IPython import
      on first use. Here that call site always points inside
      ``etl_core_spark``, never at the user's JSON job config, so it
      costs round trips and driver memory and tells the user nothing.
      PySpark caches the flag per process on first use, so with the
      default every entry point builds the same way whichever thread
      gets there first. ``SPARK_GRAFT_EXTRA_CONF`` can turn it back on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if use_rocksdb_state_store or (
        use_rocksdb_state_store is None
        and os.environ.get("SPARK_GRAFT_ROCKSDB_STATE") == "1"
    ):
        # Streaming state off-heap: the default HDFSBackedStateStore
        # keeps every key's state in executor JVM heap — fine for the
        # bounded watermarked states this engine builds, but a large
        # keyspace (per-user sessions over 100 TB of events) wants
        # RocksDB's disk-spilling store. Ships inside Spark 3.2+; no
        # extra jars.
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            ROCKSDB_STATE_STORE_PROVIDER,
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # Deployment-time overrides without code edits (cluster sizing,
    # shuffle codec, AQE thresholds): semicolon-separated k=v pairs,
    # applied LAST so they win over engine defaults and caller
    # extra_conf. Empty/unset = no-op, so local behavior and the
    # bench driver contract are unchanged.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in env_conf.split(";"):
        pair = pair.strip()
        if pair and "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


class RunScope:
    """Owner of the frames operators cache while this scope is open:
    persisted intermediates and local checkpoints. ``close()`` frees
    them all; ``release(df)`` frees one early. Thread-safe, because a
    scope can be shared by threads that copy its context."""

    def __init__(self):
        self._held: list = []  # (df, is_checkpoint), oldest first
        self._lock = threading.Lock()

    def _own(self, df, is_checkpoint: bool):
        with self._lock:
            self._held.append((df, is_checkpoint))
        return df

    def persist(self, df, key: str | None = None):
        if key is not None:
            from pyspark.sql import functions as F

            df = df.repartition(F.col(key))
        df.persist()
        return self._own(df, False)

    def checkpoint(self, df, eager: bool = True):
        return self._own(df.localCheckpoint(eager=eager), True)

    def release(self, df) -> None:
        with self._lock:
            mine = [h for h in self._held if h[0] is df]
            self._held = [h for h in self._held if h[0] is not df]
        for held in mine:
            _free(*held)

    def close(self) -> int:
        with self._lock:
            held, self._held = self._held, []
        for h in reversed(held):
            _free(*h)
        return len(held)


def _free(df, is_checkpoint: bool) -> None:
    try:
        if is_checkpoint:
            # a checkpoint's blocks belong to its LogicalRDD, not the
            # cache manager: DataFrame.unpersist would leave them
            # pinned until the JVM happens to collect the object
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            df.unpersist()
    except Exception:
        pass  # session may already be gone


#: the scope used when no ``run_scope()`` is open (scripts, bench.py,
#: interactive use); emptied only by ``release_intermediates()``
_AMBIENT = RunScope()
_SCOPE: contextvars.ContextVar[RunScope] = contextvars.ContextVar(
    "etl_core_spark_run_scope", default=_AMBIENT
)


@contextlib.contextmanager
def run_scope():
    """Open a scope that owns every intermediate operators cache in
    this context until it exits; exit frees them, also on error."""
    scope = RunScope()
    token = _SCOPE.set(scope)
    try:
        yield scope
    finally:
        _SCOPE.reset(token)
        scope.close()


def persist_intermediate(df, key: str | None = None):
    """Persist ``df`` in the current scope. With ``key``, cache it
    hash-partitioned on that column first: consumers that join or
    group on ``key`` (every round of a graph loop, both sides of a
    self-join) then reuse the cached layout instead of re-exchanging
    the relation each time."""
    return _SCOPE.get().persist(df, key)


def checkpoint(df, eager: bool = True):
    """``df.localCheckpoint(eager)`` owned by the current scope."""
    return _SCOPE.get().checkpoint(df, eager)


def release(df) -> None:
    """Free ``df`` now if the current scope owns it: a superseded loop
    round, or a checkpoint already written out."""
    _SCOPE.get().release(df)


def release_intermediates() -> int:
    """Free everything the current scope holds; returns how many
    frames were released. Only the caller's scope is touched, so a
    concurrent run's checkpoints survive."""
    return _SCOPE.get().close()


def ensure_parallelism(
    df,
    target: int | None = None,
    approx_rows: int | None = None,
    min_rows_per_partition: int = 16,
    min_bytes_per_partition: int = 8 * 1024,
):
    """Size partitions to the actual work, within ``target`` (cores).

    Parquet splits by bytes (`maxPartitionBytes`), so a small file
    arrives as ONE partition — fine for scan-bound queries, but a
    CPU-bound narrow map (shingling, hashing, vector math, Pandas
    UDFs) then runs on one core. The inverse failure also exists: a
    tiny local DataFrame arrives pre-sliced to defaultParallelism, and
    64 rows fanned to 32 Python workers pay 32× the Arrow/worker
    fixed cost. This helper caps the partition count by the estimated
    input volume (row count when known — via ``approx_rows`` or plan
    stats — else optimizer ``sizeInBytes``; the per-partition floor is
    deliberately small because CPU cost per byte is enormous for
    shingling/hashing) and then repartitions up or coalesces down.
    At 100 TB both estimates exceed ``target`` and this is a no-op.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    cap = target
    rows = approx_rows
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        if rows is None and stats.rowCount().isDefined():
            rows = int(str(stats.rowCount().get()))
        if rows is not None:
            cap = min(cap, max(1, -(-rows // min_rows_per_partition)))
        else:
            size = int(str(stats.sizeInBytes()))
            # Long.MaxValue / huge sentinels mean "unknown". The
            # unknown case is (in this engine) always a LogicalRDD
            # from createDataFrame; a limit-count probe there costs a
            # Python-worker round-trip per partition (measured ~1-2 s
            # for 64 rows — more than the fan-out it would prevent),
            # so callers with local data pass approx_rows or pre-size
            # the DataFrame instead (synthetic_media does).
            if 0 <= size < (1 << 60):
                cap = min(cap, max(1, -(-size // min_bytes_per_partition)))
    except Exception:
        pass  # stats unavailable — fall back to core count
    current = df.rdd.getNumPartitions()
    if current < cap:
        return df.repartition(cap)
    if current > 2 * cap and cap < target:
        return df.coalesce(cap)
    return df


def estimated_size_bytes(df) -> int | None:
    """Optimizer size estimate for a relation, or None when unknown
    (LogicalRDD from createDataFrame, huge sentinel values, any
    introspection failure). The SINGLE source of truth for every
    stats-gated broadcast decision in the engine — keep the policy in
    one place so a cap or API change cannot diverge the gates."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        # Spark's "unknown" is defaultSizeInBytes = Long.MaxValue —
        # that sentinel must surface as None, not a 9-EB estimate
        return size if 0 <= size < (1 << 60) else None
    except Exception:  # noqa: BLE001 - introspection is best-effort
        return None


def maybe_broadcast(df, force: bool | None, cap_bytes: int = 8 << 20):
    """Stats-gated broadcast hint: ``True`` forces, ``False`` never,
    ``None`` hints only when the optimizer BOUNDS the relation under
    ``cap_bytes``. Spark hard-caps broadcasts at 8 GB and an explicit
    hint bypasses autoBroadcastJoinThreshold, so an unconditional hint
    on an unbounded relation is an OOM promise at scale."""
    from pyspark.sql import functions as F

    if force is False:
        return df
    if force is None:
        size = estimated_size_bytes(df)
        if size is None or size > cap_bytes:
            return df
    return F.broadcast(df)
