"""Parquet source/sink (beyond-reference; the scale-native format).

The reference has no columnar format at all — parquet is the first
thing a 100 TB deployment needs: column pruning + predicate pushdown
+ splittable compressed storage. Sinks support partitioning and
bucketing so downstream joins co-locate without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import OperatorConfigError, register_operator
from etl_core_spark.session import checkpoint, run_scope
from etl_core_spark.sources.base_io import SinkOperator, SourceOperator


@register_operator("read_parquet")
class ReadParquet(SourceOperator):
    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("read_parquet requires 'filepath'")

    def read(self) -> DataFrame:
        return self.read_files("parquet")


@register_operator("write_parquet")
class WriteParquet(SinkOperator):
    """Parquet sink with write-time LAYOUT control — the knobs that
    decide whether a 100 TB table is queryable:

    - ``num_files``: exact output file count (overrides
      ``target_file_mb``; also pins the range partitioner past AQE's
      small-data coalescing, which is what you want for a
      deterministic layout).
    - ``target_file_mb``: compaction. Uncontrolled parallelism writes
      one file per task; 32 tasks x 10k jobs = millions of tiny files
      and a listing/footer storm on every read. The sink sizes the
      file count from the optimizer's byte estimate of THIS plan
      (``ceil(bytes / target)``), so output files land near the
      target regardless of upstream partitioning.
    - ``sort_by``: range-partition + sort within partitions on the
      given columns → tight per-file min/max on the leading column
      (row-group skipping for filters on it).
    - ``zorder_by``: Morton-interleaved multi-column clustering
      (functions/layout.py) → every listed column gets usable
      min/max locality, at the cost of none being perfectly tight.

    ``sort_by``/``zorder_by`` imply a range shuffle; combined with
    ``target_file_mb`` the range partitioner uses the computed count.
    """

    def validate_config(self) -> None:
        if "filepath" not in self.config:
            raise OperatorConfigError("write_parquet requires 'filepath'")
        if self.config.get("sort_by") and self.config.get("zorder_by"):
            raise OperatorConfigError("sort_by and zorder_by are exclusive")

    def _target_partitions(self, df: DataFrame) -> int | None:
        if self.config.get("num_files"):
            return max(1, int(self.config["num_files"]))
        tmb = self.config.get("target_file_mb")
        if not tmb:
            return None
        try:
            size = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:
            return None
        if size <= 0:
            return 1
        return max(1, -(-size // (int(tmb) << 20)))

    def write(self, df: DataFrame) -> None:
        n = self._target_partitions(df)
        sort_by = list(self.config.get("sort_by") or [])
        zorder_by = list(self.config.get("zorder_by") or [])
        drop_z = False
        if zorder_by:
            from etl_core_spark.functions.layout import zvalue

            df = zvalue(df, zorder_by, str(self.config.get("zorder_method", "range")))
            sort_by = ["__z"]
            drop_z = True
        if sort_by:
            cols = [F.col(c) for c in sort_by]
            df = (
                df.repartitionByRange(n, *cols) if n else df.repartitionByRange(*cols)
            ).sortWithinPartitions(*cols)
            if drop_z:
                df = df.drop("__z")
        elif n:
            from etl_core_spark.sources.base_io import resize_partitions

            df = resize_partitions(df, n)
        writer = df.write.mode(self.config.get("mode", "overwrite"))
        if self.config.get("partition_by"):
            writer = writer.partitionBy(*self.config["partition_by"])
        if self.config.get("compression"):
            writer = writer.option("compression", self.config["compression"])
        writer.parquet(str(self.config["filepath"]))


# its own run scope: the checkpoints below are dead once the table is
# written, so they are freed when the call returns, not when the run
# that called it ends
@run_scope()
def upsert_parquet(
    updates: DataFrame,
    table_path: str,
    keys: list[str],
    partition_col: str | None = None,
    staged: bool = False,
    allow_schema_evolution: bool = False,
    stable_partitions: bool = True,
) -> None:
    """Batch MERGE-INTO for a plain parquet table: rows in ``updates``
    REPLACE existing rows with the same key; new keys append — the
    standalone form of ``incremental_rollup``'s micro-batch merge
    (streaming/stream.py), for batch table maintenance without a
    table format.

    I/O scales with the TOUCHED data, not the table, when
    ``partition_col`` is set (a single column or a LIST — the table's
    ``partitionBy`` columns, e.g. ``["ds", "lang"]``): the carried
    read is pruned to the leaf partitions the batch touches (an
    OR-of-ANDs predicate over the touched tuples, null-safe per
    column), and dynamic partition overwrite rewrites only those
    leaves. Without partition columns the whole table rewrites
    (documented: that is what keyed upsert over a heap of parquet
    files costs — partition your tables).

    ``stable_partitions`` (default True) is the pruning CONTRACT: a
    key never changes its partition values between upserts. If a
    batch CAN move keys across partitions (e.g. a mutable ``status``
    partition column that is not part of the key), pass
    ``stable_partitions=False`` — the carry then scans the WHOLE
    table so the key's old row in its former partition is deleted
    too; with the default pruned carry that stale row would survive
    invisibly (the old partition is never read or rewritten) and the
    key would be silently duplicated. Keys that INCLUDE every
    partition column are immune by construction (a moved row is a
    different key).

    Keys compare null-safely: a NULL key forms its own identity, it
    does not silently duplicate (exact_dedup's eqNullSafe lesson).

    Schema evolution: by default a column-set mismatch between the
    batch and the table raises (a typo'd column must not silently
    rewrite the table). ``allow_schema_evolution=True`` accepts
    added/removed columns — the missing side fills with NULLs — and
    REWRITES THE WHOLE TABLE that run (the partition-pruned carry is
    bypassed) so every parquet file carries the union schema: mixed
    per-file schemas would require ``mergeSchema`` on every future
    read, and a reader who forgets it silently loses the new column.
    One full rewrite per schema change is the price of plain parquet;
    a table format does this with metadata only.

    Consistency: not transactional — use a table format
    (Delta/Iceberg) when you need snapshot isolation. With the
    default in-place dynamic overwrite, a concurrent reader can
    observe a touched partition for the full duration of its rewrite.
    ``staged=True`` (requires ``partition_col``) narrows that window
    to two directory renames: the merged data is first written under
    a dot-prefixed staging directory INSIDE the table path (hidden
    from Spark's file listing, so concurrent readers never see it),
    then each touched partition directory is swapped in via rename —
    microseconds on a POSIX/HDFS filesystem instead of the whole
    write. Renames are not atomic on object stores (S3): keep the
    default there. Untouched partitions are never listed, rewritten,
    or renamed in either mode.
    """
    from etl_core_spark.sources.hadoop_fs import fs_exists as _table_exists

    spark = updates.sparkSession
    if not keys:
        raise OperatorConfigError("upsert_parquet requires 'keys'")
    pcols: list[str] = (
        [] if partition_col is None
        else [partition_col] if isinstance(partition_col, str)
        else list(partition_col)
    )
    if staged and not pcols:
        raise OperatorConfigError(
            "upsert_parquet staged=True requires partition columns "
            "(the rename/swap unit is the leaf partition directory)"
        )
    if staged and not stable_partitions:
        raise OperatorConfigError(
            "upsert_parquet staged=True requires stable_partitions: the "
            "swap only replaces directories present in the merged batch, "
            "so it cannot delete a partition a moved key vacated"
        )
    updates = checkpoint(updates)  # detach from any streaming/
    # source lineage; also read consistently while overwriting below
    if updates.isEmpty():
        # creating a table from an empty batch would leave a directory
        # with a _SUCCESS marker and no parquet files — every later
        # read/merge dies on UNABLE_TO_INFER_SCHEMA (same failure the
        # streaming rate soak exposed in incremental_rollup); and on
        # an existing table an empty upsert is a pointless rewrite
        return
    merged = updates
    existed = _table_exists(spark, table_path)
    schema_changed = False
    pruned = False
    if existed:
        existing = spark.read.parquet(table_path)
        schema_changed = set(existing.columns) != set(updates.columns)
        if schema_changed:
            if not allow_schema_evolution:
                raise OperatorConfigError(
                    "upsert_parquet: batch columns "
                    f"{sorted(set(updates.columns) - set(existing.columns))} "
                    "added / "
                    f"{sorted(set(existing.columns) - set(updates.columns))} "
                    "missing vs the table; pass allow_schema_evolution=True "
                    "to accept (full-table rewrite) or fix the batch"
                )
            missing_keys = [k for k in keys if k not in updates.columns
                            or k not in existing.columns]
            if missing_keys or any(
                c not in updates.columns or c not in existing.columns
                for c in pcols
            ):
                raise OperatorConfigError(
                    "upsert_parquet: schema evolution cannot add or remove "
                    "key/partition columns"
                )
        pruned = bool(pcols) and not schema_changed and stable_partitions
        if pruned:
            # bounded collect: distinct touched partition TUPLES
            touched = updates.select(*pcols).distinct().collect()
            if not touched:
                return
            # NULL-safe leaf pruning as OR-of-ANDs over the touched
            # tuples: isin()/== never match NULL, but dynamic overwrite
            # DOES rewrite the NULL leaf (__HIVE_DEFAULT_PARTITION__)
            # when the batch touches it — a non-null-safe predicate
            # would drop every existing NULL-leaf row whose key isn't
            # in the batch.
            pred = None
            for row in touched:
                term = None
                for c in pcols:
                    v = row[c]
                    t = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                    term = t if term is None else (term & t)
                pred = term if pred is None else (pred | term)
            existing = existing.where(pred)
        cond = None
        for k in keys:
            eq = existing[k].eqNullSafe(updates[k])
            cond = eq if cond is None else (cond & eq)
        carried = checkpoint(existing.join(updates, on=cond, how="left_anti"))
        merged = updates.unionByName(carried, allowMissingColumns=schema_changed)
    # staged + schema evolution still works: the full carry puts every
    # partition into staging, so the swap loop replaces them all
    if staged and existed:
        _staged_partition_swap(spark, merged, table_path, pcols)
        return
    writer = merged.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
        if pruned or not existed:
            # per-WRITE dynamic overwrite (not the session conf — a
            # concurrent writer on the same SparkSession must not
            # inherit or clobber it): only touched leaves rewrite.
            # Full carries (schema evolution, stable_partitions=False)
            # deliberately stay STATIC: the whole table is replaced,
            # so a partition a moved key vacated is deleted instead of
            # surviving as a stale directory dynamic mode never lists.
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(table_path)


def _staged_partition_swap(
    spark, merged: DataFrame, table_path: str, pcols: list[str]
) -> None:
    """Write the merged (touched-partition) data under a dot-prefixed
    staging directory inside the table path — invisible to Spark's
    file listing — then swap each touched LEAF partition directory
    into place with two FileSystem renames. With multiple partition
    columns the swap unit is the leaf of the concatenated partition
    path (``ds=.../lang=...``): intermediate levels are plain parent
    directories that are created as needed and never renamed, so two
    batches touching sibling leaves under the same first-level value
    cannot interfere. Uses the Hadoop FileSystem API,
    so local paths and HDFS both work; renames are NOT atomic on
    object stores (callers keep ``staged=False`` there). A crash OR
    error between the two renames of one partition leaves its old
    data in the ``.upsert_trash_*`` directory for manual recovery
    (trash and staging are only cleaned up after EVERY swap
    succeeded) — the documented residual risk, versus the default
    mode's whole-rewrite-duration inconsistency window.
    ``FileSystem.rename`` reports failure by returning false, not by
    raising — every return value is checked and a false aborts loudly
    (a silently-false rename would either leave stale data while the
    caller believes the upsert committed, or nest the source inside
    an existing destination directory)."""
    import uuid

    from etl_core_spark.sources.hadoop_fs import _fs

    token = uuid.uuid4().hex[:12]
    fs, root, jvm = _fs(spark, table_path)
    HPath = jvm.org.apache.hadoop.fs.Path
    staging = HPath(root, f".upsert_staging_{token}")
    trash = HPath(root, f".upsert_trash_{token}")
    merged.write.mode("overwrite").partitionBy(*pcols).parquet(
        f"{table_path}/.upsert_staging_{token}"
    )

    def rename_or_raise(src, dst):
        if not fs.rename(src, dst):
            raise IOError(
                f"staged upsert: rename {src} -> {dst} failed (returned "
                f"false); old partition data is preserved under {trash}"
            )

    def leaf_dirs(base, cols):
        # descend the staging tree level by level; only directories
        # named <col>=<value> for the expected level are partition
        # dirs (_SUCCESS and friends stay in staging)
        prefix = f"{cols[0]}="
        for st in fs.listStatus(base):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith(prefix)):
                continue
            if len(cols) == 1:
                yield st.getPath(), name
            else:
                for path, rel in leaf_dirs(st.getPath(), cols[1:]):
                    yield path, f"{name}/{rel}"

    fs.mkdirs(trash)
    for src, rel in leaf_dirs(staging, pcols):
        final = HPath(root, rel)
        if fs.exists(final):
            trashed = HPath(trash, rel)
            fs.mkdirs(trashed.getParent())
            rename_or_raise(final, trashed)
        else:
            fs.mkdirs(final.getParent())
        rename_or_raise(src, final)
    # cleanup ONLY after every swap succeeded — an exception above
    # leaves trash (old data) and staging (new data) intact for
    # recovery instead of destroying both in a finally block
    fs.delete(trash, True)
    fs.delete(staging, True)


@register_operator("upsert_parquet")
class UpsertParquet(SinkOperator):
    """Keyed parquet upsert sink: config ``filepath``, ``keys``,
    optional ``partition_by`` (one or more columns — the
    leaf-partition pruning unit; ``staged`` swaps leaf directories
    and works with any number of partition columns)."""

    def validate_config(self) -> None:
        for key in ("filepath", "keys"):
            if not self.config.get(key):
                raise OperatorConfigError(f"upsert_parquet requires {key!r}")

    def write(self, df: DataFrame) -> None:
        pb = self.config.get("partition_by")
        if isinstance(pb, (list, tuple)):
            pb = list(pb) or None
        upsert_parquet(
            df, str(self.config["filepath"]), list(self.config["keys"]), pb,
            staged=bool(self.config.get("staged", False)),
            allow_schema_evolution=bool(
                self.config.get("allow_schema_evolution", False)
            ),
            stable_partitions=bool(
                self.config.get("stable_partitions", True)
            ),
        )
