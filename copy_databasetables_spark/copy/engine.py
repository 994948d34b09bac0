"""Reference-parity copy engine (SURVEY.md §2.1, M1).

The upstream reference is a SQL Server table-copy utility: per table it
scripts the schema (SMO Scripter), recreates the target, bulk-loads all
rows (SqlBulkCopy with BatchSize), and checks the copied row count
(SURVEY.md §3.1 [U] — /root/reference is empty, so parity claims cite
the survey's functional reconstruction, not file:line).

Spark-first re-expression:

    schema scripting  →  StructType → DDL string (``schema_to_ddl``)
    target creation   →  ``spark.sql(CREATE TABLE ...)`` / write modes
    bulk load         →  ``df.write`` (parquet here; JDBC in sources/)
    batch size knob   →  partition count (``repartition(n)``)
    row-count check   →  ``_verify_target`` (count + optional checksum)

Scale notes (100 TB): a copy is scan → write with NO shuffle unless
repartitioning is requested; both sides stream per-partition. Verifying
is one pass per side: the write observes the count (and checksum) of its
rows; ONE observed scan of the files, read with the written schema (no
inference job) into a noop sink, recomputes it — 2 Spark jobs a table,
neither with an exchange. ``verify_copy`` runs the same target check on
an existing copy, with one observed scan of the source as the
expectation. The modes that read an existing target (merge, delete,
SCD2, CDC, incremental) read it with the schema its footer records
(``_read_target_if_exists``). Re-runs
overwrite partitioned tables by partition (partitionOverwriteMode=dynamic).
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from copy_databasetables_spark.io import footer_schema, load_table, read_written

#: FK-respecting order (FIXTURES.md): parents before children, so a
#: relational target with constraints can load without violations.
FK_COPY_ORDER = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
]

_SPARK_TO_SQL = {
    T.IntegerType(): "INT",
    T.LongType(): "BIGINT",
    T.DoubleType(): "DOUBLE",
    T.FloatType(): "FLOAT",
    T.StringType(): "STRING",
    T.BooleanType(): "BOOLEAN",
    T.DateType(): "DATE",
    T.TimestampType(): "TIMESTAMP",
    T.TimestampNTZType(): "TIMESTAMP_NTZ",
    T.BinaryType(): "BINARY",
}


def schema_to_ddl(schema: T.StructType, table_name: str) -> str:
    """Script a CREATE TABLE statement from a StructType — the SMO
    Scripter analog. Complex types fall back to Spark's simpleString
    (which is valid Spark SQL DDL)."""
    cols = []
    for field in schema.fields:
        sql_type = _SPARK_TO_SQL.get(field.dataType, field.dataType.simpleString())
        null = "" if field.nullable else " NOT NULL"
        cols.append(f"  {field.name} {sql_type}{null}")
    body = ",\n".join(cols)
    return f"CREATE TABLE {table_name} (\n{body}\n)"


def checksum_aggs(columns: list[str]) -> list:
    """The verification triple: COUNT, and the SUM and BIT_XOR of the
    per-row xxhash64 over ``columns`` — independent order-insensitive
    aggregates, so compensating corruptions (+d on one row, -d on another,
    which a sum alone admits) must also collide in the xor. The first
    entry alone is the row count; usable in ``agg`` and ``observe``."""
    h = F.xxhash64(*[F.col(c) for c in columns])
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
    ]


def content_checksum(df: DataFrame) -> tuple:
    """Order-insensitive content checksum over all columns, one pass."""
    return tuple(_observed(df, checksum_aggs(df.columns)).values())


def _observed(df: DataFrame, aggs: list) -> dict:
    """``aggs`` over ``df`` in ONE Spark job: an ``Observation`` on a
    noop-sink write of the scan, so no aggregate exchange and no final
    stage. The scan's result stage reports it: a result task's metrics
    count once even when the task is retried."""
    seen = Observation()
    df.observe(seen, *aggs).write.format("noop").mode("overwrite").save()
    return seen.get


@dataclass
class CopyResult:
    table: str
    target_path: str
    rows_copied: int
    verified: bool
    #: rows actually removed (delete_rows only) — lets callers surface
    #: "N rows deleted" rather than inferring it from key counts, since
    #: a key may match 0 or many rows
    rows_deleted: int = 0


class CopyVerificationError(RuntimeError):
    """Post-copy verification failed (row counts, column types or
    checksums differ)."""


def _write_verified(
    out: DataFrame, path: str, label: str, checksum: bool, by: str | None = None
) -> int:
    """Overwrite-write ``out`` (partitioned by ``by``) to ``path`` and
    verify what landed; returns the row count. The write observes
    ``checksum_aggs`` (the count alone unless ``checksum``) over the rows
    it writes, and ``_verify_target`` checks the files against them."""
    aggs = checksum_aggs(out.columns)[: 3 if checksum else 1]
    seen = Observation()
    # observe last, so the write's result stage reports it: a result
    # task's metrics count once even when the task is retried
    writer = out.observe(seen, *aggs).write.mode("overwrite")
    (writer.partitionBy(by) if by else writer).parquet(path)
    return _verify_target(out, path, label, seen.get, by)


def _verify_target(
    like: DataFrame, path: str, label: str, want: dict, by: str | None = None
) -> int:
    """The engine's one target check: ``path`` must hold the rows of
    ``like`` (partitioned by ``by``) whose ``checksum_aggs`` values are
    ``want`` (the count alone, or the full triple); returns the row
    count. ONE observed scan of the files (``_observed``: one job, no
    exchange), read back with ``like``'s schema (no inference job),
    recomputes them. With the triple the footer's column types must
    match too (``read_written``): the reader widens e.g. int32 file
    columns to bigint, and xxhash64 hashes a short as an int and binary
    as string bytes. A file whose footer carries no Spark schema
    (written by another engine) is a mismatch. A missing ``path`` raises
    Spark's own error; any other failure to read the files back is a
    ``CopyVerificationError``."""
    spark = like.sparkSession
    try:
        back = (
            read_written(spark, path, like.schema, by)
            if len(want) > 1
            else spark.read.schema(like.schema).parquet(path)
        )
    except ValueError as err:
        raise CopyVerificationError(f"{label}: schema/content error: {err}") from err
    aggs = checksum_aggs(like.columns)[: len(want)]
    try:
        got = _observed(back.select(*like.columns), aggs)
    except Exception as err:
        first_line = str(err).partition("\n")[0]
        raise CopyVerificationError(
            f"{label}: schema/content error: {type(err).__name__}: {first_line}"
        ) from err
    if got["n"] != want["n"]:
        raise CopyVerificationError(f"{label}: rows {want['n']} != {got['n']}")
    if got != want:
        raise CopyVerificationError(f"{label}: content checksum mismatch")
    return got["n"]


def copy_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    target_path: str,
    *,
    num_partitions: int | None = None,
    partition_by: str | None = None,
    verify_checksum: bool = False,
) -> CopyResult:
    """Copy one table: read → (optional repartition) → overwrite-write →
    verify. ``num_partitions`` is the SqlBulkCopy-BatchSize analog: it
    fixes write parallelism and output file count."""
    src = load_table(spark, sf_dir, table)
    out = src.repartition(num_partitions) if num_partitions else src
    n = _write_verified(out, target_path, table, verify_checksum, partition_by)
    return CopyResult(table, target_path, n, True)


def verify_copy(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    target_path: str,
    *,
    verify_checksum: bool = False,
) -> int:
    """Re-verify an existing copy of ``table`` at ``target_path`` without
    copying (incident re-checks, scheduled integrity sweeps): ONE
    observed scan of the source is the expectation for the same target
    check a copy runs, column types included under ``verify_checksum``
    — 2 Spark jobs. Returns the row count; raises
    ``CopyVerificationError`` on mismatch."""
    src = load_table(spark, sf_dir, table)
    want = _observed(src, checksum_aggs(src.columns)[: 3 if verify_checksum else 1])
    return _verify_target(src, target_path, table, want)


def copy_table_mapped(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    target_path: str,
    mappings: list[tuple[str, str]],
    *,
    num_partitions: int | None = None,
) -> CopyResult:
    """Copy with per-column mappings — the SqlBulkCopy ``ColumnMappings``
    analog (rename / cast / computed expression / constant default per
    target column). ``mappings`` is an ordered list of
    ``(target_column, source_sql_expr)``; the target schema IS the
    mapping list, so columns can be renamed, retyped, derived, or
    dropped (by omission) in one declarative pass. Row-count verified
    like every copy mode; content verification is the caller's oracle
    (the mapping changes the content by design)."""
    src = load_table(spark, sf_dir, table)
    out = src.selectExpr(*[f"{expr} AS {name}" for name, expr in mappings])
    if num_partitions:
        out = out.repartition(num_partitions)
    n = _write_verified(out, target_path, f"{table} (mapped)", False)
    return CopyResult(table, target_path, n, True)


def copy_tables(
    spark: SparkSession,
    sf_dir: str,
    target_root: str,
    tables: list[str] | None = None,
    **copy_kwargs,
) -> list[CopyResult]:
    """Copy a list of tables in FK order (the reference's multi-table
    loop; SURVEY.md §2.1 ``copy_tables_many``)."""
    names = tables or FK_COPY_ORDER
    order = [t for t in FK_COPY_ORDER if t in names] + [
        t for t in names if t not in FK_COPY_ORDER
    ]
    return [
        copy_table(spark, sf_dir, t, os.path.join(target_root, t), **copy_kwargs)
        for t in order
    ]


def _read_target_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """None ONLY when the target path genuinely does not exist.

    Any other read failure (permissions, corrupt footer, transient FS
    error) re-raises: treating it as 'first run' would make the caller
    OVERWRITE the target with source-only data — for merge that silently
    deletes every target-only row; for incremental it turns a blip into
    a full rewrite.

    An existing target is read by ``_read_parquet``: with its footer's
    Spark schema when unpartitioned (every target this engine writes),
    else by inference."""
    if not os.path.exists(path):
        return None
    return _read_parquet(spark, path)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The parquet data at ``path``, read with the Spark schema its
    footer records when it is unpartitioned, so no schema-inference job
    runs; a ``key=value`` partitioned layout, a file from another
    writer, or a missing path goes through inference (which raises for
    a missing path)."""
    schema = footer_schema(path)
    parted = any(os.path.isdir(d) for d in glob.glob(glob.escape(path) + "/*=*"))
    if schema is None or parted:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


#: parquet physical types whose row-group min/max stats are exact and
#: safe to read as a high-water mark. String/binary stats may be
#: TRUNCATED by writers (max rounded up is fine, rounded DOWN is not
#: guaranteed across writers) — those fall back to a real scan.
_STAT_SAFE_TYPES = ("INT32", "INT64", "FLOAT", "DOUBLE")


def _parquet_max_from_footers(target_path: str, key: str):
    """max(key) from parquet row-group statistics — metadata-only, no
    Spark job: one footer read per file (the same footers any scan
    planning touches) instead of scheduling a full aggregate job.
    Returns None when any row group lacks exact stats for ``key`` (the
    caller then runs the aggregate scan), so a lying footer can never
    skip rows silently — correctness never depends on stats presence.

    Timestamps are stat-safe (INT64 physical); pyarrow surfaces their
    logical value, which the caller compares via an equally-typed
    column. Local paths only — this engine's lake targets; a remote FS
    object store would read the same footers through its FS client."""
    import pyarrow.parquet as _pq

    files = sorted(glob.glob(os.path.join(target_path, "*.parquet")))
    if not files:
        return None
    best = None
    for f in files:
        md = _pq.read_metadata(f)
        try:
            idx = md.schema.names.index(key)
        except ValueError:
            return None
        phys = md.schema.column(idx).physical_type
        if phys not in _STAT_SAFE_TYPES:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            best = st.max if best is None else max(best, st.max)
    return best


def copy_table_incremental(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    target_path: str,
    key: str,
) -> CopyResult:
    """Incremental (append-only) copy: move only rows whose ``key``
    exceeds the target's current maximum — the 'copy new rows since last
    run' mode of a table-copy job. First run (no readable target) is a
    full copy.

    Scale notes: the high-water-mark read is an aggregate-only scan
    (parquet footers + one column); the incremental scan pushes
    ``key > hwm`` into the source read, so a daily run over an
    append-only 100 TB table touches only the new partitions. Requires a
    monotonically increasing key (the same contract every watermark-based
    CDC job has); updates-in-place need a real CDC source instead."""
    src = load_table(spark, sf_dir, table)
    existing = _read_target_if_exists(spark, target_path)
    hwm = None
    if existing is not None:
        # Prefer parquet footer statistics (pure metadata, no Spark job)
        # — fall back to an aggregate-only scan when stats are absent or
        # the key type's stats aren't trustworthy.
        hwm = _parquet_max_from_footers(target_path, key)
        if hwm is None:
            hwm = existing.agg(F.max(key).alias("m")).collect()[0]["m"]
    if hwm is None:
        src.write.mode("overwrite").parquet(target_path)
    else:
        src.where(F.col(key) > F.lit(hwm)).write.mode("append").parquet(target_path)
    copied = _read_target_if_exists(spark, target_path)
    n_src, n_dst = src.count(), copied.count()
    if n_src != n_dst:
        raise CopyVerificationError(
            f"{table}: source has {n_src} rows but target has {n_dst} after "
            "incremental copy (key not monotonic, or target diverged)"
        )
    return CopyResult(table, target_path, n_dst, True)


def _recover_interrupted_publish(target_path: str) -> None:
    """Crash recovery for the two-rename publish: a run killed between
    the renames (target moved aside, new target never landed) leaves the
    ONLY good copy in ._merge_old with no target. Restore it before any
    read — otherwise the caller would treat the target as absent and the
    publish cleanup would delete that sole remaining copy."""
    old = target_path.rstrip("/") + "._merge_old"
    if os.path.exists(old) and not os.path.exists(target_path):
        os.rename(old, target_path)


def _staged_publish(
    out: DataFrame, target_path: str, label: str, expect: int | None = None
) -> int:
    """Two-phase write shared by merge/delete/scd2/cdc: stage to a tmp dir
    (the plan reads target_path — overwriting in place would clobber
    inputs mid-job), verify the staged row count (and ``expect``, if
    given) BEFORE publish, then publish by directory rename. A crash can
    leave a stale target, a staging dir, or (killed between the two
    renames) a missing target whose data survives in ._merge_old — which
    _recover_interrupted_publish restores on the next run. The staging
    dir is removed on every exit path. At scale, use the target store's
    atomic-commit API."""
    tmp = target_path.rstrip("/") + "._merge_tmp"
    old = target_path.rstrip("/") + "._merge_old"
    try:
        n = _write_verified(out, tmp, f"{label} (staged)", False)
        if expect is not None and n != expect:
            raise CopyVerificationError(
                f"{label}: expected {expect} rows in staged output but found {n}"
            )
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(target_path):
            os.rename(target_path, old)
        try:
            os.rename(tmp, target_path)
        except BaseException:
            # roll the previous target back so a failed publish degrades
            # to "nothing happened", never "target is gone"
            if os.path.exists(old) and not os.path.exists(target_path):
                os.rename(old, target_path)
            raise
        shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return n


def merge_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    target_path: str,
    key: str,
) -> CopyResult:
    """Upsert (MERGE) copy: source rows replace same-key target rows,
    new keys are inserted, unmatched target rows survive — the copy mode
    for sources that update in place (the reference only drops and
    recreates; a recurring sync needs merge).

    Plain-parquet implementation: anti-join the target against the
    source on ``key`` (keep rows the source doesn't supersede), union
    the full source, rewrite. One shuffle on the key. On a transactional
    table format this maps to MERGE INTO with file-level pruning; on raw
    parquet the rewrite is the price of not having a log — at 100 TB,
    partition the target and rewrite only partitions whose keys appear
    in the update batch (partition pruning on the anti-join makes that
    automatic when the key prefixes the partition scheme)."""
    _recover_interrupted_publish(target_path)
    src = load_table(spark, sf_dir, table)
    existing = _read_target_if_exists(spark, target_path)
    if existing is None:
        out, n_keep = src, 0
    else:
        keep = existing.join(src.select(key), on=key, how="left_anti")
        n_keep = keep.count()
        out = keep.unionByName(src)
    # staged output must be survivors + the full source, exactly
    n = _staged_publish(out, target_path, f"{table}: merge", n_keep + src.count())
    return CopyResult(table, target_path, n, True)


def compact_table(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a many-small-files parquet table into ~target-sized files
    (the lake maintenance job that fixes the small-files problem: at
    100 TB, thousands of sub-MB files per partition turn every scan into
    a metadata storm and every task into scheduling overhead).

    File count = ceil(total_bytes / target_file_bytes), realized with a
    round-robin ``repartition`` (an exchange — unavoidable when merging
    files; run it per partition directory in production — which is also
    why sizing walks the tree recursively: a partitionBy layout keeps
    its data files in key=value/ subdirectories, and a top-level listing
    would size it at 0 bytes and funnel the whole table into ONE file).
    Returns the output file count."""

    def _parquet_bytes_and_count(root: str) -> tuple[int, int]:
        total = count = 0
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, f))
                    count += 1
        return total, count

    df = spark.read.parquet(source_path)
    total, _ = _parquet_bytes_and_count(source_path)
    n_files = max(1, -(-total // target_file_bytes))
    df.repartition(n_files).write.mode("overwrite").parquet(target_path)
    return _parquet_bytes_and_count(target_path)[1]


def recreate_from_ddl(
    spark: SparkSession, sf_dir: str, table: str, qualified_name: str, location: str
) -> DataFrame:
    """Schema-introspection round trip: script DDL from the source
    schema, create the target table from that DDL, load it, return it."""
    src = load_table(spark, sf_dir, table)
    ddl = schema_to_ddl(src.schema, qualified_name)
    spark.sql(f"DROP TABLE IF EXISTS {qualified_name}")
    spark.sql(f"{ddl} USING PARQUET LOCATION '{location}'")
    src.write.mode("overwrite").insertInto(qualified_name)
    return spark.table(qualified_name)


def all_table_counts(spark: SparkSession, root: str, tables: list[str]) -> DataFrame:
    """Row-count summary over copied tables (the verification report)."""
    dfs = [
        spark.read.parquet(os.path.join(root, t))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(t).alias("table_name"), "n_rows")
        for t in tables
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def delete_rows(
    spark: SparkSession,
    target_path: str,
    key: str,
    values: list,
) -> CopyResult:
    """Targeted erasure (GDPR/right-to-be-forgotten): remove every row
    whose ``key`` is in ``values`` from a copied parquet table, through
    the same staged two-phase publish as merge — the deletion either
    fully lands or the target is untouched, and the staged row count is
    verified (before − matched = after, exactly) BEFORE publish.

    The deletion key set is a request batch (thousands of subjects, not
    a corpus) — broadcast by construction. At 100 TB the anti-join
    prunes to only the partitions containing matched keys when ``key``
    prefixes the partition scheme; a transactional table format turns
    the rewrite into DELETE WHERE with file-level pruning."""
    _recover_interrupted_publish(target_path)
    existing = _read_target_if_exists(spark, target_path)
    if existing is None:
        raise CopyVerificationError(
            f"delete_rows: no table at {target_path}"
        )
    # keys arrive as whatever the caller had (CLI passes strings) —
    # cast to the target column's actual type so the join matches. A
    # value that fails the cast becomes NULL, which would silently match
    # NOTHING — for an erasure tool that is a compliance hazard (the
    # caller is told "verified" while the subject's rows remain), so an
    # uncastable key is a hard error, not a no-op.
    keys_df = spark.createDataFrame([(str(v),) for v in values], [key]).select(
        F.col(key).cast(existing.schema[key].dataType)
    )
    n_bad = keys_df.where(F.col(key).isNull()).count()
    if n_bad:
        raise CopyVerificationError(
            f"delete_rows: {n_bad} of {len(values)} key value(s) do not "
            f"cast to {key}'s type ({existing.schema[key].dataType.simpleString()})"
        )
    n_before = existing.count()
    n_match = existing.join(F.broadcast(keys_df), key, "left_semi").count()
    out = existing.join(F.broadcast(keys_df), key, "left_anti")
    n = _staged_publish(out, target_path, "delete_rows", n_before - n_match)
    return CopyResult("delete", target_path, n, True, rows_deleted=n_match)


def scd2_apply(
    dim: DataFrame | None,
    snapshot: DataFrame,
    key: str,
    tracked: list[str],
    effective: str,
) -> DataFrame:
    """Apply one snapshot to a slowly-changing-dimension type-2 table —
    the history-keeping copy mode a DW sync runs on every pull, one step
    past ``merge_table`` (which keeps only latest state): changed keys
    CLOSE their current version and open a new one, new keys insert,
    keys missing from the snapshot close with no successor, and closed
    history rows are never touched again.

    ``dim`` carries [key, *tracked, valid_from, valid_to, is_current]
    (None initializes from the snapshot); ``snapshot`` carries
    [key, *tracked]. ``effective`` is the snapshot's as-of date, kept as
    a plain 'yyyy-MM-dd' string so results are engine-portable byte-for-
    byte (production would cast to DATE without changing the plan).

    Shape: ONE full-outer join current-rows ⋈ snapshot on the key per
    applied snapshot, with null-safe change detection across the tracked
    columns; closed history passes through untouched (at 100 TB,
    partition the dim by is_current so the join scans only the current
    slice — the history partition is write-once). The output unions the
    four legs by name; no window, no driver data path, and the join key
    is the dimension's natural key — skew-safe for real dims."""
    cur_cols = [key, *tracked, "valid_from", "valid_to", "is_current"]
    fresh = snapshot.select(
        key,
        *tracked,
        F.lit(effective).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ).select(cur_cols)
    if dim is None:
        return fresh
    history = dim.where(~F.col("is_current")).select(cur_cols)
    cur = dim.where(F.col("is_current")).select(cur_cols)
    s = snapshot.select(
        F.col(key).alias("_sk"), *[F.col(c).alias(f"_s_{c}") for c in tracked]
    )
    j = cur.join(s, cur[key] == s["_sk"], "full_outer")
    in_cur = F.col(key).isNotNull()
    in_snap = F.col("_sk").isNotNull()
    differs = F.lit(False)
    for c in tracked:
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"_s_{c}"))
    closed_at = F.lit(effective).alias("valid_to")
    # leg 1: unchanged current rows ride through as-is
    unchanged = j.where(in_cur & in_snap & ~differs).select(cur_cols)
    # leg 2: changed + vanished keys close their current version
    closed = (
        j.where(in_cur & (~in_snap | differs))
        .select(
            key, *tracked, "valid_from", closed_at, F.lit(False).alias("is_current")
        )
    )
    # leg 3: changed + brand-new keys open a version at `effective`
    opened = (
        j.where(in_snap & (~in_cur | differs))
        .select(
            F.col("_sk").alias(key),
            *[F.col(f"_s_{c}").alias(c) for c in tracked],
            F.lit(effective).alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return history.unionByName(unchanged).unionByName(closed).unionByName(opened)


def scd2_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    target_path: str,
    key: str,
    tracked: list[str],
    as_of: str,
) -> CopyResult:
    """Run one SCD2 sync of ``table``'s current snapshot into the
    type-2 dimension at ``target_path`` (created on first run), through
    the same staged two-phase publish as merge — an interrupted run
    leaves the previous dimension intact. The staged row count is
    verified against the count its own write observed."""
    _recover_interrupted_publish(target_path)
    snapshot = load_table(spark, sf_dir, table).select(key, *tracked)
    existing = _read_target_if_exists(spark, target_path)
    dim = scd2_apply(existing, snapshot, key, tracked, as_of)
    n = _staged_publish(dim, target_path, f"{table}: scd2")
    return CopyResult(table, target_path, n, True)


def cdc_apply_table(
    spark: SparkSession,
    changes_path: str,
    table: str,
    target_path: str,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> CopyResult:
    """Apply the CDC change log at ``changes_path`` onto the base table
    at ``target_path`` (the CLI surface over ``apply_cdc``), through the
    same staged two-phase publish as merge/scd2 — the plan reads the
    old target while staging writes elsewhere, so an interrupted run
    leaves the previous state intact. A missing target bootstraps from
    an empty base (a pure-insert log materializes the initial state);
    the staged count is verified against the count its write observed.
    Log and target are both read by ``_read_parquet``, so a log Spark
    wrote costs no schema-inference job; a missing log raises."""
    changes = _read_parquet(spark, changes_path)
    missing = [c for c in (key, op_col, seq_col) if c not in changes.columns]
    if missing:
        raise ValueError(
            f"{table}: change log at {changes_path} lacks column(s) {missing}"
        )
    _recover_interrupted_publish(target_path)
    base = _read_target_if_exists(spark, target_path)
    if base is None:
        base = spark.createDataFrame(
            [], changes.drop(op_col, seq_col).schema
        )
    state = apply_cdc(base, changes, key, op_col=op_col, seq_col=seq_col)
    n = _staged_publish(state, target_path, f"{table}: cdc")
    return CopyResult(table, target_path, n, True)


def profile_frame(df: DataFrame) -> DataFrame:
    """Generic per-column profile of ANY frame: row count and, per
    column, non-null count, approximate distinct count, min/max (cast
    to string so heterogeneous types stack in one report).

    This is the CLI's profiling tool, so unlike the oracle-hashable
    ``q_table_profile`` (exact distincts over four pinned columns) it
    uses ``approx_count_distinct`` — exact multi-column distincts
    compile to an Expand that multiplies the scan once per column,
    which on a wide 100 TB table is |cols|× the I/O; HLL++ keeps the
    whole report ONE single-pass aggregate. Complex-typed columns
    (array/map/struct) take the non-null count only — ordering and
    hashing them is type-specific noise a profile doesn't need."""
    atomic = lambda f: not isinstance(  # noqa: E731
        f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    )
    aggs = []
    for f in df.schema.fields:
        c = f.name
        aggs.append(F.count(c).alias(f"{c}__nn"))
        if atomic(f):
            aggs += [
                F.approx_count_distinct(c).alias(f"{c}__nd"),
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
            ]
    # ONE job, ONE scan, ONE row of ~4·|cols| scalars back — then pivot
    # to per-column report rows driver-side, so the single scan is
    # structural rather than left to ReuseExchange.
    row = df.agg(F.count(F.lit(1)).alias("n_rows"), *aggs).collect()[0]
    report = [
        (
            f.name,
            f.dataType.simpleString(),
            row["n_rows"],
            row[f"{f.name}__nn"],
            row[f"{f.name}__nd"] if atomic(f) else None,
            row[f"{f.name}__min"] if atomic(f) else None,
            row[f"{f.name}__max"] if atomic(f) else None,
        )
        for f in df.schema.fields
    ]
    schema = T.StructType(
        [
            T.StructField("column_name", T.StringType(), False),
            T.StructField("dtype", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_non_null", T.LongType(), False),
            T.StructField("n_distinct_approx", T.LongType(), True),
            T.StructField("min_repr", T.StringType(), True),
            T.StructField("max_repr", T.StringType(), True),
        ]
    )
    return df.sparkSession.createDataFrame(report, schema)


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply an ordered I/U/D change log to a base snapshot — the copy
    mode for sources that ship a CDC stream (Debezium/binlog extracts)
    instead of letting the copier re-read the table. ``changes`` carries
    the full row image plus ``op`` ('I' | 'U' | 'D') and a per-key
    strictly-increasing ``seq``; the final state is, per key, the row
    image of the HIGHEST-seq change (base rows rank below every change
    at seq = -1), with keys whose last change is a delete absent. A
    delete followed by a later re-insert therefore resurrects the key —
    ordering, not op kind, decides.

    Replay is idempotent: applying the same log onto the resulting
    state picks the same per-key winners, so an at-least-once delivery
    upstream cannot corrupt the target.

    ``op_col``/``seq_col`` — and the internal staging names ``__src``/
    ``__rn`` — are change-log METADATA names and must not collide with
    a data column in either input: staging would silently overwrite
    (then drop) that column, so a collision raises. An out-of-contract
    change row at seq = -1 deterministically BEATS the staged base via
    the ``__src`` tiebreak (changes rank above base at equal seq).

    Scale shape (100 TB): ONE shuffle on the key; the per-key winner is
    row_number()=1 over (seq DESC), which Spark executes with
    WindowGroupLimit pushdown — partial top-1 per key map-side, so the
    exchange carries at most one surviving row per (key, input
    partition), not the whole log. On a partitioned target, join the
    change log's distinct keys against the partition scheme first and
    rewrite only affected partitions (same discipline as merge_table)."""
    reserved = {op_col, seq_col, "__src", "__rn"}
    collide = reserved & set(base.columns)
    # changes legitimately carries op_col/seq_col — only the staging
    # names are reserved on that side.
    collide |= {"__src", "__rn"} & set(changes.columns)
    if collide:
        raise ValueError(
            f"apply_cdc: input already has column(s) {sorted(collide)}; "
            "op_col/seq_col and the internal staging names __src/__rn "
            "must not collide with data columns"
        )
    staged_base = (
        base.withColumn(op_col, F.lit("I"))
        .withColumn(seq_col, F.lit(-1).cast("long"))
        .withColumn("__src", F.lit(0))
    )
    unioned = staged_base.unionByName(
        changes.withColumn("__src", F.lit(1)).select(*staged_base.columns)
    )
    w = W.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col("__src").desc(), F.col(op_col).desc()
    )
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col(op_col) != "D"))
        .drop("__rn", "__src", op_col, seq_col)
    )
