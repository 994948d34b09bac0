"""Structured Streaming wrappers (SURVEY.md §2.9, incremental row).

The batch operators in operators/streaming_sem.py are written with
streaming-capable expressions; this module runs the same logic under
``readStream`` to prove it. The file source replays the events parquet
as a bounded stream; ``Trigger.AvailableNow`` drains it in micro-batches
and stops — so tests can assert batch ≡ stream on identical input.

Scale notes: in production these jobs run continuously with
checkpointing (exactly-once state); watermarks bound the state store —
without one, a windowed agg in append mode would buffer forever. The
state shuffle is keyed on (window, group keys), same partitioning story
as the batch plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from copy_databasetables_spark.io import events_read_schema, events_ts_kind, table_path
from copy_databasetables_spark.session import configure_session


_STREAM_CHUNKS = 4


def _stream_source_dir(sf_dir: str) -> str:
    """The streaming file source requires a *directory* to watch; the
    testdata ships one parquet file per table. Stage the events file into
    a per-SF directory under /tmp as several row-sliced chunks (pyarrow,
    type-preserving — the ts column keeps its physical encoding, NANOS
    or timestamp[us] alike) so that
    ``maxFilesPerTrigger=1`` actually produces multiple micro-batches —
    one file would collapse every run into a single batch and stateful
    operators would never exercise cross-batch state."""
    import os

    import pyarrow.parquet as pq

    src = table_path(sf_dir, "events")
    dst_dir = os.path.join(
        "/tmp/spark_graft_stream", os.path.basename(sf_dir.rstrip("/")), "events"
    )
    marker = os.path.join(dst_dir, f"part-{_STREAM_CHUNKS - 1}.parquet")
    if not os.path.exists(marker) or os.path.getmtime(marker) < os.path.getmtime(src):
        os.makedirs(dst_dir, exist_ok=True)
        table = pq.read_table(src)
        step = max(1, (table.num_rows + _STREAM_CHUNKS - 1) // _STREAM_CHUNKS)
        for i in range(_STREAM_CHUNKS):
            chunk = table.slice(i * step, step)
            pq.write_table(
                chunk,
                os.path.join(dst_dir, f"part-{i}.parquet"),
                version="2.6",
                coerce_timestamps=None,
            )
    return dst_dir


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet as a file-source stream, with the same ts type
    branch the batch loader applies (io.py)."""
    configure_session(spark)
    src = table_path(sf_dir, "events")
    raw = (
        spark.readStream.schema(events_read_schema(src))
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_source_dir(sf_dir))
    )
    # timestamp (LTZ), not timestamp_ntz: watermarks require TIMESTAMP
    # ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]); with the session pinned to
    # UTC the wall clock is identical to the batch loader's NTZ values.
    if events_ts_kind(src) == "long":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked 1-hour tumbling counts — the streaming twin of
    q_stream_tumbling. The watermark lets Spark finalize+evict window
    state once event time passes window_end + 10 min."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("win.start").cast("timestamp")).alias("win_start_us"),
            "event_type",
            "n_events",
        )
    )


def session_counts_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked session windows — the streaming twin of
    q_stream_session: per-user sessions close after a 30-minute silence.
    Session windows are the hardest streaming state: windows MERGE when
    a late row bridges two open sessions, so state is keyed (user,
    open-session) and only finalizes once the watermark passes
    last_event + gap. Append mode emits exactly the closed sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("win.start").cast("timestamp")).alias("session_start_us"),
            F.unix_micros(F.col("win.end").cast("timestamp")).alias("session_end_us"),
            "n_events",
        )
    )


def user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static dimension for the stream-static join: per-user activity
    tier derived from the batch events table (stand-in for any
    slowly-changing dim — a user profile table, a model registry)."""
    from copy_databasetables_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("user_id").alias("dim_user_id"))
        .agg(F.count(F.lit(1)).alias("n_total"))
        .select(
            "dim_user_id",
            F.when(F.col("n_total") >= 20, "heavy")
            .when(F.col("n_total") >= 10, "mid")
            .otherwise("light")
            .alias("tier"),
        )
    )


def tier_counts_stream_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """STREAM-STATIC join + aggregation: every micro-batch joins against
    the static dimension (Spark re-resolves the static side per batch,
    so a dim refreshed in place is picked up batch-by-batch; a
    broadcast-sized dim stays a broadcast join inside each batch — no
    stream state is kept for the join itself, only for the downstream
    aggregate). The canonical enrichment topology: 100 TB/day of events
    joined to an N-GB profile table."""
    return (
        events.join(dim, events.user_id == dim.dim_user_id)
        .groupBy("tier", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup by event_id within the watermark —
    ``dropDuplicatesWithinWatermark`` keeps first-arrival per key and
    evicts state as the watermark advances (bounded memory, unlike plain
    dropDuplicates whose state grows forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


#: the attribution window of the purchase↔click interval join — ONE
#: definition shared by the streaming job below and its hash-checked
#: batch twin (operators/streaming_sem.py:q_stream_join), so a window
#: or boundary regression in either shows up in the driver gate.
PURCHASE_CLICK_WINDOW = "INTERVAL 1 HOUR"


def purchase_click_cond(p_user, p_ts, k_user, k_ts):
    """The shared join predicate: same user, click strictly BEFORE the
    purchase and at most PURCHASE_CLICK_WINDOW old (lower bound
    inclusive, upper bound exclusive). Any change here must keep the
    oracle SQL in q_stream_join in lockstep."""
    return (
        (k_user == p_user)
        & (k_ts >= p_ts - F.expr(PURCHASE_CLICK_WINDOW))
        & (k_ts < p_ts)
    )


def purchase_click_join_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of
    q_join_interval: each purchase joins the same user's clicks from the
    hour before it. Both sides carry watermarks and the join condition
    bounds event-time distance, so Spark can size the state store: a
    click's state is evictable once the purchase-side watermark passes
    click_ts + 1 hour (without the time bound, BOTH sides would buffer
    forever). At scale the join shuffles both streams on user_id — the
    same partitioning story as the batch plan."""
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    k = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("k_user"),
            F.col("ts").alias("k_ts"),
        )
        .withWatermark("k_ts", watermark)
    )
    cond = purchase_click_cond(p["user_id"], p["p_ts"], k["k_user"], k["k_ts"])
    return p.join(k, cond).select("purchase_id", "click_id", "user_id")


def purchase_click_left_join_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the state-eviction-hard
    variant of purchase_click_join_stream (SAME shared predicate):
    every purchase emits, clicked or not. The outer semantics are what
    make this the canonical hard case: an unmatched purchase can only
    emit once the CLICK-side watermark proves no matching click can
    still arrive (k_ts ∈ [p_ts − 1h, p_ts) all sealed), so the NULL
    rows trail the matched rows by up to window + watermark delay —
    in continuous operation that is bounded staleness, and under
    AvailableNow the final watermark (max ts − delay) seals everything
    it has passed; purchases newer than the last watermark stay
    withheld at termination (asserted in tests — this is the outer
    join's documented contract, not data loss: a restart with more
    data emits them)."""
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    k = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("k_user"),
            F.col("ts").alias("k_ts"),
        )
        .withWatermark("k_ts", watermark)
    )
    cond = purchase_click_cond(p["user_id"], p["p_ts"], k["k_user"], k["k_ts"])
    return p.join(k, cond, "left_outer").select(
        "purchase_id", "click_id", "user_id"
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, mode: str = "complete"
) -> DataFrame:
    """Drain a bounded stream into an in-memory table with AvailableNow
    and return the result as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def user_totals_stateful_stream(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY.md
    §2.9): a per-user running aggregate whose state (count, total value)
    lives in the state store and is updated incrementally per
    micro-batch — the escape hatch for stateful logic that windowed
    aggregation can't express (custom eviction, conditional resets,
    model-ish accumulators). Arrow batches rows per key into pandas;
    output mode 'update' emits one refreshed row per touched user."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def foreach_batch_jdbc_sink_idempotent(write_spec):
    """Exactly-once foreachBatch JDBC sink: delete-then-insert keyed on
    batch_id. Structured Streaming re-delivers a failed/restarted
    micro-batch with the SAME deterministic batch_id, so deleting that
    batch's rows before appending makes any replay CONVERGE to a single
    copy instead of duplicating — the standard exactly-once recipe for
    a sink that only offers appends + deletes (no transactions spanning
    the stream). First delivery pays one no-op DELETE; the table's
    ``_batch_id`` column is the replay key. ``write_spec.mode`` must be
    'append' (overwrite would drop OTHER batches' rows).

    Replay-tested in tests/test_streaming.py::
    test_foreach_batch_replay_is_idempotent."""
    if write_spec.mode != "append":
        raise ValueError("idempotent sink requires mode='append'")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from copy_databasetables_spark.sources.introspect import execute_ddl

        try:
            execute_ddl(
                batch_df.sparkSession,
                write_spec.url,
                [
                    # Spark's JDBC writer creates columns QUOTED (exact
                    # case); quoting here also keeps Derby happy with the
                    # leading underscore.
                    f'DELETE FROM {write_spec.table} '
                    f'WHERE "_batch_id" = {int(batch_id)}'
                ],
            )
        except Exception as e:  # py4j-wrapped SQLException
            # first-ever batch: the table doesn't exist yet (the append
            # below creates it) — nothing to delete. Swallow ONLY
            # table-not-found SQLStates (Derby 42X05, Postgres 42P01,
            # MySQL/SQL Server 42S02). A generic "does not exist"
            # substring would also swallow a missing _batch_id COLUMN
            # on a pre-existing table, and appending past that failed
            # DELETE silently breaks the exactly-once contract.
            msg = str(e)
            if not any(s in msg for s in ("42X05", "42P01", "42S02")):
                raise
        # a foreachBatch body must consume every partition of the batch
        # (Spark 4.1 validates state-store commits); a full save() does
        write_spec.save(batch_df.withColumn("_batch_id", F.lit(batch_id)))

    return _sink
