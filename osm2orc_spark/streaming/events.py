"""Structured Streaming over the events table.

The reference is bounded-files-only (SURVEY.md §2C: no streaming
operators in its surface), so this module is part of the beyond-reference
pipeline layer: the same hourly rollup and sessionization semantics as
the batch queries (relational.py: tumbling_window_hourly /
sessionize_events), expressed as streams with watermarked state.

Design: readStream over a parquet directory stands in for the real
source (kafka/kinesis) — the transformation graph is source-agnostic.
Each streaming query has a batch twin in the registry whose oracle
certifies the aggregation logic; the streaming tests then certify the
incremental execution (memory sink + processAllAvailable).

Scale posture: watermarks bound state (1h window + 30min late-data
allowance => state per key is a handful of open windows); the windowed
agg shuffles on (window, event_type) with partial aggregation upstream,
identical to the batch plan. applyInPandasWithState would be the escape
hatch for custom session state; the built-in session_window covers the
gap-sessionization case without custom state code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2orc_spark.registry import register

def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """readStream over events parquet with ``ts`` normalized to TIMESTAMP.

    The streaming file source needs an explicit schema, but the on-disk
    encoding of ``ts`` has varied across driver data generations
    (TIMESTAMP(NANOS) vs plain TIMESTAMP(MICROS)/NTZ), so the schema is
    taken from a one-off batch read of the same path rather than
    hardcoded — a wrong hardcoded LONG schema over a micros file would
    silently read micros as "nanos" and compress event time 1000×.
    The post-read ts normalization is the batch loader's
    (tables.normalize_ts).

    ``path`` may be a directory or a single file — the streaming file
    source requires a directory, so a file path becomes parent-dir +
    pathGlobFilter on the file name."""
    import os

    from osm2orc_spark.tables import normalize_ts, read_events_raw

    schema = read_events_raw(spark, path).schema
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return normalize_ts(reader.parquet(path))


def hourly_rollup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming twin of tumbling_window_hourly: watermarked 1h windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Streaming gap-sessionization via the built-in session_window —
    the stateful twin of sessionize_events (same 30-minute gap rule)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup: first occurrence per (user_id, event_type, value)
    key wins; duplicates arriving within the watermark window are dropped.

    dropDuplicatesWithinWatermark keeps state only until the watermark
    passes each key — bounded state at any stream length, the streaming
    twin of the batch dedup_exact hash-groupBy. Keys here are the
    natural-dup columns of the events table (event_id is unique by
    construction so it can't be the key).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "value"]
    )


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (n_events, sum_value_q), one update row per user per micro-batch.

    This is the escape hatch the built-in operators can't cover — state
    that isn't a window: arbitrary per-key accumulators, ML feature
    counters, fraud scores. State is a two-field struct per user_id, so
    memory is O(distinct keys); at scale keys partition across executors
    and the RocksDB state store keeps per-task state off-heap. Production
    deployments add a ProcessingTimeTimeout to evict idle keys; the
    bounded test input doesn't need one.

    Determinism (registry house rule): ``value`` is quantized per-row to
    BIGINT micros (floor(value * 1e6) — one IEEE multiply + floor, both
    engine-deterministic) *before* accumulation, so the running sum is an
    integer and independent of row arrival/chunk order. A raw float
    accumulator would drift with partition order and could never hash-match
    a SQL oracle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value_q", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("s", T.LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int(
                np.floor(pdf["value"].to_numpy() * 1e6).astype(np.int64).sum()
            )
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_q": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state_conf(bounded_memory_gb: int | None = None) -> dict[str, str]:
    """Session confs that move streaming state off the JVM heap into the
    built-in RocksDB state store (the scale posture for long-running
    stateful queries: state size is bounded by disk, not executor heap,
    and changelog checkpointing makes commits O(delta) instead of
    O(full-snapshot) per micro-batch)."""
    conf = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_STATE_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    if bounded_memory_gb is not None:
        conf["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"] = "true"
        conf["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] = str(
            bounded_memory_gb * 1024
        )
    return conf


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    extra_conf: dict[str, str] | None = None,
) -> DataFrame:
    """Drive a streaming query to completion over the bounded input and
    return the materialized result ('complete' for windowed aggs;
    'update' for applyInPandasWithState, whose update rows append to the
    memory sink — the last row per key is the final state).

    ``extra_conf`` (e.g. ``rocksdb_state_conf()``) is applied for the
    duration of the query and restored afterwards — state-store confs are
    read at query start, so this is the per-query scoping mechanism."""
    spark = stream_df.sparkSession
    saved: dict[str, str | None] = {}
    for k, v in (extra_conf or {}).items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def run_checkpointed(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    extra_conf: dict[str, str] | None = None,
) -> None:
    """Drive all currently-available input through a DURABLE file-sink
    query: parquet sink + checkpointLocation, then stop.  This is the
    recovery surface a 100 TB deployment actually leans on — call it
    again later (with a NEW query object built from a fresh readStream
    graph) on the same ``checkpoint_dir`` and the stream resumes from
    the recorded offsets with its keyed state restored from the state
    store, not from zero.  The parquet sink's _spark_metadata commit log
    makes output exactly-once across the stop/restart boundary.

    Same conf-scoping contract as run_to_memory: ``extra_conf`` (e.g.
    ``rocksdb_state_conf()``) applies for the query's lifetime and is
    restored afterwards."""
    spark = stream_df.sparkSession
    saved: dict[str, str | None] = {}
    for k, v in (extra_conf or {}).items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("parquet")
            .option("checkpointLocation", checkpoint_dir)
            .option("path", out_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Registry entries: on bounded input an (unexpired-watermark, complete-mode)
# streaming query materializes exactly its batch twin's result, so the
# SAME DuckDB oracle certifies the incremental execution path end-to-end.
# ---------------------------------------------------------------------------
@register(
    "stream_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming twin of tumbling_window_hourly, driven to "
    "completion over the bounded events file (readStream -> watermarked "
    "1h windows -> memory sink). Same oracle as the batch query: for "
    "bounded input the incremental plan must converge to the batch "
    "answer — this entry puts that equivalence inside the oracle gate.",
    tags=("streaming",),
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(hourly_rollup_stream(ev), "stream_hourly_rollup_mem")


@register(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    grp AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM ordered
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events
    FROM grp GROUP BY user_id, g
    """,
    doc="Streaming gap-sessionization (built-in session_window, 30 min "
    "gap) driven over the bounded input; the oracle recomputes sessions "
    "with the lag/cumsum islands technique — session_window's end bound "
    "is last_event + gap, reproduced as MAX(ts) + INTERVAL. The break "
    "condition is gap >= 30min (not >): Spark windows [t, t+g) that "
    "touch without overlapping do NOT merge, so an event exactly g "
    "after its predecessor starts a new session.",
    tags=("streaming",),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(session_window_stream(ev), "stream_session_windows_mem")


def purchase_after_view_join_stream(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: each view joined to the same user's
    purchases within [view_ts, view_ts + horizon].

    Both sides are watermarked and the join condition bounds event-time
    distance, so Spark can expire join state as watermarks advance —
    the state per key is one horizon's worth of rows, not the stream's
    history. This is THE pattern for attribution joins at scale."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", horizon)
    )
    return views.join(
        purchases,
        F.expr(
            f"""
            v_user_id = p_user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + INTERVAL {horizon}
            """
        ),
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        "value",
    )


@register(
    "stream_purchase_attribution",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           v.ts AS view_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    doc="Stream-stream interval join (view -> purchases within 1 hour) "
    "driven to completion over the bounded input; append-mode output on "
    "bounded data equals the batch range join, which is the oracle. "
    "Watermarks on both sides + the event-time bound make join state "
    "expirable — the attribution-join pattern at scale.",
    tags=("streaming", "join"),
)
def stream_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(
        purchase_after_view_join_stream(ev),
        "stream_purchase_attribution_mem",
        output_mode="append",
    )


@register(
    "stream_user_totals",
    # Exact oracle: the state kernel accumulates floor(value*1e6) as BIGINT,
    # so the totals are integer-exact and order-independent.
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_q
    FROM events
    GROUP BY user_id
    """,
    doc="applyInPandasWithState running totals driven over the bounded "
    "input (update mode). The memory sink accumulates one update row per "
    "user per micro-batch, so the registered query reduces to the final "
    "state per user (max n_events — running counts are strictly "
    "increasing) rather than assuming the bounded input arrives as a "
    "single micro-batch; a multi-file events directory works unchanged. "
    "Totals are quantized to BIGINT micros inside the state kernel so "
    "the result is integer-exact against the SQL oracle.",
    tags=("streaming",),
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    updates = run_to_memory(
        running_user_totals_stream(ev), "stream_user_totals_mem", output_mode="update"
    )
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value_q", "n_events").alias("sum_value_q"),
    )


def segment_rollup_stream(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment join + rollup: the streaming side joins a
    static dimension (customer market segment) and aggregates per
    (segment, event_type).

    The static side is planned per micro-batch as an ordinary broadcast
    hash join — no state is kept for it (only the aggregation holds
    state), which is why stream-static is the preferred enrichment shape
    at scale: dimension updates show up on the next micro-batch without
    any watermark bookkeeping."""
    from pyspark.sql.functions import broadcast

    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


@register(
    "stream_segment_rollup",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n,
           MIN(e.value) AS min_value,
           MAX(e.value) AS max_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment: streaming events broadcast-join the "
    "static customer dimension, then roll up per (market segment, event "
    "type) with count/min/max (order-independent aggregates — no fp-sum "
    "nondeterminism). Driven to completion over the bounded input, so "
    "the batch oracle certifies the incremental plan.",
    tags=("streaming",),
)
def stream_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.tables import load

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    customers = load(spark, sf_dir, "customer")
    return run_to_memory(
        segment_rollup_stream(ev, customers), "stream_segment_rollup_mem"
    )


@register(
    "stream_dedup_events",
    oracle="""
    SELECT DISTINCT user_id, event_type, value FROM events
    """,
    doc="Streaming exact dedup driven over the bounded events file: "
    "dropDuplicates on the natural-dup key (user_id, event_type, value) "
    "emits each key's first arrival -- on bounded input exactly the "
    "batch DISTINCT. This registered entry uses the unbounded-state "
    "exact variant so the batch twin is watermark-independent; the "
    "production bounded-state path is dedup_events_stream "
    "(dropDuplicatesWithinWatermark), which trades exactness beyond the "
    "watermark horizon for O(horizon) state -- with the RocksDB store "
    "(rocksdb_state_conf) keying state off-heap in either case.",
    tags=("streaming",),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    deduped = ev.dropDuplicates(["user_id", "event_type", "value"]).select(
        "user_id", "event_type", "value"
    )
    return run_to_memory(deduped, "stream_dedup_events_mem", output_mode="append")


def ohlc_bars_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming twin of queries/sequences.py::ohlc_hourly_bars: the same
    partial-aggregable min_by/max_by-over-string-key aggregates inside a
    watermarked 1h tumbling window. No sort window exists in streaming at
    all — this shape is the ONLY way to get open/close incrementally,
    which is exactly why the batch variant uses it too (one plan, two
    execution modes)."""
    key = F.format_string(
        "%020d-%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    v = F.col("value").cast("decimal(18,2)")
    return (
        events.withWatermark("ts", watermark)
        .select(
            F.col("ts"), F.col("event_type"), v.alias("v"), key.alias("k")
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("v", "k").cast("double").alias("open"),
            F.max("v").cast("double").alias("high"),
            F.min("v").cast("double").alias("low"),
            F.max_by("v", "k").cast("double").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_ohlc_bars",
    # Same oracle as the batch ohlc_hourly_bars: window(ts, '1 hour').start
    # == date_trunc('hour', ts) for hour-aligned tumbling windows.
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(arg_min(CAST(value AS DECIMAL(18,2)),
                        printf('%020d-%012d', epoch_us(ts), event_id)) AS DOUBLE) AS open,
           CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS high,
           CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS low,
           CAST(arg_max(CAST(value AS DECIMAL(18,2)),
                        printf('%020d-%012d', epoch_us(ts), event_id)) AS DOUBLE) AS close,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming OHLC bars: watermarked 1h tumbling windows with "
    "min_by/max_by over the lexicographic (ts, event_id) key — the "
    "incremental twin of ohlc_hourly_bars with the identical oracle. "
    "Complete-mode memory sink over the bounded input.",
    tags=("streaming", "sequence"),
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(ohlc_bars_stream(ev), "stream_ohlc_bars_mem")


def transitions_stream(events: DataFrame) -> DataFrame:
    """Per-user event-type transition emission via applyInPandasWithState:
    state = the user's last (ts, event_id, event_type); each micro-batch
    emits one row per observed (from_type, to_type) step.

    The sequence-processing twin of queries/sequences.py's lag window —
    in a stream there is no "window over all history", so the previous
    element must live in keyed state. Rows within a batch are sorted by
    (ts, event_id) inside the kernel; across batches the state carries
    the boundary element, so the emitted steps equal the batch lag pairs
    whenever micro-batches split on event-time order (the file source
    delivers whole files in order; a kafka source would need watermarked
    reordering upstream)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("from_type", T.StringType()),
            T.StructField("to_type", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("last_id", T.LongType()),
            T.StructField("last_type", T.StringType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        prev = state.get if state.exists else None
        frames = [pdf for pdf in pdfs]
        if not frames:
            # Timeout-based invocation (no input rows for the key): under
            # NoTimeout this never fires, but a future eviction policy
            # invokes the kernel with an empty iterator — emit nothing.
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        # Pin the unit explicitly: Arrow may hand applyInPandasWithState
        # datetime64[ns] OR datetime64[us] depending on pandas/Arrow
        # version; a bare astype("int64")//1000 silently produces
        # 1000x-off epochs under [us] delivery (r4 advice).
        pdf = pdf.assign(_us=pdf["ts"].astype("datetime64[us]").astype("int64"))
        pdf = pdf.sort_values(["_us", "event_id"])
        # Vectorized pair stream (r9): the per-row Python loop capped the
        # whole stateful path at ~352k rows/s (streaming_trigger_scaling);
        # shifting the type array emits the identical (from, to) pairs in
        # the identical scan order.
        import numpy as np

        types = pdf["event_type"].to_numpy()
        if prev is not None:
            froms = np.concatenate(([prev[2]], types[:-1]))
            tos = types
        else:
            froms = types[:-1]
            tos = types[1:]
        tail = pdf.iloc[-1]
        state.update((int(tail["_us"]), int(tail["event_id"]), str(tail["event_type"])))
        yield pd.DataFrame(
            {"user_id": key[0], "from_type": froms, "to_type": tos}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


@register(
    "stream_transitions",
    # The stateful kernel emits per-user steps; the post-sink batch count
    # equals the batch lag-window transition matrix.
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS to_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq
    WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY n DESC, from_type, to_type
    """,
    doc="Streaming Markov transitions: applyInPandasWithState keeps each "
    "user's last event as keyed state and emits (from, to) steps "
    "incrementally; the materialized steps then aggregate to the same "
    "transition matrix as the batch lag window (identical oracle to "
    "event_transitions).",
    tags=("streaming", "sequence"),
)
def stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    steps = run_to_memory(
        transitions_stream(ev), "stream_transitions_mem", output_mode="update"
    )
    return (
        steps.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "from_type", "to_type")
    )


def scd2_intervals_stream(events: DataFrame, output_mode: str = "update") -> DataFrame:
    """Streaming SCD2 build via applyInPandasWithState: state = each
    user's OPEN interval (current band, valid_from, event count); a band
    change emits the closed interval and opens a new one.

    The incremental twin of queries/sequences.py scd2_user_value_bands:
    batch mode interval-izes change-points with lead(); a stream cannot
    see the next change, so the open interval lives in keyed state and
    only CLOSED intervals are emitted. Same ordering caveat as
    transitions_stream: micro-batches must split on event-time order
    (file source delivers whole files; rows are sorted inside each
    batch and the state carries the boundary)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("band", T.StringType()),
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("band", T.StringType()),
            T.StructField("from_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        frames = [pdf for pdf in pdfs]
        if not frames:
            return  # timeout invocation under a future eviction policy
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        # Pin the unit explicitly: Arrow may hand applyInPandasWithState
        # datetime64[ns] OR datetime64[us] depending on pandas/Arrow
        # version; a bare astype("int64")//1000 silently produces
        # 1000x-off epochs under [us] delivery (r4 advice).
        pdf = pdf.assign(_us=pdf["ts"].astype("datetime64[us]").astype("int64"))
        pdf = pdf.sort_values(["_us", "event_id"])
        band, from_us, n = state.get if state.exists else (None, 0, 0)
        # Vectorized run-length encoding (r9): the per-row Python loop
        # was the stateful path's throughput ceiling
        # (streaming_trigger_scaling); runs over the sorted band array
        # emit the identical closed intervals in the identical order —
        # the carried open interval either merges with the first run
        # (same band) or closes at the batch's first row.
        import numpy as np

        b_arr = pdf["band"].to_numpy()
        us_arr = pdf["_us"].to_numpy().astype("int64")
        starts = np.flatnonzero(np.concatenate(([True], b_arr[1:] != b_arr[:-1])))
        lens = np.diff(np.concatenate((starts, [len(b_arr)])))
        run_bands = b_arr[starts]
        run_from = us_arr[starts].copy()
        bands, v_from, v_to, counts = [], [], [], []
        if band is not None:
            if run_bands[0] == band:
                run_from[0] = from_us
                lens[0] += n
            else:
                bands.append(band)
                v_from.append(int(from_us))
                v_to.append(int(us_arr[0]))
                counts.append(int(n))
        if len(starts) > 1:
            bands.extend(run_bands[:-1].tolist())
            v_from.extend(run_from[:-1].tolist())
            v_to.extend(us_arr[starts[1:]].tolist())
            counts.extend(lens[:-1].tolist())
        band, from_us, n = run_bands[-1], int(run_from[-1]), int(lens[-1])
        state.update((band, int(from_us), int(n)))
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "band": bands,
                "valid_from": pd.to_datetime(v_from, unit="us"),
                "valid_to": pd.to_datetime(v_to, unit="us"),
                "n_events": pd.Series(counts, dtype="int64"),
            }
        )

    banded = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") < 20, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high")
        .alias("band"),
    )
    # "update" for the memory-sink registry entry; "append" for durable
    # file sinks (checkpoint recovery) — identical emissions either way:
    # this operator only ever yields final (closed-interval) rows.
    return banded.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, output_mode, GroupStateTimeout.NoTimeout
    )


@register(
    "stream_scd2_intervals",
    # Closed intervals only: the stream cannot close the last interval
    # (it stays in state), so the oracle is the batch SCD2 derivation
    # QUALIFYed to rows with a successor.
    oracle="""
    WITH banded AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value < 20 THEN 'low'
                  WHEN value < 60 THEN 'mid'
                  ELSE 'high' END AS band
      FROM events
    ),
    seq AS (
      SELECT user_id, ts, event_id, band,
             LAG(band) OVER w AS prev_band,
             ROW_NUMBER() OVER w AS rn
      FROM banded
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, band, ts AS valid_from, rn
      FROM seq WHERE prev_band IS NULL OR band <> prev_band
    )
    SELECT user_id, band, valid_from,
           LEAD(valid_from) OVER cw AS valid_to,
           CAST(LEAD(rn) OVER cw - rn AS BIGINT) AS n_events
    FROM changes
    WINDOW cw AS (PARTITION BY user_id ORDER BY valid_from, rn)
    QUALIFY LEAD(valid_from) OVER cw IS NOT NULL
    """,
    doc="Streaming SCD2: applyInPandasWithState keeps each user's open "
    "validity interval in keyed state and emits an interval exactly "
    "once, when the band change closes it — the incremental dimension- "
    "history load. Oracle = the batch scd2_user_value_bands derivation "
    "restricted to closed intervals (the open tail lives in state, not "
    "the sink).",
    tags=("streaming", "sequence", "window"),
)
def stream_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(
        scd2_intervals_stream(ev), "stream_scd2_mem", output_mode="update"
    )
