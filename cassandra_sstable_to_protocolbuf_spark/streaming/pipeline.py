"""Structured Streaming pipelines over the events stream.

The reference has no streaming surface at all (SURVEY.md §2.1 -- its
Reactor Flux is a synchronous iterator adapter, not an unbounded stream);
these are the north-star streaming operators, built on readStream /
writeStream with event-time watermarks so the same logical plans run
bounded (batch parity queries in plans/relational.py) and unbounded.

Scale notes: windowed aggregation state is keyed by (window, event_type)
-- bounded cardinality; the watermark bounds state retention so a 100 TB/
day stream does not accumulate unbounded state. Dedup state is likewise
watermark-scoped. applyInPandasWithState carries per-user session state,
timing out via the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_to_protocolbuf_spark.session import (
    read_base_table as _bt)


def _ntz_to_instant(col: str):
    """TIMESTAMP_NTZ -> TIMESTAMP carrying the same wall-clock as a UTC
    instant (via integer epoch micros, so no session-timezone shift).
    Watermarks/event-time ops require TIMESTAMP; re-deriving epoch micros
    from the result with unix_micros is exact and timezone-free."""
    from cassandra_sstable_to_protocolbuf_spark.session import ntz_epoch_us
    return F.timestamp_micros(F.expr(ntz_epoch_us(col)))


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-event_id stream within the watermark horizon:
    dropDuplicatesWithinWatermark keys state on event_id ALONE, so a
    replay with the same id but a different timestamp is still dropped
    (plain dropDuplicates(['event_id', 'ts']) would retain it), and
    state is evicted once the id ages past the watermark."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def _interval_ms(interval: str) -> int:
    """'N seconds|minutes|hours|days' -> milliseconds (the subset of
    Spark's interval syntax the streaming entries use)."""
    n, unit = interval.strip().split()
    # lower() BEFORE rstrip: '2 HOURS' is valid Spark interval syntax,
    # and 'HOURS'.rstrip('s') leaves the trailing S un-stripped
    factor = {"second": 1000, "minute": 60_000, "hour": 3_600_000,
              "day": 86_400_000}[unit.lower().rstrip("s")]
    return int(n) * factor


def user_running_stats(events: DataFrame, watermark: str = "2 hours",
                       evict: bool = True) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, emitted on every update; with
    `evict` (the production default) state is dropped by event-time
    timeout once a user goes quiet for `watermark` past the current
    watermark.

    This is the escape hatch for stateful logic the built-in windowed
    aggregations can't express (per-key custom accumulators, ML feature
    state, decayed counters); state is a tiny tuple per user so 100 TB/
    day with millions of users stays bounded. `evict=False` disables the
    watermark entirely (NoTimeout): no late rows are ever dropped, which
    is what a bounded-input replay needs for split-independent totals --
    at the cost of unbounded state on a truly unbounded stream.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # derive the eviction horizon from the caller's watermark (a
    # hardcoded 2 h here once silently kept state long past a caller's
    # '10 minutes'); parsed once on the driver, closed over by tasks
    timeout_offset_ms = _interval_ms(watermark)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            # eviction path: drop the tuple, emit nothing -- re-arming
            # the timeout here would keep every user's state forever
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        if evict:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + timeout_offset_ms)
        yield pd.DataFrame([{"user_id": key[0], "n_events": n, "total_value": total}])

    source = events.withWatermark("ts", watermark) if evict else events
    return (
        source
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=(GroupStateTimeout.EventTimeTimeout if evict
                         else GroupStateTimeout.NoTimeout),
        )
    )


def stream_cells_to_protobuf(cells_stream: DataFrame, out_dir: str,
                             checkpoint_dir: str,
                             available_now: bool = False):
    """Streaming form of the reference's whole job: an unbounded stream
    of wide-row cells -> tombstone filters -> Row grouping -> delimited
    protobuf + zstd files, one output directory per micro-batch.

    foreachBatch reuses the exact batch sink (write_cells_pb), so batch
    and streaming stay one code path; the checkpoint gives exactly-once
    per-batch output directories on restart.
    """
    import os

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        write_cells_pb)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_cells_pb(batch_df,
                       os.path.join(out_dir, f"batch={batch_id}")).collect()

    writer = (cells_stream.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/gate entry: the hourly event aggregate computed THROUGH the
    Structured Streaming engine (readStream -> watermark -> windowed agg
    -> availableNow termination), returned as the bounded result table so
    the driver can hash it against the batch SQL oracle. Proves the
    streaming plans produce batch-identical answers, under the gate.

    The memory sink holds only the aggregate (windows x event types, tiny
    at any corpus size) -- the unbounded-output production path is the
    foreachBatch/parquet sink (stream_cells_to_protobuf); complete mode +
    availableNow makes the final table independent of micro-batch split.
    """
    import uuid

    # Watermarks demand TIMESTAMP (not the NTZ the parquet reader infers):
    # re-root the NTZ wall-clock as a UTC instant via integer micros --
    # epoch-aligned hour windows then agree with a timezone-free
    # date_trunc, and the output emits epoch micros (never a formatted
    # string that would depend on the session timezone)
    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    # FileStreamSource wants a DIRECTORY; the table is one file inside the
    # scale-factor dir, so stream the dir with a glob filter on the file
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir)
          .withColumn("ts", _ntz_to_instant("ts")))
    agg = (ev.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                .alias("sum_value"))
           .select(F.unix_micros("win.start").alias("hour_us"),
                   "event_type", "n_events", "sum_value"))
    name = "stream_events_hourly_" + uuid.uuid4().hex
    query = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
    query.awaitTermination()
    return spark.table(name)


STREAM_EVENTS_HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/gate entry: 30-minute-gap sessions computed THROUGH the
    streaming engine with session_window (state-merging session windows),
    availableNow-terminated and returned as the bounded result so the
    driver hashes it against a batch gaps-and-islands oracle.

    Semantics note: session_window merges an event into a session iff its
    timestamp is STRICTLY before the session end (prev_ts + gap), so the
    oracle's new-session condition is `diff >= gap` -- this differs from
    events_sessionize_batch's `diff > gap` exactly on boundary-equal
    timestamps (none in microsecond event data, but the oracle must match
    the engine, not the other batch query).

    Scale design: session state is partitioned by user_id (the grouping
    key), merged incrementally per micro-batch; complete mode here only
    because the gate needs the whole table -- production would use
    append + watermark eviction into a parquet/protobuf sink.
    """
    import uuid

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir))
    from cassandra_sstable_to_protocolbuf_spark.session import ntz_epoch_us
    win_start_us = F.expr(ntz_epoch_us("win.start"))
    agg = (ev.groupBy(F.session_window("ts", "30 minutes").alias("win"),
                      "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.min("event_id").alias("first_event"),
                F.max("event_id").alias("last_event"))
           .select("user_id",
                   win_start_us.alias("session_start_us"),
                   "n_events", "first_event", "last_event"))
    name = "stream_events_sessionize_" + uuid.uuid4().hex
    query = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
    query.awaitTermination()
    return spark.table(name)


STREAM_EVENTS_SESSIONIZE_SQL = """
WITH e0 AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
e AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN LAG(ts_us, 1) OVER w IS NULL THEN 1
              WHEN ts_us - LAG(ts_us, 1) OVER w >= 1800000000 THEN 1
              ELSE 0 END AS new_sess
  FROM e0
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
s AS (
  SELECT user_id, event_id, ts_us,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_no
  FROM e
)
SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events,
       MIN(event_id) AS first_event, MAX(event_id) AS last_event
FROM s
GROUP BY user_id, session_no
"""


def interval_join(left: DataFrame, right: DataFrame, on: str,
                  left_ts: str, right_ts: str, lookback: str,
                  watermark: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream inner join: right-side rows within
    [left_ts - lookback, left_ts] for the same `on` key. The time-range
    condition plus the two watermarks bound BOTH sides' join state, so a
    100 TB/day stream evicts state instead of accumulating it (an
    unconstrained stream-stream join would be unbounded by definition).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        f"l.{on} = r.{on} AND r.{right_ts} >= l.{left_ts} - INTERVAL {lookback}"
        f" AND r.{right_ts} <= l.{left_ts}")
    return l.alias("l").join(r.alias("r"), F.expr(cond))


def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/gate entry: purchase<-click attribution THROUGH the
    streaming engine -- a stream-stream self-join (purchases to clicks by
    the same user within the prior 30 minutes), both sides watermarked so
    join state is evicted, availableNow-terminated and hashed against a
    batch interval-join oracle.

    Scale design: state is keyed by user_id and bounded to the 30-minute
    lookback + 1-hour watermark on each side; output is append-mode (a
    pair is emitted once its watermark passes), which is what an
    unbounded attribution sink needs.
    """
    import uuid

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir)
          .withColumn("ts", _ntz_to_instant("ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_event"),
                         F.col("user_id"), F.col("ts").alias("purchase_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_event"),
                      F.col("user_id"), F.col("ts").alias("click_ts")))
    joined = interval_join(purchases, clicks, on="user_id",
                           left_ts="purchase_ts", right_ts="click_ts",
                           lookback="30 MINUTES")
    out = joined.select(
        F.col("l.purchase_event").alias("purchase_event"),
        F.col("r.click_event").alias("click_event"),
        F.col("l.user_id").alias("user_id"),
        F.expr("timestampdiff(MICROSECOND, r.click_ts, l.purchase_ts)")
        .alias("gap_us"))
    name = "stream_click_attribution_" + uuid.uuid4().hex
    query = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
    query.awaitTermination()
    return spark.table(name)


STREAM_CLICK_ATTRIBUTION_SQL = """
SELECT p.event_id AS purchase_event,
       c.event_id AS click_event,
       p.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def stream_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/gate entry: exactly-once-per-event_id THROUGH the
    streaming engine. The input is the events file unioned with itself
    -- a deliberate 2x replay of every event -- deduplicated by
    dropDuplicatesWithinWatermark on event_id ALONE (state keyed by id,
    evicted once the id ages past the watermark), availableNow-
    terminated. The batch oracle is a plain scan of events: each event
    must come out exactly once, replay dropped.

    Scale design: dedup state is one tiny row per in-horizon event id,
    partitioned by id; the watermark bounds it, so an unbounded
    at-least-once source (the usual Kafka contract) dedups with finite
    state. Append mode is the production sink shape.
    """
    import uuid

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema

    def side() -> DataFrame:
        # each readStream call is an independent source instance, so the
        # union really delivers every file row twice
        return (spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir)
                .withColumn("ts", _ntz_to_instant("ts")))

    deduped = stream_dedup(side().unionAll(side()), watermark="1 hour")
    out = deduped.select("event_id", "user_id", "event_type",
                         F.unix_micros("ts").alias("ts_us"))
    name = "stream_events_dedup_" + uuid.uuid4().hex
    query = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
    query.awaitTermination()
    return spark.table(name)


STREAM_EVENTS_DEDUP_SQL = """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
FROM events
"""


def stream_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/gate entry: the applyInPandasWithState custom stateful
    operator under the correctness gate. Per-user running event counts
    through user_running_stats in its evict=False form -- a bounded
    replay must not watermark-drop late rows or time out state between
    micro-batches, or multi-batch splits would undercount. Update mode
    logs one row per user per micro-batch, and the running count is
    MONOTONE, so max over the update log is the final state and equals a
    batch GROUP BY no matter how availableNow splits batches. Counts are
    integers, so the check is exact regardless of accumulation order
    (the float total_value column is deliberately not part of the gated
    output).

    Scale design: state is one (count, total) tuple per user; update-mode
    emission is the production shape for a feature-store sink. This
    bounded-replay gate deliberately runs evict=False (NoTimeout), so
    state here is bounded by the replay's user count, not evicted; on a
    truly unbounded stream, production callers use evict=True, which
    arms the watermark-derived event-time timeout.
    """
    import uuid

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir)
          .withColumn("ts", _ntz_to_instant("ts")))
    stats = user_running_stats(ev, evict=False)
    out = stats.select("user_id", "n_events")
    name = "stream_user_event_counts_" + uuid.uuid4().hex
    query = (out.writeStream.format("memory").queryName(name)
             .outputMode("update").trigger(availableNow=True).start())
    query.awaitTermination()
    return (spark.table(name).groupBy("user_id")
            .agg(F.max("n_events").alias("n_events")))


STREAM_USER_EVENT_COUNTS_SQL = """
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY user_id
"""


def stream_pb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/gate entry: the reference's WHOLE job through the
    streaming engine -- an unbounded cell stream folded into Rows and
    sunk as delimited-protobuf+zstd files per micro-batch (foreachBatch
    reusing the exact batch sink), then read back through the pb
    DataSource and aggregated. Counts are split-independent (distinct
    keys / summed cells), so however availableNow slices batches the
    result equals the batch oracle -- certifying K1+K2 under streaming,
    exactly-once per-batch directories included."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.plans.cells_queries import (
        encode_lineitem_cells)
    from cassandra_sstable_to_protocolbuf_spark.sources.cells import to_binary_cells
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        read_rows_pb)

    cells = to_binary_cells(encode_lineitem_cells(spark, sf_dir))
    from cassandra_sstable_to_protocolbuf_spark.session import scratch_dir
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = scratch_dir("streampb_src", tag)
    cells.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    # the sink dir and checkpoint must start EMPTY: a reused checkpoint
    # would mark the source processed and emit no batches
    out = scratch_dir("streampb_out", tag, fresh=True)
    ckpt = scratch_dir("streampb_ckpt", tag, fresh=True)
    query = stream_cells_to_protobuf(stream, out, ckpt, available_now=True)
    query.awaitTermination()
    back = read_rows_pb(spark, out)
    return (back.groupBy("sstable_id")
            .agg(F.count_distinct("key").alias("n_rows"),
                 F.sum(F.size("columns")).alias("n_cells")))


def stream_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest composed with the copy-on-write landed layout:
    replica cells arrive as a STREAM (availableNow over a multi-file
    parquet spool, one file per micro-batch) and each micro-batch
    merges into the sharded landed table via
    foreachBatch(merge_delta_lww). LWW reconciliation is commutative,
    associative, and idempotent, so HOWEVER the stream slices the
    delta -- and under at-least-once foreachBatch replay -- the final
    table equals the batch oracle's from-scratch recompute over all
    sstables; that is exactly the property that makes this merge safe
    as a streaming sink at 100 TB (each batch rewrites only the shard
    directories its keys touch).
    """
    import os

    from cassandra_sstable_to_protocolbuf_spark.landed import merge_delta_lww
    from cassandra_sstable_to_protocolbuf_spark.plans.cells_queries import (
        incremental_base_dir, project_landed, replica_delta_cells)
    from cassandra_sstable_to_protocolbuf_spark.session import (
        scratch_dir, work_clone)

    tag = os.path.basename(sf_dir.rstrip("/"))
    # spool the delta as 4 files -> 4 micro-batches under availableNow
    spool = scratch_dir("incr_stream_spool", tag, fresh=True)
    (replica_delta_cells(spark, sf_dir)
     .repartition(4).write.mode("overwrite").parquet(spool))

    base = incremental_base_dir(spark, sf_dir)
    work = work_clone(base, "incr_stream_work", tag)

    schema = spark.read.parquet(spool).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(spool))
    ckpt = scratch_dir("incr_stream_ckpt", tag, fresh=True)
    query = (stream.writeStream
             .foreachBatch(lambda batch, _id: merge_delta_lww(spark, work, batch))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return project_landed(spark.read.parquet(work))


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join THROUGH the streaming engine: each
    micro-batch of the event stream equi-joins the static customer dim
    (Spark re-plans the static side per batch -- the canonical pattern
    for enriching a 100 TB/day stream with slowly-changing reference
    data), then feeds a running aggregate per market segment. Inner
    equi-join + aggregation are split-independent, so the availableNow
    result table hash-matches the batch SQL oracle."""
    import uuid

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir))
    cust = _bt(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment")
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = (joined.groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                .alias("sum_value")))
    name = "stream_static_enrich_" + uuid.uuid4().hex
    query = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
    query.awaitTermination()
    return spark.table(name)


STREAM_STATIC_ENRICH_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


def stream_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest into the MANIFEST-VERSIONED landed table:
    replica cells arrive as a stream (availableNow, one file per
    micro-batch) and each batch commits merge-on-read
    (versioned.append_versioned) -- an O(delta) file append publishing
    a new snapshot, so every micro-batch is a consistent, time-
    travelable version and readers never see a half-applied batch.

    Replay safety comes from LWW algebra, not the commit protocol: an
    at-least-once re-delivered batch appends duplicate FILES, but
    read-time reconciliation (read_merged) picks identical winners, so
    the result table is invariant under replay -- the storage debt is
    exactly what compact_versioned folds away. The gate certifies the
    read-time-merged final snapshot against the batch oracle's
    from-scratch LWW over all sstables."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.plans.cells_queries import (
        project_landed, replica_delta_cells, versioned_base_dir)
    from cassandra_sstable_to_protocolbuf_spark.session import (
        scratch_dir, work_clone)
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        append_versioned, current_version, read_merged)

    tag = os.path.basename(sf_dir.rstrip("/"))
    spool = scratch_dir("ver_stream_spool", tag, fresh=True)
    (replica_delta_cells(spark, sf_dir)
     .repartition(4).write.mode("overwrite").parquet(spool))

    base = versioned_base_dir(spark, sf_dir)
    work = work_clone(base, "ver_stream_work", tag)

    schema = spark.read.parquet(spool).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(spool))
    ckpt = scratch_dir("ver_stream_ckpt", tag, fresh=True)
    query = (stream.writeStream
             .foreachBatch(lambda batch, _id: append_versioned(spark, work, batch))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    assert current_version(work) >= 1, "stream committed no versions"
    return project_landed(read_merged(spark, work))


def stream_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(source, lang) corpus profile maintained THROUGH the
    streaming engine: documents arrive as a file stream, quality signals
    are computed as narrow expressions on the stream, and one grouped
    aggregate keeps running volume/keep counts -- the live ingest
    dashboard a production corpus pipeline watches. Complete mode +
    availableNow makes the final table micro-batch-split independent, so
    it hashes against the batch SQL oracle.

    The dup counters of the BATCH profile (docs_corpus_profile) are
    deliberately absent: they need a second aggregation over
    fingerprints, which Structured Streaming's single-aggregation rule
    forbids -- dedup state on a stream is stream_docs-style
    dropDuplicates territory, a different operator."""
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.operators.text import (
        EN_STOPWORDS, marker_hits, tokens)

    schema = _bt(spark, f"{sf_dir}/documents.parquet").schema
    docs = (spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))
    counted = docs.select(
        "source", "lang",
        F.length("text").alias("n_chars"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        marker_hits(tokens(F.col("text")), EN_STOPWORDS).alias("n_stop"),
        F.size(F.array_distinct(tokens(F.col("text")))).alias("n_distinct"))
    stop_ratio = (F.col("n_stop").cast("double")
                  / F.col("n_tokens").cast("double"))
    rep_ratio = (F.col("n_distinct").cast("double")
                 / F.col("n_tokens").cast("double"))
    keep = ((F.col("n_tokens") >= 20) & (stop_ratio < 0.5)
            & (rep_ratio > 0.1))
    agg = (counted.groupBy("source", "lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("n_chars").alias("n_chars"),
                F.sum(F.when(keep, 1).otherwise(0)).alias("n_keep")))
    name = "stream_corpus_profile_" + uuid.uuid4().hex
    query = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
    query.awaitTermination()
    return (spark.table(name)
            .withColumn("keep_rate",
                        F.col("n_keep").cast("double")
                        / F.col("n_docs").cast("double")))


STREAM_CORPUS_PROFILE_SQL = """
WITH t AS (SELECT source, lang, length(text) AS n_chars,
                  list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
s AS (SELECT source, lang, n_chars,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> x IN ({stops}))) AS n_stop,
             len(list_distinct(toks)) AS n_distinct
      FROM t),
k AS (SELECT source, lang, n_chars, n_tokens,
             (n_tokens >= 20
              AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
              AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.1) AS keep
      FROM s)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS keep_rate
FROM k
GROUP BY source, lang
"""


def _fill_stream_profile_sql() -> str:
    from cassandra_sstable_to_protocolbuf_spark.operators.text import (
        EN_STOPWORDS)

    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return STREAM_CORPUS_PROFILE_SQL.format(stops=stops)


STREAM_CORPUS_PROFILE_SQL = _fill_stream_profile_sql()


def stream_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B z-test's moment accumulation run THROUGH Structured
    Streaming: counts / penny sums / penny sums-of-squares are monoids,
    so complete-mode state (2 rows per event_type, bounded at any stream
    size) converges to the batch frame regardless of micro-batch splits;
    availableNow terminates on the bounded fixture. The z-score math
    then runs batch-side over the tiny streamed moment table -- the same
    split a production dashboard makes (streaming accumulation, query-
    time scoring). Gate: the batch EVENTS_AB_TEST_SQL oracle."""
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        ab_moments, ab_zscore_from_moments)

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir))
    name = "stream_ab_test_" + uuid.uuid4().hex
    query = (ab_moments(ev).writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
    query.awaitTermination()
    return ab_zscore_from_moments(spark.table(name))


def stream_mv_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-MV maintained THROUGH the streaming engine, with
    EXACTLY-ONCE batch commits: the late-order delta (the final 20% of
    the date range, lineitems pre-joined to their orders -- the
    denormalized CDC feed a fact stream actually ships) arrives as an
    availableNow file stream, one file per micro-batch. Each batch
    broadcast-joins the customer->nation dim (stream-static enrich),
    aggregates to MV grain, and partial-merges ONLY the touched month
    partitions of the base MV.

    Unlike the LWW merges (idempotent by algebra), additive partial
    aggregation is NOT replay-safe -- an at-least-once redelivery would
    double-count -- so the sink implements the transactional-foreachBatch
    pattern: a marker committed AFTER the partition swap makes each
    batch idempotent. Markers are keyed by the batch's MV-grain CONTENT
    (in production (queryId, epochId) suffices because the checkpoint
    pins id->data; the drill below replays through a FRESH checkpoint,
    where ids may re-slice, so content is the honest key). The gate
    then PROVES exactly-once: after the first pass completes, the whole
    spool is re-delivered through a second checkpoint -- without the
    markers every sum would double and the oracle hash would fail."""
    import os

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import _t
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ntz_epoch_us, pin, scratch_dir)

    tag = os.path.basename(sf_dir.rstrip("/"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "od_us", F.expr(ntz_epoch_us("o_orderdate")))
    # pinned: the dim feeds the base-MV build plus every micro-batch's
    # broadcast (4 batches x 2 passes) -- without the pin each broadcast
    # re-reads customer+nation and re-runs the join
    dim = pin(_t(spark, sf_dir, "customer")
              .join(_t(spark, sf_dir, "nation"),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .select("c_custkey", "n_name"))

    lo, hi = orders.agg(F.min("od_us"), F.max("od_us")).collect()[0]
    cutoff = lo + int((hi - lo) * 0.8)

    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")))
    fact = (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                    "o_custkey", rev.alias("rev_e4"), "od_us"))

    def mv_agg(rows: DataFrame) -> DataFrame:
        return (rows.join(F.broadcast(dim),
                          rows.o_custkey == F.col("c_custkey"))
                .groupBy("month", "n_name")
                .agg(F.count(F.lit(1)).alias("n_items"),
                     F.sum("rev_e4").alias("rev_e4")))

    out = scratch_dir("mv_join_stream", tag, fresh=True)
    # cluster by the partition column before the partitioned write: the
    # unclustered form fans every task into every month directory
    # (tasks x months tiny files), and every micro-batch re-lists them
    mv_agg(fact.filter(F.col("od_us") < F.lit(cutoff))) \
        .repartition(F.col("month")) \
        .write.mode("overwrite").partitionBy("month").parquet(out)

    # the spool is the simulated CDC arrival feed (INPUT to the streaming
    # drill, not its result): like the ewma/kmv spools, build it once and
    # key it on the SOURCE files' identity so driver-regenerated testdata
    # misses the cache. Slices are hash-deterministic (not repartition's
    # round-robin) so a rebuilt spool is bit-stable.
    st_li = os.stat(f"{sf_dir}/lineitem.parquet")
    st_o = os.stat(f"{sf_dir}/orders.parquet")
    spool = scratch_dir(
        "mv_join_spool",
        f"{tag}_{st_li.st_size}_{st_li.st_mtime_ns}"
        f"_{st_o.st_size}_{st_o.st_mtime_ns}")
    slices = [f"slice-{i}.parquet" for i in range(4)]
    if sorted(p for p in os.listdir(spool)
              if p.startswith("slice-")) != slices:
        late = (fact.filter(F.col("od_us") >= F.lit(cutoff))
                .drop("od_us"))
        for i in range(4):
            part = late.filter(
                F.pmod(F.xxhash64("o_custkey"), F.lit(4)) == i)
            tmp = os.path.join(spool, f"g{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(p for p in os.listdir(tmp)
                       if p.endswith(".parquet"))
            os.replace(os.path.join(tmp, src),
                       os.path.join(spool, f"slice-{i}.parquet"))
            import shutil
            shutil.rmtree(tmp)

    applied = scratch_dir("mv_join_applied", tag, fresh=True)

    def refresh(batch: DataFrame, batch_id: int) -> None:
        import hashlib

        # ONE job per batch for the delta: collect the MV-grain rows
        # (bounded by construction) and rebuild the merge input from
        # them via createDataFrame -- the previous localCheckpoint +
        # collect + reuse-the-checkpoint shape paid two job submissions
        # per micro-batch plus checkpoint storage for rows already in
        # driver hands.
        rows = [(r["month"], r["n_name"], r["n_items"], r["rev_e4"])
                for r in mv_agg(batch).collect()]  # bounded: MV grain
        sig = hashlib.md5(repr(sorted(rows)).encode()).hexdigest()
        marker = os.path.join(applied, f"sig-{sig}")
        if os.path.exists(marker) or not rows:  # replayed batch: skip
            return
        months = sorted({m for m, *_ in rows})
        # the merge itself is MV-grain (touched months x nations, a few
        # hundred rows): read the touched partitions once, fold the
        # delta in the driver, and stage the replacement partitions with
        # a direct parquet write -- the old distributed unionByName +
        # groupBy + repartition + partitionBy-write shape spent two
        # exchanges, a 32-task stage and a whole job submission on rows
        # already in driver hands (~1.5 s of the ~2 s batch). The commit
        # itself stays the shared atomic partition swap.
        acc = {(m, n): [ni, rv] for m, n, ni, rv in rows}
        for r in (spark.read.parquet(out)
                  .filter(F.col("month").isin(months)).collect()):
            cur = acc.setdefault((r["month"], r["n_name"]), [0, 0])
            cur[0] += r["n_items"]
            cur[1] += r["rev_e4"]
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        from cassandra_sstable_to_protocolbuf_spark.landed import (
            _staging_dir, _swap_partition_dirs)

        staging = _staging_dir(out)
        try:
            for m in months:
                part = sorted((n, v[0], v[1])
                              for (mm, n), v in acc.items() if mm == m)
                pdir = os.path.join(staging, f"month={m}")
                os.makedirs(pdir)
                pq.write_table(pa.table(
                    {"n_name": [p[0] for p in part],
                     "n_items": pa.array([p[1] for p in part],
                                         type=pa.int64()),
                     "rev_e4": pa.array([p[2] for p in part],
                                        type=pa.int64())}),
                    os.path.join(pdir, "part-0.parquet"))
            _swap_partition_dirs(out, staging, months, part_col="month")
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        with open(marker, "w") as f:  # commit point: batch now idempotent
            f.write("done")

    schema = spark.read.parquet(spool).schema
    for attempt in ("first", "replay"):  # second pass = at-least-once drill
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(spool))
        ckpt = scratch_dir(f"mv_join_ckpt_{attempt}", tag, fresh=True)
        q = (stream.writeStream.foreachBatch(refresh)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.read.parquet(out)
            .select("month", "n_name", "n_items", "rev_e4"))


def _restartable_dirs(scratch_dir, tag: str, prefix: str,
                      checkpoint: str | None, names: list[str]):
    """State/output directories for a foreachBatch recurrence: fresh
    per invocation by default (the gate path -- each run recomputes),
    but keyed DETERMINISTICALLY off an injected checkpoint so a resume
    on the same checkpoint finds the previous run's committed state --
    the restart drill's surface (VERDICT r8 #6)."""
    if checkpoint is None:
        return [scratch_dir(f"{prefix}_{n}", tag, fresh=True)
                for n in names]
    import hashlib as _hashlib

    h = _hashlib.sha1(checkpoint.encode()).hexdigest()[:12]
    return [scratch_dir(f"{prefix}_{n}", f"{tag}_{h}") for n in names]


def stream_ewma(spark: SparkSession, sf_dir: str,
                _checkpoint: str | None = None,
                _kill_after: int | None = None) -> DataFrame:
    """The order-SENSITIVE EWMA recurrence maintained THROUGH streaming
    -- the Kappa-style ordered backfill: unlike every commutative merge
    above, s_t = (3*s_{t-1} + v_t) div 4 depends on delivery order, so
    the spool is range-partitioned on event time (4 contiguous slices,
    one file per micro-batch, mtimes forcing source order) and each
    foreachBatch folds its slice onto the per-user state carried from
    the previous batch -- exactly how a production backfill replays
    partition-ordered history into a stateful feature store.

    State is a (user_id, s) tuple set, persisted per batch_id so an
    at-least-once redelivery of batch N reloads state N-1 and rewrites
    the same output partition (idempotent, the transactional-foreachBatch
    pattern); outputs land per batch and union to the final frame. The
    gate hash-matches the BATCH recursive-CTE oracle -- certifying that
    ordered streaming delivery reproduces the sequential recurrence
    bit-for-bit, which no unordered streaming operator could.

    Scale: per batch one key-partitioned applyInPandas over (seed rows
    UNION slice rows); state is one tuple per user."""
    import os
    import time as _time

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        _t, _ts_us)
    from cassandra_sstable_to_protocolbuf_spark.session import scratch_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", _ts_us().alias("ts_us"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_fp"))

    # the spool is a pure function of sf_dir: build it once per scratch
    # lifetime and let repeat invocations (bench runs the query three
    # times) measure the streaming fold, not spool setup
    spool = scratch_dir("ewma_spool", tag)
    have = sorted(p for p in os.listdir(spool) if p.startswith("slice-"))
    if have != [f"slice-{i}.parquet" for i in range(4)]:
        lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
        step = (hi - lo) // 4 + 1
        for i in range(4):
            part = ev.filter(
                (F.col("ts_us") >= lo + i * step)
                & (F.col("ts_us") < lo + (i + 1) * step))
            tmp = os.path.join(spool, f"g{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            dst = os.path.join(spool, f"slice-{i}.parquet")
            os.replace(os.path.join(tmp, src), dst)
            # FileStreamSource orders new files by modification time; pin
            # strictly increasing mtimes so slice order IS event-time order
            t = _time.time() + i
            os.utime(dst, (t, t))
            import shutil
            shutil.rmtree(tmp)

    state_root, out_root = _restartable_dirs(
        scratch_dir, tag, "ewma", _checkpoint, ["state", "out"])

    def fold(batch: DataFrame, batch_id: int) -> None:
        if _kill_after is not None and batch_id >= _kill_after:
            raise RuntimeError("injected mid-stream crash")
        seed_dir = os.path.join(state_root, f"b{batch_id - 1}")
        rows = batch.select("event_id", "user_id", "ts_us", "v_fp")
        if os.path.isdir(seed_dir):
            seed = (spark.read.parquet(seed_dir)
                    .select(F.lit(-1).alias("event_id"), "user_id",
                            F.lit(-1).alias("ts_us"),
                            F.col("s").alias("v_fp")))
            rows = seed.unionByName(rows)

        from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
            ewma_fold)

        # one computation feeds both sinks; seed rows sort first (ts=-1)
        folded = ewma_fold(rows).localCheckpoint()
        (folded.filter(F.col("event_id") >= 0)  # seed rows are carriers
         .write.mode("overwrite")
         .parquet(os.path.join(out_root, f"b{batch_id}")))
        # final state per user = the EWMA at its max (ts_us, event_id)
        # row, recovered relationally (cross-row output order from
        # applyInPandas is not a contract)
        last = (rows.groupBy("user_id")
                .agg(F.max(F.struct("ts_us", "event_id")).alias("m"))
                .select("user_id", F.col("m.event_id").alias("event_id")))
        state = (folded.join(last, ["user_id", "event_id"])
                 .select("user_id", F.col("ewma_fp").alias("s")))
        state.write.mode("overwrite").parquet(
            os.path.join(state_root, f"b{batch_id}"))

    schema = spark.read.parquet(os.path.join(spool, "slice-0.parquet")).schema
    ckpt = _checkpoint if _checkpoint is not None \
        else scratch_dir("ewma_ckpt", tag, fresh=True)
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", "1")
         .option("pathGlobFilter", "slice-*.parquet")
         .parquet(spool)
         .writeStream.foreachBatch(fold)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    res = spark.read.parquet(os.path.join(out_root, "b*"))
    return res.select("event_id", "user_id", "ewma_fp",
                      (F.col("ewma_fp").cast("double") / 1e6).alias("ewma"))


def stream_cusum(spark: SparkSession, sf_dir: str,
                 _checkpoint: str | None = None,
                 _kill_after: int | None = None) -> DataFrame:
    """The CUSUM change detector maintained THROUGH streaming, with a
    CALIBRATION WARMUP that spans micro-batches: the reference level is
    the mean of each type's first seven days, so early days cannot be
    scored when they arrive -- they park in bounded per-type pending
    state (<= 7 rows) until the calibration window completes, then emit
    retroactively with the ordered recurrence. The spool is cut into
    FIVE-day slices precisely so batch 0 holds fewer than seven days
    and the warmup carry is actually exercised (an 8-day slice would
    calibrate instantly and prove nothing).

    State per type is (n7, sum7, ref, s) plus the pending rows,
    persisted per batch_id so an at-least-once redelivery reloads state
    N-1 and rewrites the same output partition (the transactional-
    foreachBatch pattern, as stream_ewma). Slices cut at DAY boundaries
    so each day's count is complete within its batch. The gate is the
    batch EVENTS_CUSUM_SQL oracle: ordered replay through the warmup
    reproduces the two-pass batch computation bit-for-bit."""
    import os
    import time as _time

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import _t
    from cassandra_sstable_to_protocolbuf_spark.session import scratch_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")))

    n_slices = 6
    spool = scratch_dir("cusum_spool", tag)
    have = sorted(p for p in os.listdir(spool) if p.startswith("slice-"))
    if have != [f"slice-{i}.parquet" for i in range(n_slices)]:
        days = [r["day"] for r in
                ev.select("day").distinct().orderBy("day").collect()]
        step = (len(days) + n_slices - 1) // n_slices
        for i in range(n_slices):
            sl = days[i * step:(i + 1) * step]
            part = ev.filter(F.col("day").isin(sl or ["-"]))
            tmp = os.path.join(spool, f"g{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            dst = os.path.join(spool, f"slice-{i}.parquet")
            os.replace(os.path.join(tmp, src), dst)
            t = _time.time() + i
            os.utime(dst, (t, t))
            import shutil
            shutil.rmtree(tmp)

    (state_root,) = _restartable_dirs(
        scratch_dir, tag, "cusum", _checkpoint, ["state"])

    # Bounded-state checkpointing: state is (ref, s) per TYPE plus <= 7
    # pending day rows -- kilobytes at any corpus size -- so it commits
    # as one JSON file per batch_id written driver-side, NOT as Spark
    # parquet jobs (the first cut ran 3 write + 2 read jobs per
    # micro-batch and spent 32 s at sf0.1 on scheduling alone; 6 s
    # after). Contrast stream_ewma, whose per-USER state is
    # data-proportional and rightly stays in parquet. Replay stays
    # idempotent: a redelivered batch reloads state[batch_id-1] from
    # its file and overwrites its own file. The batch's OUTPUT rows
    # (bounded: day grain) ride the same JSON commit, so a RESTART
    # reassembles committed batches' rows from disk -- the in-memory
    # dict the first cut kept would have silently dropped them
    # (VERDICT r8 #6).

    def fold(batch: DataFrame, batch_id: int) -> None:
        import json

        if _kill_after is not None and batch_id >= _kill_after:
            raise RuntimeError("injected mid-stream crash")
        daily = (batch.groupBy("event_type", "day")
                 .agg((F.count(F.lit(1)) * 1_000_000).alias("y_fp")))
        prev = os.path.join(state_root, f"b{batch_id - 1}.json")
        if os.path.exists(prev):
            with open(prev) as f:
                st = json.load(f)
        else:
            st = {"state": {}, "pending": []}
        # the only data-proportional work is the distributed agg above;
        # the collect is day-grain (bounded: types x days-per-slice)
        rows = st["pending"] + [
            [r["event_type"], r["day"], r["y_fp"]] for r in daily.collect()]

        out, new_state, new_pending = [], {}, []
        types = sorted({et for et, _, _ in rows})
        for et in types:
            mine = sorted(r for r in rows if r[0] == et)
            ref, seed = st["state"].get(et, (None, 0))
            s_acc = seed
            n7 = sum7 = 0
            pend = []
            for _, day, y in mine:
                y = int(y)
                if ref is None:
                    # warmup counters rebuild from the replayed pending
                    # rows each batch (persisting them beside the rows
                    # would double-count)
                    n7 += 1
                    sum7 += y
                    pend.append([et, day, y])
                    if n7 == 7:
                        ref = sum7 // 7
                        for _, pday, py in pend:  # retroactive emit
                            s_acc = max(0, s_acc + py - ref)
                            out.append((et, pday, py // 1_000_000,
                                        ref, s_acc))
                        pend = []
                else:
                    s_acc = max(0, s_acc + y - ref)
                    out.append((et, day, y // 1_000_000, ref, s_acc))
            new_state[et] = (ref, s_acc)
            new_pending.extend(pend)
        for et, tup in st["state"].items():  # silent types carry forward
            new_state.setdefault(et, tuple(tup))

        tmp = os.path.join(state_root, f"b{batch_id}.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"state": new_state, "pending": new_pending,
                       "out": out}, f)
        os.replace(tmp, os.path.join(state_root, f"b{batch_id}.json"))

    schema = spark.read.parquet(os.path.join(spool, "slice-0.parquet")).schema
    ckpt = _checkpoint if _checkpoint is not None \
        else scratch_dir("cusum_ckpt", tag, fresh=True)
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", "1")
         .option("pathGlobFilter", "slice-*.parquet")
         .parquet(spool)
         .writeStream.foreachBatch(fold)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = [tuple(r) for b in _committed_batch_jsons(state_root)
            for r in b["out"]]
    res = spark.createDataFrame(
        rows, "event_type string, day string, y long, "
              "ref_fp long, cusum_fp long")
    return res.withColumn("alarm", F.col("cusum_fp") > 3 * F.col("ref_fp"))


def _committed_batch_jsons(state_root: str) -> list[dict]:
    """Every committed per-batch JSON under a recurrence's state root,
    batch-id order -- the restart-safe output assembly (committed
    batches never replay, so their rows must come from disk)."""
    import json
    import os
    import re

    pat = re.compile(r"^b(\d+)\.json$")
    found = []
    for name in os.listdir(state_root):
        m = pat.match(name)
        if m:
            found.append((int(m.group(1)), name))
    out = []
    for _bid, name in sorted(found):
        with open(os.path.join(state_root, name)) as f:
            out.append(json.load(f))
    return out


def stream_holt_trend(spark: SparkSession, sf_dir: str,
                      _checkpoint: str | None = None,
                      _kill_after: int | None = None) -> DataFrame:
    """The Holt level+trend recurrence maintained THROUGH streaming --
    the forecasting twin of stream_cusum's detector, completing the
    batch+stream pairing for all three sequential recurrences (EWMA,
    CUSUM, Holt). Day-boundary slices replay in event-time order; each
    batch folds its days onto the per-type (level, trend) state carried
    from the previous batch. No warmup buffering here (the recurrence
    seeds at the first day), so state is exactly two integers per type,
    committed as one driver-side JSON file per batch_id (the bounded-
    state pattern; see stream_cusum for why parquet state jobs are
    wrong at this state size). Gate: the batch recursive-CTE oracle --
    ordered replay reproduces the coupled fixed-point recurrence
    bit-for-bit."""
    import os
    import time as _time

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        _t, _tdiv)
    from cassandra_sstable_to_protocolbuf_spark.session import scratch_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")))

    n_slices = 6
    spool = scratch_dir("holt_spool", tag)
    have = sorted(p for p in os.listdir(spool) if p.startswith("slice-"))
    if have != [f"slice-{i}.parquet" for i in range(n_slices)]:
        days = [r["day"] for r in
                ev.select("day").distinct().orderBy("day").collect()]
        step = (len(days) + n_slices - 1) // n_slices
        for i in range(n_slices):
            sl = days[i * step:(i + 1) * step]
            part = ev.filter(F.col("day").isin(sl or ["-"]))
            tmp = os.path.join(spool, f"g{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            dst = os.path.join(spool, f"slice-{i}.parquet")
            os.replace(os.path.join(tmp, src), dst)
            t = _time.time() + i
            os.utime(dst, (t, t))
            import shutil
            shutil.rmtree(tmp)

    (state_root,) = _restartable_dirs(
        scratch_dir, tag, "holt", _checkpoint, ["state"])

    def fold(batch: DataFrame, batch_id: int) -> None:
        import json

        if _kill_after is not None and batch_id >= _kill_after:
            raise RuntimeError("injected mid-stream crash")
        daily = (batch.groupBy("event_type", "day")
                 .agg((F.count(F.lit(1)) * 1_000_000).alias("y_fp")))
        prev = os.path.join(state_root, f"b{batch_id - 1}.json")
        st = {}
        if os.path.exists(prev):
            with open(prev) as f:
                st = json.load(f)["state"]
        rows = sorted([r["event_type"], r["day"], r["y_fp"]]
                      for r in daily.collect())
        out, new_state = [], dict(st)
        for et, day, y in rows:
            y = int(y)
            if et not in new_state:
                lv, tr = y, 0
            else:
                plv, ptr = new_state[et]
                lv = _tdiv(y + 3 * (plv + ptr), 4)
                tr = _tdiv((lv - plv) + 3 * ptr, 4)
            new_state[et] = (lv, tr)
            out.append((et, day, y // 1_000_000, lv, tr))
        tmp = os.path.join(state_root, f"b{batch_id}.json.tmp")
        with open(tmp, "w") as f:
            # output rows ride the state commit: a RESTART reassembles
            # committed batches' rows from disk (VERDICT r8 #6)
            json.dump({"state": new_state, "out": out}, f)
        os.replace(tmp, os.path.join(state_root, f"b{batch_id}.json"))

    schema = spark.read.parquet(os.path.join(spool, "slice-0.parquet")).schema
    ckpt = _checkpoint if _checkpoint is not None \
        else scratch_dir("holt_ckpt", tag, fresh=True)
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", "1")
         .option("pathGlobFilter", "slice-*.parquet")
         .parquet(spool)
         .writeStream.foreachBatch(fold)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = [tuple(r) for b in _committed_batch_jsons(state_root)
            for r in b["out"]]
    res = spark.createDataFrame(
        rows, "event_type string, day string, y long, "
              "level_fp long, trend_fp long")
    return res.withColumn(
        "forecast_next",
        (F.col("level_fp") + F.col("trend_fp")).cast("double") / 1e6)


def stream_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson bootstrap's moment accumulation run THROUGH
    Structured Streaming: each replica's (sum of weights, weighted sum)
    is a monoid, so complete-mode state -- 100 rows + 1 point-estimate
    row, bounded at any stream size -- converges to the batch frame
    regardless of micro-batch splits, exactly the stream_ab_test split
    (streaming accumulation, query-time scoring). Per-row replica
    weights are the same deterministic integer-threshold draws as the
    batch op, so the streamed CI is bit-identical to the batch oracle."""
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.operators.corpus import (
        HASH_A, HASH_C, HASH_M, HASH_P)
    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        BOOTSTRAP_MIX, BOOTSTRAP_REPLICAS, BOOTSTRAP_THRESHOLDS)
    from pyspark.sql import Window as W

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir)
          .select("event_id", F.round(F.col("value") * 1_000_000)
                  .cast("long").alias("x")))
    reps = ev.withColumn(
        "b", F.explode(F.sequence(F.lit(-1),
                                  F.lit(BOOTSTRAP_REPLICAS - 1))))
    # replica -1 carries the unweighted point-estimate moments through
    # the same monoid aggregation
    u = ((F.col("event_id") % HASH_P) * HASH_A + HASH_C
         + F.col("b") * BOOTSTRAP_MIX) % HASH_M
    w = F.lit(7)
    for k in range(len(BOOTSTRAP_THRESHOLDS) - 1, -1, -1):
        w = F.when(u < BOOTSTRAP_THRESHOLDS[k], k).otherwise(w)
    w = F.when(F.col("b") == -1, 1).otherwise(w).cast("long")
    moments = (reps.withColumn("w", w)
               .groupBy("b")
               .agg(F.sum("w").alias("n_b"),
                    F.sum(F.col("w") * F.col("x")).alias("s_b")))
    name = "stream_bootstrap_" + uuid.uuid4().hex
    q = (moments.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    rep = spark.table(name)

    mean_b = (F.col("s_b").cast("double") / F.col("n_b")) / 1e6
    ranked = (rep.filter(F.col("b") >= 0)
              .select(mean_b.alias("mean_b"), "b")
              .withColumn("rk", F.row_number().over(
                  W.orderBy(F.col("mean_b").asc(), F.col("b").asc()))))
    ci = ranked.agg(
        F.min(F.when(F.col("rk") == 3, F.col("mean_b"))).alias("ci_lo"),
        F.min(F.when(F.col("rk") == 98, F.col("mean_b"))).alias("ci_hi"))
    point = (rep.filter(F.col("b") == -1)
             .select(((F.col("s_b").cast("double") / F.col("n_b")) / 1e6)
                     .alias("point_mean")))
    return (point.crossJoin(F.broadcast(ci))
            .select(F.lit(BOOTSTRAP_REPLICAS).cast("long")
                    .alias("n_replicas"),
                    "point_mean", "ci_lo", "ci_hi"))


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-gated HyperLogLog accumulated THROUGH Structured
    Streaming: registers are a MAX-monoid (<= 192 rows at any stream
    size), so complete-mode state converges to the batch sketch
    regardless of micro-batch splits -- max is order-insensitive and
    idempotent, the textbook mergeable-sketch property, here PROVEN by
    gating against the SAME DuckDB oracle as the batch twin
    (lineitem_hll_distinct). Scoring (integral estimator + exact
    comparison) runs batch-side at query time, the accumulate-then-
    score split of stream_countmin_freq."""
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        _hll_registers, _hll_score)

    schema = _bt(spark, f"{sf_dir}/lineitem.parquet").schema
    li = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "lineitem.parquet")
          .parquet(sf_dir)
          .select("l_returnflag", "l_orderkey"))
    regs_stream = _hll_registers(li)
    name = "stream_hll_" + uuid.uuid4().hex
    q = (regs_stream.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    regs = spark.table(name)
    li_b = (_bt(spark, f"{sf_dir}/lineitem.parquet")
            .select("l_returnflag", "l_orderkey"))
    return _hll_score(regs, li_b)


def stream_loghist_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-gated log-linear quantile sketch accumulated THROUGH
    Structured Streaming: bucket counts are a count-monoid (<= ~500
    rows at any stream size), so complete-mode state converges to the
    batch sketch under any micro-batch split. Percentile recovery and
    the exact-order-statistic comparison run batch-side at query time;
    gated against the SAME oracle as lineitem_loghist_percentiles."""
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        _loghist_score, _loghist_sketch)

    schema = _bt(spark, f"{sf_dir}/lineitem.parquet").schema
    li = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "lineitem.parquet")
          .parquet(sf_dir)
          .select("l_returnflag", "l_extendedprice"))
    sketch_stream = _loghist_sketch(li)
    name = "stream_loghist_" + uuid.uuid4().hex
    q = (sketch_stream.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    # scoring self-joins the sketch (cumsum side vs rank-target side);
    # a memory-sink table can't carry the two lineages without
    # conflicting attribute ids, so pin the BOUNDED (<= ~500 row)
    # register table once
    sketch = spark.table(name).localCheckpoint()
    li_b = (_bt(spark, f"{sf_dir}/lineitem.parquet")
            .select("l_returnflag", "l_extendedprice"))
    return _loghist_score(sketch, li_b)


def stream_kmv_setops(spark: SparkSession, sf_dir: str, *,
                      _checkpoint: str | None = None,
                      _kill_after: int | None = None) -> DataFrame:
    """The KMV bottom-k sketch accumulated THROUGH streaming by
    per-batch SKETCH MERGE -- the production theta-sketch pipeline
    shape: each micro-batch computes its own bounded bottom-k
    (distributed, the same two-phase plan as the batch twin) and the
    driver merges it into <= 2k integers of carried state. Bottom-k
    union is idempotent AND commutative, so at-least-once redelivery or
    batch reordering cannot change the final sketch -- the monoid
    argument, here PROVEN by gating the streamed sketch against the
    SAME DuckDB oracle as lineitem_kmv_setops. The input spools into
    four orderkey-sharded slices with maxFilesPerTrigger=1 so the merge
    actually happens across batches (a single-file stream would prove
    nothing).

    DURABLE STATE (VERDICT r7 #4): the merged sketch persists through
    the commit backend after every batch (put_atomic of <= 2k ints,
    keyed next to the spool, so a regenerated source invalidates state
    with it) and loads on start -- a driver restart with the same
    checkpoint resumes from the committed sketch instead of silently
    losing the batches the checkpoint will not replay. At-least-once
    replay of the batch that crashed pre-save is harmless: the merge
    is the monoid. Drilled by tests/test_streaming.py's
    kill-and-resume test via the keyword-only hooks (_checkpoint pins
    the checkpoint across the kill; _kill_after injects a crash after
    N merged batches)."""
    import hashlib
    import json
    import os
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        get_commit_backend)
    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        _KMV_K, _kmv_score, _kmv_sketch)
    from cassandra_sstable_to_protocolbuf_spark.session import scratch_dir

    tag = os.path.basename(sf_dir.rstrip("/"))
    li_b = (_bt(spark, f"{sf_dir}/lineitem.parquet")
            .select("l_returnflag", "l_orderkey"))
    # spool keyed on the SOURCE file's identity: a driver-regenerated
    # lineitem.parquet must miss the cache, never replay a stale spool
    # against a fresh oracle
    st = os.stat(f"{sf_dir}/lineitem.parquet")
    spool = scratch_dir("kmv_spool",
                        f"{tag}_{st.st_size}_{st.st_mtime_ns}")
    slices = [f"slice-{i}.parquet" for i in range(4)]
    if sorted(p for p in os.listdir(spool)
              if p.startswith("slice-")) != slices:
        for i in range(4):
            part = li_b.filter(F.col("l_orderkey") % 4 == i)
            tmp = os.path.join(spool, f"g{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(p for p in os.listdir(tmp)
                       if p.endswith(".parquet"))
            os.replace(os.path.join(tmp, src),
                       os.path.join(spool, f"slice-{i}.parquet"))

    backend = get_commit_backend()
    # one durable sketch per checkpoint identity: independent runs
    # (fresh checkpoints) start empty; a RESTART of the same run
    # resumes its own committed state
    ckpt = _checkpoint or scratch_dir("kmv_ckpt", tag + uuid.uuid4().hex,
                                      fresh=True)
    state_key = os.path.join(
        spool, f"state-{hashlib.sha1(ckpt.encode()).hexdigest()}.json")
    try:
        sketches: dict[str, list[int]] = json.loads(
            backend.read_text(state_key))
    except FileNotFoundError:
        sketches = {}
    merged_this_run = 0

    def merge(batch_df, _batch_id) -> None:
        nonlocal merged_this_run
        if _kill_after is not None and merged_this_run >= _kill_after:
            raise RuntimeError("injected mid-stream crash (drill)")
        # the batch's own bottom-k is computed DISTRIBUTED; only the
        # bounded sketch (<= 2k rows) reaches the driver for the merge
        for r in _kmv_sketch(batch_df).collect():
            lst = sketches.setdefault(r.flag, [])
            lst.append(r.h)
        for flag, lst in sketches.items():
            sketches[flag] = sorted(set(lst))[:_KMV_K]
        # durable BEFORE the checkpoint commits the batch: crash
        # between the two replays the batch into an idempotent merge
        backend.put_atomic(state_key,
                           json.dumps(sketches, sort_keys=True))
        merged_this_run += 1

    q = (spark.readStream.schema(li_b.schema)
         .option("maxFilesPerTrigger", "1")
         .option("pathGlobFilter", "slice-*.parquet")
         .parquet(spool)
         .writeStream.foreachBatch(merge)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    sk = spark.createDataFrame(
        [(flag, h) for flag, lst in sketches.items() for h in lst],
        "flag string, h long")
    return _kmv_score(sk, li_b)


def stream_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch accumulated THROUGH Structured Streaming --
    the sketch's whole point at 100 TB: its cells are a counter monoid,
    so complete-mode state (<= 128 rows at ANY stream size) converges
    to the batch sketch regardless of micro-batch splits. The streamed
    part is exactly the unbounded-state-risky part (per-key counting);
    probe/min scoring and the exact candidate counts run batch-side at
    query time, the same accumulate-then-score split as
    stream_bootstrap_ci / stream_ab_test. Gated against the SAME DuckDB
    oracle as the batch twin -- the hash match is the proof that
    streaming accumulation reproduced the batch sketch bit-for-bit."""
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        _CM_P, _CM_ROWS, _CM_W)

    schema = _bt(spark, f"{sf_dir}/events.parquet").schema
    ev = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir)
          .select("user_id"))
    cells = ev.select(F.explode(F.array(*[
        F.struct(F.lit(r).alias("r"),
                 (((F.col("user_id") * a + b) % _CM_P) % _CM_W).alias("b"))
        for r, (a, b) in enumerate(_CM_ROWS)])).alias("c"))
    sketch_stream = (cells
                     .groupBy(F.col("c.r").alias("r"),
                              F.col("c.b").alias("b"))
                     .agg(F.count(F.lit(1)).alias("n")))
    name = "stream_countmin_" + uuid.uuid4().hex
    q = (sketch_stream.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    sketch = spark.table(name)

    ev_b = _bt(spark, f"{sf_dir}/events.parquet").select("user_id")
    cand = (ev_b.filter(F.col("user_id") % 7 == 0)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("true_count")))
    probes = cand.select("user_id", "true_count", F.explode(F.array(*[
        F.struct(F.lit(r).alias("r"),
                 (((F.col("user_id") * a + b) % _CM_P) % _CM_W).alias("b"))
        for r, (a, b) in enumerate(_CM_ROWS)])).alias("c"))
    est = (probes.join(F.broadcast(sketch),
                       (F.col("c.r") == F.col("r"))
                       & (F.col("c.b") == F.col("b")))
           .groupBy("user_id", "true_count")
           .agg(F.min("n").alias("cm_count")))
    return est.select(
        "user_id", "true_count", "cm_count",
        (F.col("cm_count") >= F.col("true_count")).alias("never_under"))


# --- streaming native-sstable ingestion (VERDICT r9 #2) ------------------

def native_ingest_trigger(spark: SparkSession, watch_dir: str,
                          landed_dir: str, *,
                          _kill_between: bool = False) -> list[str]:
    """ONE micro-batch of arrival-driven native ingestion: the
    operational shape the reference's world produces -- Cassandra keeps
    flushing new sstables into a directory -- fed into the landed LWW
    table without any parquet spool in between.

    Discovery is the engine's own planner discovery
    (compaction.input_data_files: segmented-manifest read when the
    directory has one, recursive walk otherwise, txnlog.filter_live
    either way -- so an arriving directory that is ALSO under OPTIMIZE
    maintenance never shows a torn generation). The trigger diffs that
    against the durable processed-set and merges only the new
    sstables' live cells: first batch lands the sharded layout
    (landed.land_by_shard), every later batch is the copy-on-write
    shard-local merge (landed.merge_delta_lww) -- O(delta), never
    O(table).

    EXACTLY-ONCE EFFECT: the processed-set (one JSON object through
    the commit backend, `_ingest-state.json` inside the landed table,
    invisible to Spark's parquet reader) commits AFTER the merge
    publishes, with the batch_id recorded. A crash between publish and
    commit replays the same files into the LWW merge, which is
    idempotent -- the winners of identical cells are identical -- so
    the table state is exactly-once even though the batch ran twice
    (the same at-least-once-into-idempotent discipline every
    foreachBatch op here uses). Drilled by
    tests/test_streaming.py::test_native_ingest_kill_and_resume_matches
    via the _kill_between hook.

    At 100 TB: discovery is one manifest GET, the delta read is
    O(arrived bytes), the merge touches only the delta's key shards,
    and the state object is O(files seen) -- compact it by pointing
    ingestion at a directory whose OPTIMIZE retires old inputs.
    Returns the absolute paths ingested this trigger ([] when idle)."""
    import json
    import os

    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        get_commit_backend)
    from cassandra_sstable_to_protocolbuf_spark.compaction import (
        input_data_files)
    from cassandra_sstable_to_protocolbuf_spark.landed import (
        land_by_shard, merge_delta_lww)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    backend = get_commit_backend()
    os.makedirs(landed_dir, exist_ok=True)
    state_key = os.path.join(landed_dir, "_ingest-state.json")
    try:
        state = json.loads(backend.read_text(state_key))
    except (FileNotFoundError, ValueError):
        state = {"batch_id": -1, "processed": []}
    processed = set(state["processed"])
    new = sorted(p for p in input_data_files(watch_dir)
                 if os.path.relpath(p, watch_dir) not in processed)
    if not new:
        return []
    delta: DataFrame | None = None
    for p in new:
        cells = read_native_cells(spark, p, live_only=True)
        delta = cells if delta is None else delta.unionByName(cells)
    if any(e.startswith("shard=") for e in os.listdir(landed_dir)):
        merge_delta_lww(spark, landed_dir, delta)
    else:
        land_by_shard(delta, landed_dir)
    if _kill_between:
        raise RuntimeError(
            "injected crash between merge publish and ingest-state "
            "commit (drill)")
    processed.update(os.path.relpath(p, watch_dir) for p in new)
    backend.put_atomic(state_key, json.dumps(
        {"batch_id": state["batch_id"] + 1,
         "processed": sorted(processed)}, sort_keys=True))
    return new


def stream_native_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog gate for arrival-driven native ingestion: the fixture
    corpus's sstables (replica included) arrive in THREE waves into a
    fresh watch directory; each wave is ingested by one
    native_ingest_trigger micro-batch (listing-diff discovery, LWW
    merge, durable processed-set). The final landed table must
    hash-match the batch oracle that recomputes last-write-wins from
    scratch over ALL cells (SST_INCREMENTAL_MERGE_SQL) -- the proof
    that incremental arrival-driven merging converges to the same
    state one offline pass produces."""
    import glob
    import os
    import shutil

    from cassandra_sstable_to_protocolbuf_spark.plans.cells_queries import (
        _native_fixture_dir, project_landed)
    from cassandra_sstable_to_protocolbuf_spark.session import scratch_dir
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        ALL_SUFFIXES, DATA_SUFFIX)

    fixture = _native_fixture_dir(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    watch = scratch_dir("native_ingest_watch", tag, fresh=True)
    landed = scratch_dir("native_ingest_landed", tag, fresh=True)
    data_files = sorted(glob.glob(
        os.path.join(fixture, f"*{DATA_SUFFIX}")))
    assert len(data_files) >= 3, "fixture too small for 3 waves"
    waves = [data_files[i::3] for i in range(3)]
    n_batches = 0
    for wave in waves:
        for src in wave:
            base = src[:-len(DATA_SUFFIX)]
            for sfx in ALL_SUFFIXES:
                if os.path.exists(base + sfx):
                    shutil.copyfile(
                        base + sfx,
                        os.path.join(watch,
                                     os.path.basename(base) + sfx))
        ingested = native_ingest_trigger(spark, watch, landed)
        assert ingested, "a wave arrived but the trigger saw nothing"
        n_batches += 1
    assert n_batches == 3
    assert native_ingest_trigger(spark, watch, landed) == []  # idle
    return project_landed(spark.read.parquet(landed))
