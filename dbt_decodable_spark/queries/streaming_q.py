"""Streaming operators (SURVEY §2.9) in their batch-equivalent form for the
correctness oracle: tumbling/hopping/session windows, change-stream last-image
folding, earliest/latest start positions. True Structured-Streaming execution
of the same shapes (withWatermark + availableNow previews) is exercised in
``tests/test_streaming.py`` — semantics match because a bounded streaming run
with watermarks converges to the batch answer.

Reference: watermark declarations (``decodable/client/schema.py:114-117``),
change-record folding — keep last ``after`` image per key, null ``after``
means delete (``dbt/adapters/decodable/handler.py:89-94``), start positions
``earliest|latest`` (``decodable/client/api.py:22-35``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from dbt_decodable_spark.queries import register
from dbt_decodable_spark.sources.tables import read_table

# per-sf_dir distinct-key estimates for the stateful-sessionize dispatcher
_SESSIONIZE_KEY_ESTIMATES: dict[str, int] = {}


def _stream_state_partitions() -> str:
    """State-partition count for the bounded (availableNow) preview runs —
    the value the per-query ``spark.sql.shuffle.partitions`` override uses
    while a bounded stream starts. Every stateful operator pays a
    per-state-store-partition commit on EVERY micro-batch (incl. the
    watermark-finalization batch), so this bounds the fixed commit cost of
    the 2-batch preview runs; it is NOT a general shuffle setting — batch
    queries keep the session default, and production streaming jobs size
    state partitions to their key volume via the session conf. The
    preview state is KB-sized at every bench SF, so the count is a
    constant; derive it from the input size once a workload's state
    volume makes 2 the wrong answer.

    2 (was 8 through r13): a 4-round interleaved A/B at sf0.1
    (OPTIMIZATION_r14.md) had 2 beating 8 on every pair — the
    stream-stream interval joins, which commit 4 state stores per
    partition per side per micro-batch, ran ~2× faster; outputs
    bit-identical (xxhash64 xor) for all 5 stateful rows at sf0.1 under
    both values, and the 5-row oracle gate passes at sf0.001 AND sf0.01
    with 2 (the interval-join-outer eviction caveat stays absent)."""
    return "2"


def _await_bounded(q, name: str, timeout: float = 300.0) -> None:
    """Wait for a bounded (availableNow) streaming run; on timeout stop the
    query and raise instead of letting the caller read a partially populated
    sink (the silent-truncation bug class ADVICE r6 flagged on
    stream_kmeans_assign — one checked helper for every bounded run here)."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"{name}: bounded availableNow run did not finish within "
            f"{timeout:.0f}s; refusing to return a partial sink"
        )


@register(
    "stream_tumble_window",
    oracle="""
        SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
               event_type,
               count(*) AS n,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="§2.9 tumbling event-time window (Flink TUMBLE TVF → F.window); "
    "streaming twin in tests/test_streaming.py; value is a 2-decimal money "
    "column → exact integer-cent accumulation (queries/money.py)",
)
def stream_tumble_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.queries.money import cents, money_sum

    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(cents("value"), "total_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "total_value")
    )


@register(
    "stream_hop_window",
    oracle="""
        WITH slides AS (
            SELECT CAST(ts AS TIMESTAMP) AS ts, value,
                   time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS base
            FROM events
        )
        SELECT window_start, count(*) AS n
        FROM (
            SELECT base AS window_start, ts FROM slides
            UNION ALL
            SELECT base - INTERVAL 30 MINUTE AS window_start, ts FROM slides
        ) x
        WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
        GROUP BY window_start
    """,
    doc="§2.9 hopping (sliding) window: 1h size / 30m slide — each row lands "
    "in size/slide windows (F.window with slideDuration)",
)
def stream_hop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


@register(
    "stream_change_fold",
    oracle="""
        SELECT user_id, event_type, value AS last_value
        FROM (
            SELECT user_id, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) t WHERE rn = 1
    """,
    doc="§2.9 change-stream folding: last after-image per primary key "
    "(handler.py:89-94); PK = (user_id, event_type)",
)
def stream_change_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.streaming.changelog import fold_last_image

    e = read_table(spark, sf_dir, "events")
    return fold_last_image(
        e, keys=["user_id", "event_type"], order=[F.col("ts"), F.col("event_id")]
    ).select("user_id", "event_type", F.col("value").alias("last_value"))


@register(
    "stream_start_latest",
    oracle="""
        SELECT event_id, event_type FROM events
        WHERE CAST(ts AS TIMESTAMP) > (
            SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 DAY FROM events
        )
    """,
    doc="§2.1 start positions: `latest` = tail after a position; batch "
    "emulation reads only the tail (api.py:22-35, client.py:400-418)",
)
def stream_start_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    cutoff = e.agg((F.max("ts") - F.expr("INTERVAL 1 DAYS")).alias("c"))
    return (
        e.join(F.broadcast(cutoff))
        .filter(F.col("ts") > F.col("c"))
        .select("event_id", "event_type")
    )


@register(
    "stream_session_window",
    oracle="""
        WITH marked AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                             - lag(CAST(ts AS TIMESTAMP), 1, TIMESTAMP '1970-01-01')
                               OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM marked
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    """,
    doc="§2.9 session window (30m gap): lag+cumsum sessionization in batch; "
    "F.session_window in the streaming twin",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    # exact-microsecond gap comparison so the strict > matches DuckDB's
    # interval comparison bit-for-bit
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us, 1, 0).over(w)
    marked = e.select(
        "user_id", "ts", F.when(gap > 30 * 60 * 1_000_000, 1).otherwise(0).alias("new_session")
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file stream over the events table with the same ts-encoding
    adaptivity as ``sources.tables.read_table`` (the parquet has shipped
    with ns-int64 and timestamp[us]-NTZ encodings across testdata
    generations — probe the footer, declare the matching stream schema).
    Emits ``ts_event`` (TIMESTAMP, 1h watermark) and ``cents``."""
    from dbt_decodable_spark.schema import SchemaField, StreamSchema, Watermark
    from dbt_decodable_spark.sources.datagen import file_stream

    import pyarrow.parquet as pq
    import pyarrow as pa

    from dbt_decodable_spark.sources.tables import _ensure_read_confs

    _ensure_read_confs(spark)
    ts_physical = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    if pa.types.is_timestamp(ts_physical):
        # parquet NTZ reads fine into a declared TIMESTAMP_LTZ column under
        # a UTC session (verified: identical epochs, watermark works).
        ts_field = SchemaField(name="ts", type="TIMESTAMP_LTZ")
        ts_event = SchemaField(name="ts_event", kind="computed", expression="ts")
    else:
        ts_field = SchemaField(name="ts", type="BIGINT")
        ts_event = SchemaField(
            name="ts_event", kind="computed", expression="timestamp_micros(ts div 1000)"
        )
    schema = StreamSchema(
        fields=(
            SchemaField(name="event_id", type="BIGINT"),
            ts_field,
            SchemaField(name="user_id", type="BIGINT"),
            SchemaField(name="event_type", type="STRING"),
            SchemaField(name="value", type="DOUBLE"),
            SchemaField(name="props", type="STRING"),
            ts_event,
            SchemaField(
                name="cents",
                kind="computed",
                expression="CAST(round(value * 100) AS BIGINT)",
            ),
        ),
        watermarks=(Watermark("ts_event", "`ts_event` - INTERVAL '1' HOUR"),),
    )
    return file_stream(
        spark, sf_dir, schema, options={"pathGlobFilter": "events.parquet"}
    )



@register(
    "stream_sessionize_stateful",
    oracle="""
        WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        marked AS (
          SELECT user_id, ts, cents,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          > INTERVAL 21600 SECOND
                      THEN 1 ELSE 0 END AS new_s
          FROM e
        ),
        sess AS (
          SELECT user_id, ts, cents,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked
        ),
        agg AS (
          SELECT user_id, sid,
                 min(ts) AS session_start, max(ts) AS session_end,
                 count(*) AS n_events, SUM(cents) AS total_cents
          FROM sess GROUP BY user_id, sid
        ),
        wm AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) - 3600000 AS watermark_ms
               FROM events)
        SELECT user_id, session_start, session_end,
               n_events, CAST(total_cents AS BIGINT) AS total_cents
        FROM agg, wm
        WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
           OR epoch_ms(session_end) + 21600000 < watermark_ms
    """,
    doc="§2.9 custom stateful operator: applyInPandasWithState event-time "
    "sessionization, executed as a REAL bounded streaming query (file source "
    "→ watermark → state → memory sink). Oracle = gaps-and-islands with the "
    "same watermark-closure rule: sessions closed by data always emit; the "
    "final open session emits only if the watermark passed end+gap.",
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.sources.tables import read_table
    from dbt_decodable_spark.streaming.stateful import sessionize_stateful_auto

    # distinct-key estimate from the backing table (one cheap batch agg,
    # memoized per sf_dir): above ~32 keys/core the dispatcher switches to
    # the key-bucketed operator, capping per-key Python-call overhead at
    # n_buckets calls
    if sf_dir not in _SESSIONIZE_KEY_ESTIMATES:
        _SESSIONIZE_KEY_ESTIMATES[sf_dir] = (
            read_table(spark, sf_dir, "events")
            .agg(F.approx_count_distinct("user_id").alias("n"))
            .collect()[0]["n"]
        )
    n_keys = _SESSIONIZE_KEY_ESTIMATES[sf_dir]
    stream = events_file_stream(spark, sf_dir)
    sessions = sessionize_stateful_auto(
        stream, "user_id", "ts_event", "cents", gap_seconds=21600,
        n_keys_estimate=n_keys,
    )
    sink = "stream_sessionize_sink"
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    # stateful streaming pays a per-state-store-partition commit every
    # micro-batch; 8 partitions bounds that fixed cost at this volume (the
    # conf must stay set until the bounded run terminates — the stream
    # thread clones the session conf asynchronously after start())
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _stream_state_partitions()
    )
    try:
        q = (
            sessions.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_sessionize_stateful")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@register(
    "stream_temporal_join",
    oracle="""
        WITH dim AS (
            SELECT event_type,
                   time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS valid_from,
                   count(*) AS hour_events
            FROM events GROUP BY 1, 2
        )
        SELECT e.event_id, e.event_type, d.hour_events
        FROM events e ASOF LEFT JOIN dim d
          ON e.event_type = d.event_type
         AND CAST(e.ts AS TIMESTAMP) >= d.valid_from
    """,
    doc="§2.3/§7.6 streaming temporal join (FOR SYSTEM_TIME AS OF): each "
    "stream row picks the dim version with the greatest valid_from <= its "
    "event time for its key, executed as a REAL bounded streaming query "
    "(file source -> foreachBatch merge as-of join against the versioned "
    "dim -> parquet). Oracle = DuckDB's native ASOF LEFT JOIN.",
)
def stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.streaming.temporal import run_temporal_asof_bounded

    # versioned dimension: hourly per-type event counts, valid from the
    # hour start (a deterministic stand-in for a slowly-changing dim
    # changelog)
    e = read_table(spark, sf_dir, "events")
    dim = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("hour_events"))
        .select("event_type", F.col("w.start").alias("valid_from"), "hour_events")
    )
    stream = events_file_stream(spark, sf_dir).select(
        "event_id", "event_type", "ts_event"
    )
    joined = run_temporal_asof_bounded(
        spark, stream, dim, on="event_type", stream_ts="ts_event",
        dim_ts="valid_from", value_cols=["hour_events"],
    )
    return joined.select("event_id", "event_type", "hour_events")


@register(
    "stream_scd2_versions",
    oracle="""
        WITH ch AS (
            SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT user_id, event_type, event_id, cents,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS valid_to,
               lead(ts) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) IS NULL AS is_current
        FROM ch
    """,
    doc="§2.9/§2.11 SCD2 dimension build from a change stream: half-open "
    "[valid_from, valid_to) version intervals via one lead window per key "
    "(streaming/changelog.py scd2_from_changelog) — the versioned table the "
    "streaming temporal join probes",
)
def stream_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.streaming.changelog import scd2_from_changelog

    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = scd2_from_changelog(
        e, keys=["user_id", "event_type"], ts_col="ts",
        order=["ts", "event_id"],
    )
    return out.select(
        "user_id", "event_type", "event_id", "cents",
        "valid_from", "valid_to", "is_current",
    )


@register(
    "stream_interval_join",
    oracle="""
        SELECT e1.event_id AS id_a, e2.event_id AS id_b
        FROM events e1 JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND CAST(e2.ts AS TIMESTAMP) <= CAST(e1.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
        WHERE e1.user_id % 5 = 0 AND e2.user_id % 5 = 0
    """,
    doc="§2.3/§2.9 stream-stream interval join executed as a REAL streaming "
    "query: both sides watermarked, equi-key + event-time range condition "
    "(watermarks bound the join state — rows older than the range fall out), "
    "availableNow drain to a memory sink. Bounded run converges to the "
    "batch interval join, so the same oracle applies.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one user in five: the full self-join's state is quadratic in per-user
    # events and exists to prove the streaming shape, not to stress the
    # state store in every bench round
    s1 = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("user_id") % 5 == 0)
        .select(
            F.col("event_id").alias("id_a"),
            F.col("user_id").alias("u1"),
            F.col("ts_event").alias("t1"),
        )  # watermark from events_file_stream survives the rename
    )
    s2 = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("user_id") % 5 == 0)
        .select(
            F.col("event_id").alias("id_b"),
            F.col("user_id").alias("u2"),
            F.col("ts_event").alias("t2"),
        )
    )
    joined = s1.join(
        s2,
        (F.col("u1") == F.col("u2"))
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 10 MINUTES")),
    ).select("id_a", "id_b")
    sink = "stream_interval_join_sink"
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    # stream-stream joins pay per-partition state-store commits on BOTH
    # sides every micro-batch; at this data volume 8 state partitions is
    # plenty. The stream's execution thread clones the session conf
    # asynchronously after start(), so the temporary value must stay in
    # place until the bounded run terminates — restoring right after
    # start() (the old shape) raced the clone.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _stream_state_partitions()
    )
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_interval_join")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@register(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="§2.9 streaming first-wins dedup: dropDuplicatesWithinWatermark on "
    "(user_id, event_type), executed as a REAL bounded streaming query "
    "(file source → watermark → keyed dedup state → memory sink). The "
    "watermark horizon covers the whole bounded input, so every key emits "
    "exactly once and the run converges to batch DISTINCT — which is the "
    "oracle. State is horizon-bounded, the unbounded-feed-safe form.",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.streaming.dedupe import dedup_within_watermark

    stream = events_file_stream(spark, sf_dir)
    # events_file_stream already declares the 1h watermark on ts_event; the
    # bounded availableNow run processes the whole file before the watermark
    # first advances, so every duplicate key collapses in-state and each key
    # emits exactly once — the batch-DISTINCT answer.
    deduped = dedup_within_watermark(
        stream, ["user_id", "event_type"]
    ).select("user_id", "event_type")
    sink = "stream_dedup_sink"
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _stream_state_partitions()
    )
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_dedup_watermark")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@register(
    "stream_interval_join_outer",
    oracle="""
        WITH f AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t
            FROM events WHERE user_id % 5 = 0
        ),
        wm AS (
            -- the user_id filter is pushed BELOW the watermark operator, so
            -- the stream's max observed event time is the FILTERED max
            SELECT max(t) - INTERVAL 1 HOUR AS w FROM f
        ),
        matched AS (
            SELECT e1.event_id AS id_a, e2.event_id AS id_b
            FROM f e1 JOIN f e2
              ON e1.user_id = e2.user_id
             AND e2.t > e1.t
             AND e2.t <= e1.t + INTERVAL 10 MINUTE
        )
        SELECT id_a, id_b FROM matched
        UNION ALL
        SELECT e1.event_id AS id_a, NULL AS id_b
        FROM f e1, wm
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.id_a = e1.event_id)
          AND e1.t + INTERVAL 10 MINUTE < wm.w
    """,
    doc="§2.3/§2.9 stream-stream LEFT OUTER interval join (Flink's outer "
    "interval join) as a REAL streaming query: matched pairs emit "
    "immediately; an unmatched left row emits its null only when the "
    "watermark passes t1 + upper-bound (left state eviction proves no "
    "match can still arrive). The oracle encodes exactly that emission "
    "rule — unmatched rows inside the final watermark horizon stay in "
    "state and are correctly absent. Caveat (pinned by "
    "test_streaming.TestOuterIntervalJoin and a state-metrics audit): "
    "Spark's swap-on-remove state iteration can evict a row WITHOUT "
    "emitting its null on some data layouts (removed-count 9 vs 8 nulls "
    "in the audit) — deterministic for a fixed input, and absent at the "
    "driver's sf0.001/sf0.01 layouts, where this oracle is exact.",
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("user_id") % 5 == 0)
        .select(
            F.col("event_id").alias("id_a"),
            F.col("user_id").alias("u1"),
            F.col("ts_event").alias("t1"),
        )
    )
    s2 = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("user_id") % 5 == 0)
        .select(
            F.col("event_id").alias("id_b"),
            F.col("user_id").alias("u2"),
            F.col("ts_event").alias("t2"),
        )
    )
    joined = s1.join(
        s2,
        (F.col("u1") == F.col("u2"))
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    ).select("id_a", "id_b")
    sink = "stream_interval_outer_sink"
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _stream_state_partitions()
    )
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_interval_join_outer")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@register(
    "stream_minhash_index",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), t -> t <> '') AS toks
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT id, shingle FROM (
                SELECT doc_id AS id,
                       unnest(list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> array_to_string(toks[i:i+2], ' '))) AS shingle
                FROM base
            )
        )
        SELECT id, band, min(md5(CAST(band AS VARCHAR) || '#' || shingle)) AS minhash
        FROM sh, (SELECT unnest(range(6)) AS band)
        GROUP BY id, band
    """,
    doc="§2.9/§2.12 streaming MinHash signature-index maintenance: the "
    "documents table arrives as a bounded file stream; each micro-batch "
    "computes its own signatures (dedup.minhash_signatures — the SAME "
    "md5-keyed algorithm the batch queries use) and foreachBatch appends "
    "only rows not already in the parquet-backed index. This is the "
    "production incremental-dedup shape at 100 TB: a daily increment "
    "hashes only its own documents and upserts the stored index; nothing "
    "re-scans historical text. The converged index equals the batch "
    "signature table — the oracle.",
)
def stream_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from dbt_decodable_spark.operators.dedup import minhash_signatures
    from dbt_decodable_spark.schema import SchemaField, StreamSchema
    from dbt_decodable_spark.sources.datagen import file_stream

    schema = StreamSchema(
        fields=(
            SchemaField(name="doc_id", type="BIGINT"),
            SchemaField(name="text", type="STRING"),
            SchemaField(name="lang", type="STRING"),
            SchemaField(name="source", type="STRING"),
            SchemaField(name="n_chars", type="BIGINT"),
        ),
    )
    stream = file_stream(
        spark, sf_dir, schema, options={"pathGlobFilter": "documents.parquet"}
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    index_dir = f"/tmp/spark_minhash_index_{tag}"
    shutil.rmtree(index_dir, ignore_errors=True)
    # the checkpoint must go with the index it describes: a stale ckpt from
    # a crashed prior run marks the source files already-ingested and the
    # rebuilt (empty) index would never be populated
    shutil.rmtree(index_dir + "_ckpt", ignore_errors=True)

    def upsert(batch_df, batch_id):
        sigs = minhash_signatures(batch_df, "doc_id", "text", n=3, num_hashes=6)
        try:
            existing = batch_df.sparkSession.read.parquet(index_dir)
            fresh = sigs.join(
                existing.select("id", "band"), ["id", "band"], "left_anti"
            )
        except Exception:  # first batch: index doesn't exist yet
            fresh = sigs
        fresh.write.mode("append").parquet(index_dir)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", index_dir + "_ckpt")
        .start()
    )
    _await_bounded(q, "stream_minhash_index")
    shutil.rmtree(index_dir + "_ckpt", ignore_errors=True)
    return spark.read.parquet(index_dir)


@register(
    "stream_bloom_index",
    oracle=f"""
        WITH hist AS (
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS key
            FROM documents
        ),
        hp AS (
            SELECT CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || key), 1, 15)
                        AS BIGINT) % 65536 AS pos
            FROM hist CROSS JOIN unnest(range(4)) AS t(j)
        )
        SELECT pos // 32 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
        FROM hp GROUP BY 1
    """,
    doc="§2.9/§2.12 streaming Bloom-index maintenance: documents arrive as "
    "a bounded file stream; each micro-batch folds ONLY its own keys into "
    "a partial (word_idx, bits) table (operators/bloom.py::build_bloom) "
    "and foreachBatch appends it — bit_or is associative/commutative/"
    "idempotent, so the presented filter is a groupBy(word_idx).bit_or "
    "over the partials, identical to the batch-built filter (the oracle). "
    "This is the at-scale shape: an increment hashes only itself, appends "
    "m/32 rows, and compaction is the same bit_or fold whenever the "
    "partial count grows.",
)
def stream_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from dbt_decodable_spark.operators.bloom import build_bloom
    from dbt_decodable_spark.schema import SchemaField, StreamSchema
    from dbt_decodable_spark.sources.datagen import file_stream

    schema = StreamSchema(
        fields=(
            SchemaField(name="doc_id", type="BIGINT"),
            SchemaField(name="text", type="STRING"),
            SchemaField(name="lang", type="STRING"),
            SchemaField(name="source", type="STRING"),
            SchemaField(name="n_chars", type="BIGINT"),
        ),
    )
    stream = file_stream(
        spark, sf_dir, schema, options={"pathGlobFilter": "documents.parquet"}
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    index_dir = f"/tmp/spark_bloom_index_{tag}"
    shutil.rmtree(index_dir, ignore_errors=True)
    shutil.rmtree(index_dir + "_ckpt", ignore_errors=True)

    def fold_batch(batch_df, batch_id):
        from dbt_decodable_spark.operators.dedup import normalize_text

        keyed = batch_df.select(F.md5(normalize_text("text")).alias("key"))
        partial = build_bloom(keyed, "key", m_bits=1 << 16, k=4)
        # append-only partials: idempotent under replay NOT required for
        # bits (bit_or absorbs duplicates) — only the row count grows
        partial.write.mode("append").parquet(index_dir)

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", index_dir + "_ckpt")
        .start()
    )
    _await_bounded(q, "stream_bloom_index")
    shutil.rmtree(index_dir + "_ckpt", ignore_errors=True)
    return (
        spark.read.parquet(index_dir)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


@register(
    "stream_window_topk_run",
    oracle="""
        WITH counts AS (
            SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
                       AS window_start,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT window_start, event_type, n, CAST(rk AS BIGINT) AS rk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY window_start ORDER BY n DESC, event_type ASC
            ) AS rk
            FROM counts
        ) t WHERE rk <= 2
    """,
    doc="§2.9 windowed top-k as a REAL streaming run: the tumbling-window "
    "count runs as a complete-mode streaming aggregation (bounded state — "
    "one row per live window×type) into a memory sink; the per-window "
    "rank≤2 is the window-close fold applied to the converged sink — the "
    "same agg-then-fold split as stream_change_fold. Batch twin: "
    "stream_window_topk.",
)
def stream_window_topk_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    stream = events_file_stream(spark, sf_dir)
    counts = (
        stream.groupBy(F.window("ts_event", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    sink = "stream_window_topk_sink"
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _stream_state_partitions()
    )
    try:
        q = (
            counts.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_window_topk_run")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), F.col("event_type"))
    )
    return (
        spark.table(sink)
        .withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 2)
    )


def static_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned customer⋈nation dimension of stream_static_enrich."""
    return (
        read_table(spark, sf_dir, "customer")
        .join(
            read_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
        )
    )


def static_enrich_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """The enrichment join itself — ONE definition for the streaming query
    and its batch twin, so the broadcast hint is pinned by plan tests on
    the batch form and cannot silently drop out of the production path
    (which would re-shuffle the stream every micro-batch)."""
    return fact.join(
        F.broadcast(dim), fact["user_id"] == dim["c_custkey"]
    ).select("event_id", "user_id", "cust_name", "nation_name")


@register(
    "stream_static_enrich",
    oracle="""
        SELECT e.event_id, e.user_id,
               c.c_name AS cust_name, n.n_name AS nation_name
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    doc="§2.3/§2.9 stream-static enrichment join — the canonical streaming "
    "star-schema pattern the reference runs as a Flink lookup join on a "
    "changing dim (SURVEY §2.3): a REAL bounded streaming run where the "
    "events fact stream joins a STATIC customer⋈nation dimension prepared "
    "batch-side. Stateless (no watermark needed on the join itself — "
    "inner stream-static joins keep no state), so each micro-batch is a "
    "map-side broadcast hash join against the pinned dim: at 100 TB/day "
    "the dim is broadcast once per batch and the stream never shuffles. "
    "Batch oracle is the plain two-join SQL — a bounded availableNow run "
    "converges to it exactly.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_file_stream(spark, sf_dir)
    joined = static_enrich_join(stream, static_enrich_dim(spark, sf_dir))
    sink = "stream_static_enrich_sink"
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, "stream_static_enrich")
    return spark.table(sink)


@register(
    "stream_cdc_merge",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   (event_id % 20 = 0) AS is_delete,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        SELECT user_id,
               event_type AS last_event_type,
               cents AS last_cents
        FROM ranked WHERE rn = 1 AND NOT is_delete
    """,
    doc="§2.9 change-stream MERGE into a PK-keyed table — the keyed-upsert "
    "convergence arm of the reference's change-stream contract "
    "(handler.py:89-94 last-after-image fold, schema.py:109-111 PK "
    "declaration): a REAL bounded foreachBatch run where each micro-batch "
    "MERGEs into a snapshot BUCKETED on the primary key via "
    "merge_changes_keyed (order-aware winner per key through a full-outer "
    "join, tombstoned deletes — delete marker here: every 20th event_id, "
    "the deterministic stand-in for a null after-image). The converged "
    "snapshot equals the batch fold minus tombstones for ANY micro-batch "
    "split, which is exactly what the oracle computes. Scale (VERDICT r8 "
    "item 4, the lakehouse MERGE optimization): the bucketed state side "
    "joins with NO Exchange (plan-pinned, tests/test_round9.py), so "
    "per-merge shuffle cost is O(|batch|), not O(|state|+|batch|); each "
    "generation is written as a new bucketed table version and older "
    "versions dropped — crash-safe because an interrupted write leaves no "
    "_SUCCESS marker and is swept on the next merge, and a replayed batch "
    "re-folds idempotently.",
)
def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    from dbt_decodable_spark.operators.bucketing import materialize_bucketed
    from dbt_decodable_spark.streaming.changelog import merge_changes_keyed

    stream = events_file_stream(spark, sf_dir).select(
        "user_id",
        "ts_event",
        "event_id",
        "event_type",
        "cents",
        (F.pmod("event_id", F.lit(20)) == 0).alias("is_delete"),
    )
    state_root = tempfile.mkdtemp(prefix="cdc_merge_")
    tag = uuid.uuid4().hex[:8]
    tbl = f"cdc_snap_{tag}"
    n_buckets = 8
    schema_ddl = (
        "user_id long, ts_event timestamp, event_id long, "
        "event_type string, cents long, is_delete boolean"
    )
    schema_sql = (
        "user_id BIGINT, ts_event TIMESTAMP, event_id BIGINT, "
        "event_type STRING, cents BIGINT, is_delete BOOLEAN"
    )

    def _valid_versions(sp) -> list[int]:
        """Snapshot generations with a completed write (_SUCCESS present);
        anything else is a crashed write, swept by the caller."""
        out = []
        for d in os.listdir(state_root):
            if d.startswith("snap_v"):
                if os.path.exists(os.path.join(state_root, d, "_SUCCESS")):
                    out.append(int(d.removeprefix("snap_v")))
                else:
                    shutil.rmtree(os.path.join(state_root, d))
        return sorted(out)

    def _table(sp, version: int):
        """Read generation ``version`` AS A BUCKETED TABLE — re-registering
        the external bucketed layout if the catalog lost it (a restarted
        session's in-memory catalog is empty; the files keep the layout)."""
        name = f"{tbl}_v{version}"
        if not sp.catalog.tableExists(name):
            sp.sql(
                f"CREATE TABLE {name} ({schema_sql}) USING PARQUET "
                f"CLUSTERED BY (user_id) SORTED BY (user_id) "
                f"INTO {n_buckets} BUCKETS "
                f"LOCATION '{os.path.join(state_root, f'snap_v{version}')}'"
            )
        return sp.table(name)

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        versions = _valid_versions(sp)
        target = (
            _table(sp, versions[-1])
            if versions
            else sp.createDataFrame([], schema_ddl)
        )
        new = merge_changes_keyed(
            target,
            batch_df,
            keys=["user_id"],
            order=[F.col("ts_event"), F.col("event_id")],
        )
        nxt = (versions[-1] + 1) if versions else 0
        materialize_bucketed(
            new,
            f"{tbl}_v{nxt}",
            ["user_id"],
            n_buckets,
            path=os.path.join(state_root, f"snap_v{nxt}"),
        )
        # the new generation is durable (_SUCCESS written) — retire older
        # ones; a crash mid-retire leaves extra valid generations and the
        # next merge (or a replay) simply reads the newest, re-folds
        # idempotently, and retires again
        for v in versions:
            sp.sql(f"DROP TABLE IF EXISTS {tbl}_v{v}")
            shutil.rmtree(os.path.join(state_root, f"snap_v{v}"), ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", os.path.join(state_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_bounded(q, "stream_cdc_merge")
        versions = _valid_versions(spark)
        if not versions:
            # zero micro-batches (empty/missing events source): the merged
            # state is legitimately empty — return the empty result shape
            # instead of an opaque IndexError (review r9)
            return spark.createDataFrame(
                [], "user_id long, last_event_type string, last_cents long"
            )
        out = (
            _table(spark, versions[-1])
            .filter(~F.col("is_delete"))
            .select(
                "user_id",
                F.col("event_type").alias("last_event_type"),
                F.col("cents").alias("last_cents"),
            )
            .localCheckpoint(eager=True)  # materialize before temp-dir cleanup
        )
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith(tbl):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(state_root, ignore_errors=True)
    return out
