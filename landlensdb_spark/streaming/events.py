"""Structured Streaming: incremental geotag ingest + windowed event rollups.

The reference is batch-only, but its resumable batch semantics
(/root/reference/landlensdb/handlers/cloud.py:447-695) map directly onto
Structured Streaming's checkpointing: a parquet-dir source consumed with
``availableNow`` gives exactly-once incremental runs of the SAME DataFrame
pipeline used in batch (extract -> index -> join), which is how the engine
ingests a continuously-crawled pages feed at scale.

Windowed aggregation (watermark + tumbling window) covers the late-data
case for the ``events`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_pages(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """File-source stream over a growing parquet directory."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type with a watermark
    for late data. Works on both batch and streaming DataFrames."""
    # watermarks require TIMESTAMP (not NTZ); session tz is UTC so the cast
    # is a pure type change
    df = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tile_rollup(
    points: DataFrame,
    zoom: int = 12,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spatio-temporal tile rollup: XYZ tile assignment (pure column math,
    geo/tiles.py) + tumbling event-time window counts — the streaming
    twin of operators/tiles.tile_stats for a continuously-crawled geotag
    feed. Works on batch AND streaming frames; on a stream the watermark
    bounds state (a window's tiles are finalized and dropped once event
    time passes win_end + watermark), so state size is O(active tiles per
    window), never O(stream). Output: (win_start, win_end, tile_x,
    tile_y, n)."""
    from landlensdb_spark.geo.tiles import tile_x, tile_y

    df = points.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.withColumn("tile_x", tile_x(lon, zoom))
        .withColumn("tile_y", tile_y(lat, zoom))
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "tile_x",
            "tile_y",
            "n",
        )
    )


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, query_name: str
):
    """Drain everything currently available into an in-memory sink and stop
    — the incremental-batch execution mode (exactly-once per file via the
    streaming checkpoint, resumable like cloud.py:483-496)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append" if not _has_agg(stream_df) else "complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()

# ---------------------------------------------------------------------------
# Custom stateful operator: gap-based sessionization
# ---------------------------------------------------------------------------

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
_STATE_SCHEMA = "start long, end long, n long, v double"


def sessionize_batch(
    events: DataFrame, gap_minutes: int = 30, key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessions as pure window functions (the batch twin and the
    SQL-expressible oracle of :func:`sessionize_stream`): a new session
    starts when the gap to the previous event of the same key exceeds
    ``gap_minutes``; cumulative sum of the new-session flag numbers the
    sessions, then one groupBy collapses them."""
    from pyspark.sql import Window as W

    w = W.partitionBy(key_col).orderBy(ts_col, "event_id")
    ts = F.col(ts_col).cast("timestamp")
    gap_s = gap_minutes * 60
    df = events.withColumn("_ts", ts).withColumn(
        "_new",
        (
            F.coalesce(
                F.unix_timestamp("_ts") - F.unix_timestamp(F.lag("_ts").over(w)),
                F.lit(gap_s + 1),
            )
            > gap_s
        ).cast("long"),
    ).withColumn("_sid", F.sum("_new").over(w))
    return (
        df.groupBy(key_col, "_sid")
        .agg(
            F.min("_ts").alias("session_start"),
            F.max("_ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .drop("_sid")
    )


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, key_col: str = "user_id",
    ts_col: str = "ts", watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-sessionization via ``applyInPandasWithState`` — the
    custom-stateful-operator path the engine uses where built-in windows
    can't express the semantics (SURVEY §2.10). State per key is the open
    session (start, end, count, sum); an event inside the gap extends it,
    an event beyond the gap (or the event-time timeout after the watermark
    passes) closes and emits it. Emitted rows = CLOSED sessions only."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000  # state timestamps in MICROseconds
                                       # (full event-time precision)

    def _fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            start, end, n, v = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "sum_value": [round(v, 6)],
                }
            )
            return
        rows = []
        cur = list(state.get) if state.exists else None
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col)
            ts_us = (pdf[ts_col].astype("int64") // 1_000).to_numpy()
            vals = pdf["value"].to_numpy()
            for t, val in zip(ts_us, vals):
                if cur is None:
                    cur = [int(t), int(t), 1, float(val)]
                elif t - cur[1] <= gap_us:
                    cur[1] = int(t)
                    cur[2] += 1
                    cur[3] += float(val)
                else:
                    rows.append(cur)
                    cur = [int(t), int(t), 1, float(val)]
        if cur is not None:
            state.update(tuple(cur))
            # GroupState timeout API is epoch-milliseconds
            state.setTimeoutTimestamp((cur[1] + gap_us) // 1_000)
        if rows:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": [pd.Timestamp(r[0], unit="us") for r in rows],
                    "session_end": [pd.Timestamp(r[1], unit="us") for r in rows],
                    "n_events": [r[2] for r in rows],
                    "sum_value": [round(r[3], 6) for r in rows],
                }
            )

    df = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(key_col).applyInPandasWithState(
        _fn,
        SESSION_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_geo_tiles(
    spark: SparkSession,
    pages_path: str,
    polygons: DataFrame,
    zoom: int = 14,
) -> DataFrame:
    """The north-star pipeline as a STREAM: pages files -> fused
    extract+PIP (one python stage, operators/fused.py) -> per (admin, tile)
    running counts.

    The transformation code is byte-for-byte the batch operator — Structured
    Streaming re-executes it incrementally per micro-batch; with
    ``availableNow`` + a checkpoint dir this is the exactly-once incremental
    ingest mode (each input file processed once across restarts, the
    reference's resumable-ingest semantics, cloud.py:483-496). Stream==batch
    parity is pytest-locked.
    The polygon broadcast is destroyed, and the running query fails, after
    8 newer dimension preps in this driver (broadcast_dim.BOUND).
    """
    from landlensdb_spark.operators.fused import extract_pip
    from landlensdb_spark.operators.tiles import assign_tiles

    pages = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(pages_path)
    joined = extract_pip(pages, polygons, keep=["url"])
    tiled = assign_tiles(joined, zoom=zoom)
    return tiled.groupBy("admin_id", "tile_x", "tile_y").count()
