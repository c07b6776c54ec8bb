"""Structured Streaming operators over the ``events`` table (SURVEY §7.5
extension — the reference is batch-only; this is the engine's streaming
surface).

Transformations are defined once over a DataFrame and reused verbatim in
batch and streaming (``readStream`` + the same function + ``writeStream``)
— the Structured Streaming model. Watermarks bound state for late data.

Scale: windowed aggs shuffle on (window, key); state store size is bounded
by watermark horizon x key cardinality. ``sessionize_batch`` uses the
lag+cumsum formulation (deterministic, oracle-checkable); streaming uses
``session_window`` (state-store-backed merging sessions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import dec
from ..sources.loaders import events_ts, read_events_raw, table_path
from .sink import run_sink, upsert_append


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour counts + exact sums per event_type (batch or
    stream; call .withWatermark upstream for streaming)."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("decimal(38,2)").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_rollup(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window counts per event_type: each event lands in
    window/slide overlapping windows (batch or stream)."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 5) -> DataFrame:
    """Gaps-and-islands sessionization per user (batch, deterministic):
    a new session starts when the gap to the previous event exceeds
    ``gap_minutes``. Output: user_id, session_start, n_events, total_value.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    with_sid = events.withColumn("__new", new_session).withColumn(
        "__sid", F.sum("__new").over(by_user.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy("user_id", "__sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("decimal(38,2)").alias("total_value"),
        )
        .drop("__sid")
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 5) -> DataFrame:
    """Streaming sessionization via session_window (state-store merging)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def stream_events_from_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file-source streaming): the
    events file only, with the batch loader's static schema and its
    nanos -> micros ``ts`` conversion (``sources.loaders.events_ts``)."""
    path = table_path(sf_dir, "events")
    reader = spark.readStream.schema(read_events_raw(spark, sf_dir).schema)
    if os.path.isdir(path):
        return events_ts(reader.parquet(path))
    # a file source streams directories: take the table's directory, keep
    # only the events file
    return events_ts(
        reader.option("pathGlobFilter", os.path.basename(path)).parquet(
            os.path.dirname(path)
        )
    )


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, total_value), re-emitted on every micro-batch that
    touches the user.

    Windowed aggregation can't express "running totals across ALL history,
    emitted per update" (watermarks would eventually drop old state, and
    append mode only emits closed windows) — this is exactly the arbitrary-
    state shape. State per key is two scalars, so the state store stays
    O(distinct users) regardless of event volume; at 100 TB the state is
    RocksDB-backed and partitioned by the groupBy key.

    The same function body works in batch tests by calling the grouped
    ``applyInPandas`` twin (``user_totals_batch``) — parity is asserted in
    tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_totals_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`user_totals_stateful` (same output schema)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value")), 2).alias("total_value"),
    )


def dedup_events_batch(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exactly-once event dedup, batch form: one row per key set.

    With full-row duplicates (at-least-once delivery replays identical
    payloads) this equals DISTINCT and is deterministic; with
    subset keys Spark keeps an arbitrary row per key — callers needing
    determinism should aggregate instead."""
    return events.dropDuplicates(keys or ["event_id"])


def dedup_events_stream(
    events: DataFrame,
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming exactly-once dedup: dropDuplicatesWithinWatermark keeps
    per-key state only for the watermark horizon, so state is bounded by
    (arrival rate x horizon), not by stream lifetime — the 100 TB/day-safe
    form (a plain streaming dropDuplicates would grow state forever).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def enrich_with_dim(
    events: DataFrame, dim: DataFrame, key: str = "user_id", how: str = "inner"
) -> DataFrame:
    """Stream-static join: enrich an event stream with a slowly-changing
    dimension. The static side is broadcast — no shuffle of the (unbounded)
    stream side and no state store; Spark re-resolves the static relation
    per micro-batch, so dimension updates between batches are picked up.
    The same call enriches a batch DataFrame (tested both ways)."""
    return events.join(F.broadcast(dim), key, how)


def run_stream_upsert(
    stream: DataFrame, out_path: str, checkpoint: str, keys: list[str] | None = None
) -> None:
    """Drain an availableNow stream through the first-writer-wins upsert
    sink (``streaming/sink.upsert_append``): UPSTREAM replays, which the
    exactly-once file sink would still land, anti-join away."""
    keys = keys or ["event_id"]
    run_sink(stream, checkpoint, lambda batch, _: upsert_append(batch, out_path, keys))


def clicks_before_purchase_join(
    purchases: DataFrame,
    clicks: DataFrame,
    lookback_hours: int = 24,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: each purchase paired with
    every same-user click in the ``lookback_hours`` window before it (the
    candidate-generation step of last-touch attribution —
    ``events_attribution`` is the batch twin that then argmax-picks).

    Works identically on batch DataFrames (watermarks are a no-op there).
    On streams, BOTH sides carry an event-time watermark and the join
    condition bounds click time to a purchase-relative range — the two
    requirements for Spark to know when buffered state can be evicted:
    state per side is bounded by (watermark delay + lookback), not by the
    stream's lifetime. At 100 TB/day the state store holds hours, never
    history.

    Outer-null semantics (the part everyone trips on): a purchase with no
    matching click is emitted with NULL click columns only once the
    watermark passes ``purchase_ts + lookback`` — i.e. when a match has
    provably not arrived. A drained ``availableNow`` stream whose source
    lands in ONE micro-batch never advances the watermark before the
    final batch, so unmatched rows need a subsequent batch (or
    ``maxFilesPerTrigger``) to flush — tests/test_streaming.py
    demonstrates both sides of this.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        "purchase_ts",
        "revenue",
    ).withWatermark("purchase_ts", watermark_delay)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark_delay)
    cond = (
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback_hours} HOURS")
        )
    )
    return p.join(c, cond, "leftOuter").select(
        "purchase_id",
        F.col("p_user_id").alias("user_id"),
        "purchase_ts",
        "revenue",
        "click_id",
        "click_ts",
    )


def ohlc_hourly_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`ohlc_hourly_stream` (same schema/semantics as
    the catalog's ``events_ohlc``: open/close selected via min_by/max_by on
    the (ts, event_id) total order — no float arithmetic anywhere)."""
    return (
        events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("px_open"),
            F.max("value").alias("px_high"),
            F.min("value").alias("px_low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("px_close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def ohlc_hourly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming OHLC: tumbling 1-hour event-time windows per event type.

    min_by/max_by are ordinary declarative aggregates, so Spark maintains
    them incrementally in the window state store — per-(type, hour) state
    is five scalars + the argmin/argmax keys, NOT the events. With the
    watermark, append mode emits each candle exactly once when its hour
    closes (the production shape); tests drain with ``complete`` mode so
    the final table equals the batch twin without waiting out the
    watermark. Late rows inside the watermark update the open candle;
    later ones are dropped — the documented tradeoff of any watermarked
    aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("px_open"),
            F.max("value").alias("px_high"),
            F.min("value").alias("px_low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("px_close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("hour"),
            "px_open",
            "px_high",
            "px_low",
            "px_close",
            "n_events",
        )
    )


def ewma_hourly_batch(events: DataFrame, window: int = 12) -> DataFrame:
    """Batch twin of :func:`ewma_hourly_stateful` — identical to the
    catalog's ``events_ewma``: alpha=0.5 EWMA as a left fold over the
    trailing-``window`` ordered hour list."""
    from pyspark.sql import Window as W

    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(window - 1), W.currentRow)
    )
    lists = hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.collect_list(F.col("n_events").cast("double")).over(w).alias("xs"),
    )
    fold = F.expr(
        "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), xs[0],"
        " (a, x) -> CAST(0.5 AS DOUBLE) * a + CAST(0.5 AS DOUBLE) * x)"
    )
    return lists.select(
        "event_type", "hour", "n_events", F.round(fold, 6).alias("ewma")
    )


def ewma_hourly_stateful(
    events: DataFrame, alpha: float = 0.5, window: int = 12
) -> DataFrame:
    """Streaming EWMA monitor: per-event-type trailing-``window`` EWMA of
    hourly volume via ``applyInPandasWithState``.

    State per key is two bounded arrays — the last ``window`` present
    hours and their counts — O(types * window) total regardless of event
    volume; at cluster scale the state store is RocksDB-backed and
    partitioned by the groupBy key. Each micro-batch merges its per-hour
    counts into the state and re-emits (hour, n_events, ewma) for every
    hour it touched, where the EWMA is the SAME left fold over the
    trailing present-hour frame as the batch twin — so with hour-ordered
    arrival (micro-batches never resurrect an hour older than the newest
    seen) the final emission per hour is bit-identical to
    :func:`ewma_hourly_batch`. A batch that re-touches an already-closed
    hour re-emits that hour correctly but does NOT retract later hours'
    values (update-mode semantics — same contract as any streaming
    aggregation in update mode)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        hours: list[int] = []
        counts: list[int] = []
        if state.exists:
            h, c = state.get
            hours, counts = list(h), list(c)
        merged = dict(zip(hours, counts))
        new: dict[int, int] = {}
        for pdf in pdfs:
            eh = pdf["ts"].dt.floor("h").astype("int64") // (3600 * 10**9)
            for hh, cnt in eh.value_counts().items():
                new[int(hh)] = new.get(int(hh), 0) + int(cnt)
        for hh, cnt in new.items():
            merged[hh] = merged.get(hh, 0) + cnt
        all_hours = sorted(merged)
        out_h, out_n, out_e = [], [], []
        for hh in sorted(new):
            upto = [h for h in all_hours if h <= hh][-window:]
            xs = [float(merged[h]) for h in upto]
            acc = xs[0]
            for x in xs[1:]:
                acc = alpha * x + (1.0 - alpha) * acc
            out_h.append(hh)
            out_n.append(merged[hh])
            out_e.append(round(acc, 6))
        keep = all_hours[-window:]
        state.update(
            ([int(h) for h in keep], [int(merged[h]) for h in keep])
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(out_h),
                "hour": pd.to_datetime(
                    [h * 3600 for h in out_h], unit="s"
                ),
                "n_events": out_n,
                "ewma": out_e,
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=(
            "event_type string, hour timestamp, n_events long, ewma double"
        ),
        stateStructType="hours array<long>, counts array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cms_cells_batch(events: DataFrame, width: int = 64, depth: int = 3) -> DataFrame:
    """Batch twin of :func:`cms_cells_stream`: the count-min-sketch cell
    table (seed, bucket, n) over user_id — the same sketch the catalog's
    ``events_heavy_hitters_cms`` estimates from."""
    parts = []
    for j in range(depth):
        b = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{j}"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % width
        )
        parts.append(
            events.groupBy(F.lit(j).alias("seed"), b.alias("bucket")).agg(
                F.count(F.lit(1)).alias("n")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def cms_cells_stream(
    events: DataFrame, width: int = 64, depth: int = 3
) -> DataFrame:
    """Streaming count-min sketch: the cell counts are ordinary grouped
    COUNTs over (seed, md5-bucket), so Spark maintains the whole sketch as
    depth*width integers in the state store — the canonical 'sketch IS the
    state' streaming pattern (state size independent of stream volume,
    the same property the batch twin exploits map-side). Complete-mode
    emission gives the current sketch after every micro-batch; estimation
    (min over rows) happens downstream exactly as in the batch query.
    No watermark: the sketch is cumulative over the stream's lifetime —
    windowed variants would add the window to the group key."""
    fans = []
    for j in range(depth):
        b = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{j}"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % width
        )
        fans.append(
            events.select(F.lit(j).alias("seed"), b.alias("bucket"))
        )
    out = fans[0]
    for p in fans[1:]:
        out = out.unionAll(p)
    return out.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("n"))
