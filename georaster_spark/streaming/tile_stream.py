"""Structured Streaming ingest for the tiles table.

The reference is batch-only (SURVEY §2.3: streaming "—"), and the north
rule's durability requirement is met by batch checkpoint/resume (op E9).
This module is the engine's streaming *ingest* tier for the production
posture where the image table grows continuously: new image files land
-> `readStream` picks them up -> georegister (same Column math as batch
— the code path is shared, which is the point of DataFrame-first
design) -> watermarked per-cell tumbling-window stats + streaming
near-dup drop.  `availableNow` triggers make every pipeline testable
batch-equivalently (tests/test_streaming.py).

Event time is derived deterministically from the image index
(fixture-synthesis rule: one image per second from T0) so watermark /
late-data semantics are exercised without wall clocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DEFAULT_RES
from ..operators import georegister as geo

T0 = "2024-01-01 00:00:00"

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string,"
    " caption string, phash long"
)


def read_image_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a growing directory of image parquet."""
    return (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def with_event_time(images: DataFrame) -> DataFrame:
    ts = F.to_timestamp(F.lit(T0)) + F.make_interval(secs=geo.image_idx())
    return images.withColumn("ts", ts)


def cell_window_stats(
    images: DataFrame,
    r: int = DEFAULT_RES,
    window: str = "1 minute",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Per (tumbling window, anchor cell): image count + mean tile width.
    Watermark bounds state: rows later than `watermark` behind the max
    event time are dropped and their windows finalized."""
    tiles = geo.georegister(with_event_time(images), r)
    return (
        tiles.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("cell_id"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.avg("w").alias("avg_w"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "cell_id",
            "n_images",
            "avg_w",
        )
    )


def streaming_near_dup_drop(images: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Streaming exact-phash dedup: keep the first arrival of each phash
    within the watermark horizon (state is bounded by the watermark —
    at 10^12 rows unbounded dropDuplicates state would OOM)."""
    return with_event_time(images).withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["phash"]
    )


def batch_sessionize(images: DataFrame, gap_s: int = 200, r: int = DEFAULT_RES) -> DataFrame:
    """Per-cell session windows over event time (batch tier): a session
    is a maximal run of same-cell images with inter-arrival <= gap_s.
    Classic dynamic-gap windows — NOT expressible as tumbling windows;
    batch shape is the window-function idiom (lag -> gap flag -> running
    sum = session id), one shuffle on cell_id.  The streaming twin is
    stream_sessionize (applyInPandasWithState); both emit identical
    closed sessions (tests/test_streaming.py)."""
    from pyspark.sql.window import Window

    tiles = geo.georegister(with_event_time(images), r).select("cell_id", "ts")
    w_ord = Window.partitionBy("cell_id").orderBy("ts")
    flagged = tiles.withColumn(
        "new_sess",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_ord)
            > gap_s,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "session_no",
        F.sum("new_sess").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("cell_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_images"),
        )
    )


def stream_sessionize(
    images: DataFrame,
    gap_s: int = 200,
    r: int = DEFAULT_RES,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming twin of batch_sessionize: custom stateful operator via
    applyInPandasWithState.  State per cell = the open session
    (start, last_ts, n); a batch's rows extend or close it; sessions
    close either inline (a later same-batch event exceeds the gap) or by
    event-time timeout once the watermark passes last_ts + gap_s.  Only
    CLOSED sessions are emitted (append semantics) — the final open
    session per cell is withheld until a timeout fires, exactly like
    append-mode window finalization.  State is bounded: one open session
    per active cell, timed out and freed once the cell goes quiet."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "cell_id long, session_start timestamp, session_end timestamp, n_images long"
    )
    state_schema = "start long, last long, n long"

    def fn(key, pdfs, state: GroupState):
        (cell_id,) = key
        closed: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            s0, s1, n = state.get
            closed.append((s0, s1, n))
            state.remove()
        else:
            if state.exists:
                cur = list(state.get)
            else:
                cur = None
            for pdf in pdfs:
                ts = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
                ts.sort()
                for t in ts:
                    t = int(t)
                    if cur is None:
                        cur = [t, t, 1]
                    elif t - cur[1] > gap_s:
                        closed.append((cur[0], cur[1], cur[2]))
                        cur = [t, t, 1]
                    else:
                        cur[1] = t
                        cur[2] += 1
            if cur is not None:
                state.update(tuple(cur))
                # close once the watermark passes last_ts + gap
                state.setTimeoutTimestamp((cur[1] + gap_s) * 1000 + 1)
        yield pd.DataFrame(
            {
                "cell_id": [cell_id] * len(closed),
                "session_start": pd.to_datetime([c[0] for c in closed], unit="s"),
                "session_end": pd.to_datetime([c[1] for c in closed], unit="s"),
                "n_images": [c[2] for c in closed],
            }
        )

    tiles = geo.georegister(with_event_time(images), r).select("cell_id", "ts")
    return (
        tiles.withWatermark("ts", watermark)
        .groupBy("cell_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_sessionize_native(
    images: DataFrame,
    gap_s: int = 200,
    r: int = DEFAULT_RES,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Built-in twin of stream_sessionize: the same dynamic-gap sessions
    expressed with Spark's native ``session_window`` merging aggregation
    (state-store-backed window merge) instead of the custom
    applyInPandasWithState operator — the two bound the design space for
    S4 (use the engine primitive when it fits; drop to custom state only
    for semantics it can't express, e.g. per-session payloads beyond
    aggregates).

    Boundary alignment: batch_sessionize keeps events with gap <= gap_s
    together (strict > splits), while session_window merges an event iff
    it lands strictly before last_ts + gap.  Fixture timestamps are
    whole seconds, so a native gap of ``gap_s + 1`` seconds makes
    "< last + gap_s + 1" ≡ "<= last + gap_s" — the two operators emit
    identical sessions (pinned in tests/test_streaming.py)."""
    tiles = geo.georegister(with_event_time(images), r).select("cell_id", "ts")
    return (
        tiles.withWatermark("ts", watermark)
        .groupBy("cell_id", F.session_window("ts", f"{gap_s + 1} seconds"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_images"),
        )
        .select("cell_id", "session_start", "session_end", "n_images")
    )


def stream_revisit_join(
    a: DataFrame,
    b: DataFrame,
    r: int = DEFAULT_RES,
    horizon_s: int = 120,
    watermark: str = "1 minute",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time range condition (op
    S5): for every tile on stream A, the tiles on stream B that land in
    the SAME anchor cell within `horizon_s` seconds after it — the
    streaming form of a spatial revisit/co-observation query.

    Both sides carry watermarks and the join condition bounds ts_b
    relative to ts_a, which is exactly what Spark requires to bound
    stream-stream join state: each side's buffered rows are dropped once
    the other side's watermark passes the range horizon.  Inner-join
    results are emitted as soon as both rows have arrived (append mode,
    no finalization delay), so the availableNow run over a single
    micro-batch is batch-equivalent and SQL-expressible.

    Both sides share the georegister code path with batch (the point of
    DataFrame-first design); the join key is (cell_id) + the time bound,
    so state is partitioned by cell — the same skew posture as E8 (hot
    anchor cells would get salted the same way)."""
    ta = (
        geo.georegister(with_event_time(a), r)
        .select(
            F.col("image_id").alias("a_id"),
            "cell_id",
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", watermark)
    )
    tb = (
        geo.georegister(with_event_time(b), r)
        .select(
            F.col("image_id").alias("b_id"),
            F.col("cell_id").alias("cell_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", watermark)
    )
    joined = ta.join(
        tb,
        (F.col("cell_id") == F.col("cell_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.make_interval(secs=F.lit(horizon_s))),
        "inner",
    )
    return joined.select(
        "a_id",
        "b_id",
        "cell_id",
        (F.col("ts_b").cast("long") - F.col("ts_a").cast("long")).alias("dt_s"),
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    checkpoint: str,
    state_partitions: int | None = None,
):
    """availableNow trigger -> memory sink; returns the finished query.
    (Production: writeStream.format('parquet'/'iceberg') with the same
    checkpointLocation giving exactly-once file output.)

    `state_partitions` pins spark.sql.shuffle.partitions for the
    query's lifetime (restored after).  Stateful streaming ops fix
    their state-store partition count from that conf at checkpoint
    creation and AQE never coalesces it, so every micro-batch pays
    store-init + commit per partition: size it to STATE volume (small
    for the constant-row contract probes; large for a 10^12-row
    production stream), not to the batch shuffle width."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q


def stream_merge_to_icelite(
    stream_df: DataFrame, table, key: str, checkpoint: str
):
    """Streaming CDC sink (op S6): every micro-batch MERGEs into an
    icelite table via foreachBatch — upserts by `key`, each batch one
    copy-on-write snapshot commit, prior versions stay time-travelable.

    Exactly-once posture: the streaming checkpoint makes batch REPLAY
    the only failure mode, and merge_upsert is idempotent for a replayed
    batch (same keys, same rows -> same merged relation), so the table
    converges to the same state regardless of where a crash lands.  This
    is the parquet-emulation twin of `foreachBatch + MERGE INTO` on an
    Iceberg catalog (sources/icelite.merge_upsert swap-in note)."""
    from ..sources import icelite

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        icelite.merge_upsert(batch_df.sparkSession, table, batch_df, key)

    q = (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def stream_quality_gate(images: DataFrame, var_threshold: int = 1000) -> DataFrame:
    """Streaming image-curation gate (S6): the variance-of-Laplacian
    blur filter (operators/quality.laplacian_stats) applied to the live
    ingest stream — mapInPandas is stateless, so the same fused Arrow
    pass runs per micro-batch with zero state and the stream stays
    append-mode end to end.  Emits only tiles passing the sharpness
    threshold (lap_var_num > threshold · n²), i.e. the rows a training
    pipeline would forward to the sink; the integer surface makes the
    streaming and batch verdicts bit-identical."""
    from ..operators.quality import laplacian_stats

    stats = laplacian_stats(images)
    return stats.where(
        F.col("lap_var_num")
        > F.lit(var_threshold) * F.col("n_interior") * F.col("n_interior")
    )


def sliding_rate(
    images: DataFrame,
    window: str = "2 minutes",
    slide: str = "30 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """S4 — sliding-window ingest-rate monitor: per OVERLAPPING window
    (length `window`, hop `slide`) the arrival count and an idx
    checksum.  Sliding windows are the standard alerting shape tumbling
    aggregations can't express (each event lands in L/S windows, here
    4); watermark still bounds state and finalizes windows in event
    time.

    Scale shape: state is windows-sized (time-bounded), never
    rows-sized; the fan-out is the fixed L/S factor applied map-side
    before ONE windowed agg shuffle."""
    ev = with_event_time(images)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(geo.image_idx()).alias("idx_checksum"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "n_images",
            "idx_checksum",
        )
    )


def stream_ewma(events: DataFrame) -> DataFrame:
    """Streaming EWMA control chart, checked against the batch oracle
    relational.ewma_drift_sql: per-user exponentially-weighted average as
    a custom stateful operator via applyInPandasWithState.  State per
    user = (s, ssum, n, spikes); each micro-batch's rows are applied in
    (ts, event_id) order continuing from stored state, so with an
    in-order source the final emission equals the batch recurrence
    s_t = (7*s_{t-1} + 3*x_t) // 10 bit-for-bit — which is exactly what
    the DuckDB recursive-CTE oracle replays.  (Production streams fence
    order per key with a watermark + sort-within-batch; the contract
    probe's availableNow single batch is trivially in order.)  Emits the
    running census per user per batch; the gate reduces to the last
    emission via the monotone n_events.

    Scale shape: state is 4 ints per active user — bounded, keyed,
    store-partitioned; pixels/payloads never enter the state store."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.relational import EWMA_SPIKE_CENTS

    out_schema = (
        "user_id long, n_events long, ewma_final long,"
        " ewma_sum long, n_spikes long"
    )
    state_schema = "s long, ssum long, n long, spikes long"

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            s, ssum, n, spikes = state.get
        else:
            s, ssum, n, spikes = 0, 0, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["x"].astype("int64"):
                x = int(x)
                if n == 0:
                    s = x
                    ssum = x
                else:
                    if abs(x - s) > EWMA_SPIKE_CENTS:
                        spikes += 1
                    s = (7 * s + 3 * x) // 10
                    ssum += s
                n += 1
        state.update((s, ssum, n, spikes))
        yield pd.DataFrame(
            {
                "user_id": [int(user_id)],
                "n_events": [n],
                "ewma_final": [s],
                "ewma_sum": [ssum],
                "n_spikes": [spikes],
            }
        )

    slim = events.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return slim.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_keyed_topn(
    images: DataFrame,
    window: str = "5 minutes",
    watermark: str = "30 seconds",
) -> DataFrame:
    """S9 — keyed tumbling-window leaderboard input: per (5-minute
    window, fmt) the arrival count and idx checksum under a 30 s
    watermark.  The top-N cut itself happens AFTER the sink on
    finalized windows (rank-over-append-sink is the documented
    streaming-topN pattern: the windowed AGG is the stateful part,
    ranking a finalized window is batch work).

    Scale shape: state is (windows x |fmt|)-sized; one windowed agg
    shuffle, map-side partials first."""
    ev = with_event_time(images)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "fmt")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(geo.image_idx()).alias("idx_checksum"),
        )
        .select(F.col("win.start").alias("win_start"), "fmt", "n_images", "idx_checksum")
    )
