"""Driver-visible bounded runs of the Structured Streaming pipelines.

Round-2 verdict: the streaming family had no oracle-gate representation
— correctness rested on batch-twin tests only. These registry entries
close that gap: each runs a REAL micro-batch stream (file source split
into 4 files, ``maxFilesPerTrigger=1`` → ≥4 triggers, drained with
``trigger(availableNow=True)``) into a memory sink, then returns the
final sink state as a DataFrame the driver compares against a batch
SQL oracle. The streaming state machinery (windowed agg state,
``applyInPandasWithState`` per-key state carried across micro-batches,
``dropDuplicatesWithinWatermark`` dedup state) is genuinely exercised;
the oracle checks its drained fixpoint equals the batch answer.

Determinism notes (the oracle compare is bit-exact):

- Float sums go through DECIMAL(28,10) — streaming aggregation state is
  held in decimal, so micro-batch fold order can't perturb bits.
- The dedup entry injects exact duplicate rows (``event_id % 10 == 0``
  copied once), so WHICH copy survives is immaterial.
- The dedup watermark is set beyond the data's time span so no row is
  ever late-dropped and no key expires — the drained result must then
  equal batch DISTINCT exactly. Real late-data/expiry semantics are
  pinned separately in tests/test_streaming.py (the production
  pipelines in streaming/pipelines.py keep their 1-hour watermark).
- The stateful-totals entry accumulates (count, max event-time µs) —
  integers, order-insensitive across batch splits.

The reference engine has no streaming at all (SURVEY §1.1); this whole
family is an extension.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minispark_spark.registry import query
from minispark_spark.sources.sidecache import build_lock, side_dir
from minispark_spark.sources.tables import load_table
from minispark_spark.plans.events import SESSION_GAP_MINUTES as _SESSION_GAP_MINUTES

# Wide enough that no event in the 1-month synthetic span is ever late
# and no dedup state expires — see module docstring.
_NO_EXPIRY_WATERMARK = "3650 days"
_N_SOURCE_FILES = 4

# Observability for tests: entry name -> number of micro-batches the
# drained run actually executed (must be > 1 or the "streaming" entry
# degenerated into a single batch).
LAST_NUM_BATCHES: dict[str, int] = {}


def _pin_part_order(dest: str) -> None:
    """Give a written source's part files strictly increasing mtimes in
    part-number order, one second apart. The file stream reads oldest
    first, and parts written together can share an mtime to the
    nanosecond, so without this the read order (and with it whether the
    last batch raises the watermark and a no-data batch follows) would
    differ between builds of the same data."""
    now = time.time()
    parts = sorted(f for f in os.listdir(dest) if f.startswith("part-"))
    for i, name in enumerate(parts):
        os.utime(os.path.join(dest, name), (now + i, now + i))


def _events_stream_src(spark: SparkSession, sf_dir: str, leaf: str, dup: bool) -> str:
    """Materialize events as a 4-file parquet dir usable as a file-stream
    source (cached per sf_dir + source mtime under the sidecache flock).
    ``dup=True`` additionally injects one exact copy of every row with
    ``event_id % 10 == 0`` so the dedup stream has real work to do."""
    dest = side_dir("/tmp/minispark_streamsrc", sf_dir, leaf)
    stamp = dest + ".stamp"
    mt = str(os.path.getmtime(os.path.join(sf_dir, "events.parquet")))
    with build_lock(dest):
        if not (os.path.exists(stamp) and open(stamp).read() == mt):
            ev = load_table(spark, sf_dir, "events")
            if dup:
                ev = ev.unionAll(ev.where(F.col("event_id") % 10 == 0))
            ev.repartition(_N_SOURCE_FILES).write.mode("overwrite").parquet(dest)
            _pin_part_order(dest)
            with open(stamp, "w") as fh:
                fh.write(mt)
    return dest


def _docs_stream_src(spark: SparkSession, sf_dir: str, leaf: str = "docs4") -> str:
    """Materialize documents as a 4-file parquet dir usable as a
    file-stream source (cached like ``_events_stream_src``) — the
    incoming-crawl source for the web-family streaming gates."""
    dest = side_dir("/tmp/minispark_streamsrc", sf_dir, leaf)
    stamp = dest + ".stamp"
    mt = str(os.path.getmtime(os.path.join(sf_dir, "documents.parquet")))
    with build_lock(dest):
        if not (os.path.exists(stamp) and open(stamp).read() == mt):
            docs = load_table(spark, sf_dir, "documents")
            docs.repartition(_N_SOURCE_FILES).write.mode("overwrite").parquet(dest)
            _pin_part_order(dest)
            with open(stamp, "w") as fh:
                fh.write(mt)
    return dest


# Kept apart from registry.shared on purpose: a schema holds no
# executor storage, and clearing it every bench pass would pay one more
# footer probe per stream per pass.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[tuple, object]] = {}


def _read_stream(spark: SparkSession, src: str) -> DataFrame:
    # Schema from the batch reader (streaming file sources require an
    # explicit schema); maxFilesPerTrigger=1 forces one micro-batch per
    # file so cross-batch state is actually exercised. The schema probe
    # is a driver-side footer job — memoized per (app, src dir) and
    # validated by the directory's (file name, mtime_ns) set, so
    # two-stream entries (the joins) and repeated bench passes pay it
    # once (guide §1.2: fixed job latency dominates these drains), while
    # an added file or a same-second rewrite probes again.
    files = tuple(sorted((e.name, e.stat().st_mtime_ns) for e in os.scandir(src)))
    if not files:
        raise ValueError(f"stream source directory {src!r} is empty")
    key = (spark.sparkContext.applicationId, src)
    hit = _SCHEMA_CACHE.get(key)
    if hit is None or hit[0] != files:
        _SCHEMA_CACHE[key] = hit = (files, spark.read.parquet(src).schema)
    return (
        spark.readStream.schema(hit[1])
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _state_partitions() -> str:
    """Validated SPARK_GRAFT_STREAM_STATE_PARTITIONS (round-8 ADVICE): a
    non-integer or non-positive value would otherwise fail deep inside
    Spark conf parsing — and silently desync runs from the pinned
    structural budgets (tests/structural_budgets.json, generated with
    the default of 8)."""
    raw = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
    try:
        n = int(raw)
    except ValueError as e:
        raise ValueError(
            f"SPARK_GRAFT_STREAM_STATE_PARTITIONS={raw!r} is not an integer"
        ) from e
    if n < 1:
        raise ValueError(
            f"SPARK_GRAFT_STREAM_STATE_PARTITIONS={n} must be >= 1"
        )
    return str(n)


_DRAIN_STATE_PARTITIONS = _state_partitions()
# Streaming state-store overhead is per (partition x micro-batch x
# stateful operator): store open/commit costs are FIXED, so at gate
# data sizes they dominate wall clock. Measured at sf0.1:
# stream_left_outer_join 14.2 s -> 4.5 s and stream_interval_join
# 18.3 s -> 5.0 s going 32 -> 8 state partitions, identical results
# (state partitioning is an execution knob, not semantics).
# Production streams size state partitions to THROUGHPUT (more, not
# fewer, at 100 TB); these bounded verification drains use 8. The
# shuffle-partition conf is restored after the drain — batch queries
# planned later are unaffected.


# --- Factored transformation chains ------------------------------------------
#
# Each gate's pre-sink plan is a FUNCTION of its source frame, shared
# between the streaming entry (applied to _read_stream) and the plan
# linter (applied to a batch read of the same 4-file source — Spark
# transformations are source-agnostic, and withWatermark/session_window
# are legal no-op/batch operators). This is what lets
# planaudit.stream_inner_plans audit the real chain instead of a
# hand-copied twin (VERDICT r6 item #6).


def hourly_stats_plan(src: DataFrame) -> DataFrame:
    return (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "total_value")
    )


def sliding_activity_plan(src: DataFrame) -> DataFrame:
    return (
        src.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "user_id", "n_events")
    )


def dedup_gate_plan(src: DataFrame, streaming: bool = True) -> DataFrame:
    # dropDuplicatesWithinWatermark is streaming-only; the batch twin
    # plans the same exchange-on-key + dedup-aggregate shape.
    if streaming:
        deduped = src.withWatermark("ts", _NO_EXPIRY_WATERMARK).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    else:
        deduped = src.dropDuplicates(["event_id"])
    return deduped.select("event_id", "user_id", "event_type")


def interval_join_plan(
    click_src: DataFrame, purchase_src: DataFrame, how: str = "inner", watermark: str = _NO_EXPIRY_WATERMARK
) -> DataFrame:
    clicks = (
        click_src.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        purchase_src.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def session_window_plan(src: DataFrame) -> DataFrame:
    return (
        src.groupBy(
            "user_id",
            F.session_window("ts", f"{_SESSION_GAP_MINUTES} minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def late_discard_plan(src: DataFrame) -> DataFrame:
    return (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "total_value")
    )


def cdc_changes_plan(src: DataFrame) -> DataFrame:
    return src.select(
        "user_id",
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_id",
        "value",
    )


def stateful_partition_twin(src: DataFrame) -> DataFrame:
    """The applyInPandasWithState entries' lintable batch shape: the
    state operator itself is streaming-only, but its plan hazard
    surface — how the input is partitioned before the Arrow-batched
    state function — is exactly a groupBy on the state key. This twin
    plans the same hash exchange; the per-key Arrow evaluation is
    Arrow-batched by construction (never BatchEvalPython)."""
    return src.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_ts_us"),
    )


def _drain_to_memory(entry: str, sf_dir: str, sdf: DataFrame, mode: str) -> DataFrame:
    """Start → availableNow-drain → return the memory-sink table.
    Sink names are keyed by sf_dir so the registry's per-(session,
    sf_dir) plan memo never reads another sf_dir's sink state."""
    name = f"{entry}_{hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:8]}"
    spark = sdf.sparkSession
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _DRAIN_STATE_PARTITIONS)
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    LAST_NUM_BATCHES[entry] = len(q.recentProgress)
    return spark.table(name)


@query(
    "stream_hourly_event_stats",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour windowed counts/sums per event type, computed by "
    "a drained 4-micro-batch stream in complete mode (streaming twin of "
    "events_hourly_stats; pipeline shape: streaming/pipelines.py::"
    "hourly_event_stats). Complete-mode aggregation state is held in "
    "DECIMAL so batch split can't perturb float bits.",
)
def stream_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_src(spark, sf_dir, "events4", dup=False)
    agg = hourly_stats_plan(_read_stream(spark, src))
    return _drain_to_memory("stream_hourly_event_stats", sf_dir, agg, "complete")


@query(
    "stream_sliding_user_activity",
    oracle="""
        SELECT make_timestamp((CAST(floor(epoch(ts) / 600) AS BIGINT) * 600
                               - offs.off) * 1000000) AS win_start,
               user_id,
               COUNT(*) AS n_events
        FROM events CROSS JOIN (VALUES (0), (600), (1200)) offs(off)
        GROUP BY 1, 2
    """,
    doc="Sliding 30-min/10-min-slide per-user activity via a drained "
    "complete-mode stream (pipeline shape: streaming/pipelines.py::"
    "sliding_user_activity). Oracle expands each event into its three "
    "covering windows (Spark aligns window starts to multiples of the "
    "slide since the 1970 epoch).",
)
def stream_sliding_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_src(spark, sf_dir, "events4", dup=False)
    agg = sliding_activity_plan(_read_stream(spark, src))
    return _drain_to_memory("stream_sliding_user_activity", sf_dir, agg, "complete")


@query(
    "stream_dedup_events",
    oracle="""
        SELECT event_id, user_id, event_type
        FROM events
    """,
    doc="Streaming exact dedup: the source re-injects an exact copy of "
    "every 10th event, dropDuplicatesWithinWatermark must emit each "
    "event_id exactly once across 4 micro-batches (pipeline shape: "
    "streaming/pipelines.py::dedup_stream). The drained append-mode "
    "output equals batch DISTINCT = the original table.",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_src(spark, sf_dir, "events_dup4", dup=True)
    out = dedup_gate_plan(_read_stream(spark, src), streaming=True)
    return _drain_to_memory("stream_dedup_events", sf_dir, out, "append")


@query(
    "stream_user_running_totals",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_ts_us
        FROM events
        GROUP BY user_id
    """,
    doc="Custom stateful operator via applyInPandasWithState: per-user "
    "(event count, max event-time µs) carried across 4 micro-batches in "
    "update mode (pipeline shape: streaming/pipelines.py::"
    "user_running_totals); the final fixpoint per key — both state "
    "fields are monotone, so max over the update stream recovers it — "
    "must equal the batch GROUP BY. Integer state only: exact under any "
    "batch split.",
)
def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterable, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # Arrow hands timestamps over as datetime64; normalize to ns
            # explicitly (unit varies by pandas/arrow version), then µs.
            us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
            last_us = max(last_us, int(us.max()))
        state.update((n, last_us))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_ts_us": [last_us]}
        )

    src = _events_stream_src(spark, sf_dir, "events4", dup=False)
    updates = (
        _read_stream(spark, src)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType="user_id long, n_events long, last_ts_us long",
            stateStructType="n long, last_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sunk = _drain_to_memory("stream_user_running_totals", sf_dir, updates, "update")
    # Update-mode memory sink appends one row per key per batch the key
    # appeared in; both state fields are monotone so max = final state.
    return sunk.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("last_ts_us").alias("last_ts_us"),
    )

@query(
    "stream_interval_join",
    oracle="""
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
        FROM events c
        JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    doc="STREAM-STREAM interval join (the Structured Streaming capability "
    "class the other entries don't cover): two independent file streams "
    "over the same 4-file source — clicks and purchases — joined on "
    "user_id with purchases inside [click_ts, click_ts + 1h]. Both "
    "sides watermarked; the join buffers each side's rows in the state "
    "store until the other side's matches arrive (a click in batch 1 "
    "pairs with a purchase in batch 4), so cross-batch join state is "
    "genuinely exercised. Inner-join emission is arrival-order- "
    "independent: the drained append-mode output must equal the batch "
    "interval join exactly. The beyond-span watermark keeps every row "
    "eligible (no state eviction) for determinism — production uses the "
    "time-range condition itself to bound state: with a real 1h "
    "watermark Spark evicts buffered rows once the watermark passes "
    "click_ts + 1h, so state is O(events per hour), not O(stream). "
    "gap_us is integer microseconds (exact under any batch split).",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_src(spark, sf_dir, "events4", dup=False)
    joined = interval_join_plan(
        _read_stream(spark, src), _read_stream(spark, src)
    )
    return _drain_to_memory("stream_interval_join", sf_dir, joined, "append")


@query(
    "stream_cdc_upsert",
    oracle="""
        SELECT user_id, event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_id, value
        FROM (
            SELECT user_id, event_type, ts, event_id, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type, date_trunc('day', ts)
                       ORDER BY event_id DESC
                   ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    doc="Streaming CDC apply, driver-visible: the events change log "
    "streams in 4 micro-batches through foreachBatch -> "
    "upsert_partitions (latest-wins on event_id, dynamic partition "
    "overwrite — streaming/pipelines.py::apply_cdc_stream shape). "
    "Latest-wins is batch-order-independent (max event_id per key "
    "survives under ANY split), so the drained table must equal the "
    "batch latest-per-key oracle — same oracle as events_cdc_upsert.",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from minispark_spark.sources.upsert import upsert_partitions

    src = _events_stream_src(spark, sf_dir, "events4", dup=False)
    dest = side_dir("/tmp/minispark_streamcdc", sf_dir, "table")
    ckpt = side_dir("/tmp/minispark_streamcdc", sf_dir, "ckpt")
    stamp = dest + ".stamp"
    mt = str(os.path.getmtime(os.path.join(sf_dir, "events.parquet")))
    with build_lock(dest):
        if not (os.path.exists(stamp) and open(stamp).read() == mt):
            shutil.rmtree(dest, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
            changes = cdc_changes_plan(_read_stream(spark, src))

            def sink(batch_df: DataFrame, batch_id: int) -> None:
                if batch_df.isEmpty():
                    return
                upsert_partitions(
                    batch_df, dest, ["user_id", "event_type", "day"], "day", "event_id"
                )

            q = (
                changes.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .queryName(
                    "stream_cdc_upsert_"
                    + hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_NUM_BATCHES["stream_cdc_upsert"] = len(q.recentProgress)
            with open(stamp, "w") as fh:
                fh.write(mt)
    if not os.path.isdir(dest):
        # empty change log: upsert never wrote a partition — the
        # correct result is the empty table with the oracle schema
        return spark.createDataFrame(
            [], "user_id long, event_type string, day string, event_id long, value double"
        )
    return spark.read.parquet(dest).select(
        "user_id", "event_type", F.col("day").cast("string").alias("day"), "event_id", "value"
    )


@query(
    "stream_session_window",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR date_diff('microsecond', LAG(ts) OVER w, ts)
                                > {_SESSION_GAP_MINUTES} * 60 * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL {_SESSION_GAP_MINUTES} MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, sid
    """,
    doc=f"Streaming sessionization via native session_window "
    f"({_SESSION_GAP_MINUTES}-min gap) drained over 4 micro-batches in "
    "complete mode — Spark MERGES session state across batches (an "
    "event arriving in a later batch can fuse two earlier sessions), "
    "which is exactly the stateful behavior a batch groupBy never "
    "exercises. The drained fixpoint must equal the batch twin "
    "(events_session_window_native); the oracle is that twin's LAG-"
    "islands replay at microsecond precision.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_src(spark, sf_dir, "events4", dup=False)
    agg = session_window_plan(_read_stream(spark, src))
    return _drain_to_memory("stream_session_window", sf_dir, agg, "complete")


_HOUR_US = 3_600_000_000


def _late_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Four-file source with PINNED arrival order (file mtimes 60 s
    apart; the file stream source processes oldest-first): the early
    third of the event span arrives first, the NEWEST third second —
    advancing the watermark past the middle — then an EMPTY heartbeat
    file, and the middle third LAST, i.e. late. The heartbeat batch is
    load-bearing, from measurement (wm_probe series): Spark 4's
    late-row filter in batch N uses the watermark derived from batches
    <= N-2 (one batch BEHIND the eviction watermark batch N's progress
    reports), so without it the late chunk would be filtered against
    the pre-advance watermark and accepted. Chunk boundaries are
    hour-aligned (the window size), so every window belongs wholly to
    one chunk and the late-drop set is exact."""
    import glob as _glob
    import shutil

    dest = side_dir("/tmp/minispark_streamlate", sf_dir, "events3")
    stamp = dest + ".stamp"
    mt = str(os.path.getmtime(os.path.join(sf_dir, "events.parquet")))
    with build_lock(dest):
        if not (os.path.exists(stamp) and open(stamp).read() == mt):
            ev = load_table(spark, sf_dir, "events")
            h = F.expr(f"unix_micros(ts) div {_HOUR_US}")
            b = ev.agg(F.min(h).alias("hmin"), F.max(h).alias("hmax")).collect()[0]
            shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(dest, exist_ok=True)
            if b["hmin"] is None:
                # Empty events: persist ONE schema-only parquet file so
                # the stream source can still infer a schema and drain
                # an empty batch (the empty-tables gate feeds this).
                edir = dest + ".build-empty"
                ev.limit(0).coalesce(1).write.mode("overwrite").parquet(edir)
                part = _glob.glob(os.path.join(edir, "part-*.parquet"))[0]
                os.replace(part, os.path.join(dest, "a.parquet"))
                shutil.rmtree(edir, ignore_errors=True)
            if b["hmin"] is not None:
                third = (b["hmax"] - b["hmin"] + 1) // 3
                b1, b2 = b["hmin"] + third, b["hmin"] + 2 * third
                chunks = [
                    ("a", h < b1),  # early on-time
                    ("b", h >= b2),  # newest: advances the watermark
                    ("hb", F.lit(False)),  # empty heartbeat: lets the
                    # one-batch-lagged late filter catch up to b's max
                    ("c", (h >= b1) & (h < b2)),  # middle, arrives LATE
                ]
                tmp = dest + ".build"
                now = time.time()
                for i, (name, pred) in enumerate(chunks):
                    cdir = os.path.join(tmp, name)
                    ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(cdir)
                    part = _glob.glob(os.path.join(cdir, "part-*.parquet"))[0]
                    final = os.path.join(dest, f"{name}.parquet")
                    os.replace(part, final)
                    os.utime(final, (now + 60 * i, now + 60 * i))
                shutil.rmtree(tmp, ignore_errors=True)
            with open(stamp, "w") as fh:
                fh.write(mt)
    return dest


@query(
    "stream_late_data_discard",
    oracle=f"""
        WITH hb AS (
            SELECT MIN(epoch_us(ts) // {_HOUR_US}) AS hmin,
                   MAX(epoch_us(ts) // {_HOUR_US}) AS hmax,
                   MAX(epoch_us(ts)) AS tmax_us
            FROM events
        ),
        lim AS (
            SELECT hmin + (hmax - hmin + 1) // 3 AS b1,
                   hmin + 2 * ((hmax - hmin + 1) // 3) AS b2,
                   -- Spark's watermark: floor-to-ms of the max event
                   -- time minus the 1 h delay
                   (tmax_us // 1000) * 1000 - {_HOUR_US} AS wm_us
            FROM hb
        )
        SELECT make_timestamp(h * {_HOUR_US}) AS window_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        FROM (SELECT epoch_us(ts) // {_HOUR_US} AS h, value FROM events), lim
        WHERE (h < b1 OR h >= b2)                 -- late middle chunk DROPPED
          AND (h + 1) * {_HOUR_US} <= wm_us       -- only closed windows emit
        GROUP BY 1
    """,
    doc="WATERMARK DISCARD semantics, driver-visible — the capability "
    "the other stream entries deliberately disable with a beyond-span "
    "watermark: a 4-file source arrives early-third, NEWEST-third "
    "(advancing the 1 h watermark past the middle), an empty heartbeat "
    "(absorbing Spark's measured one-batch lag between the late-row "
    "filter and the eviction watermark — see _late_stream_src), then "
    "middle-third LATE; the append-mode 1 h tumbling aggregation must "
    "(1) DROP "
    "every late row (its hour window closed when the watermark "
    "passed), so emitted counts cover only the two on-time chunks, "
    "and (2) emit exactly the windows the final watermark closed — "
    "open tail windows stay in state, unemitted. Chunk boundaries are "
    "hour-aligned so each window is wholly on-time or wholly late; "
    "the oracle replays the split, Spark's floor-to-ms watermark, and "
    "both effects in batch SQL. Fresh checkpoint per run via the "
    "memory-sink drain; micro-batch count pinned >= 3 in "
    "tests/test_streaming_bounded.py.",
)
def stream_late_data_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _late_stream_src(spark, sf_dir)
    agg = late_discard_plan(_read_stream(spark, src))
    return _drain_to_memory("stream_late_data_discard", sf_dir, agg, "append")


@query(
    "stream_state_timeout_sessions",
    oracle=f"""
        WITH hb AS (
            SELECT MIN(epoch_us(ts) // {_HOUR_US}) AS hmin,
                   MAX(epoch_us(ts) // {_HOUR_US}) AS hmax
            FROM events
        ),
        lim AS (
            SELECT hmin + (hmax - hmin + 1) // 3 AS b1,
                   hmin + 2 * ((hmax - hmin + 1) // 3) AS b2
            FROM hb
        ),
        ontime AS (
            SELECT e.* FROM events e, lim
            WHERE (epoch_us(ts) // {_HOUR_US} < b1
                   OR epoch_us(ts) // {_HOUR_US} >= b2)
        ),
        wm AS (
            SELECT (MAX(epoch_us(ts)) // 1000) * 1000 - {_HOUR_US} AS wm_us
            FROM ontime
        ),
        st AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                       AS sum_cents,
                   CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
            FROM ontime GROUP BY 1
        )
        SELECT user_id, n_events, sum_cents, last_us
        FROM st, wm
        -- the timeout timestamp is set in ms (last_us // 1000 + gap);
        -- it fires only when the watermark STRICTLY passes it
        WHERE ((last_us // 1000) + 3600000) * 1000 < wm_us
    """,
    doc="STATEFUL TIMEOUT expiry (applyInPandasWithState + "
    "EventTimeTimeout) — the timer-driven state-eviction class the "
    "other stateful entries don't cover: per-user activity state "
    "(count, exact cents sum, max event-time us) accumulates across "
    "micro-batches and is emitted ONLY from the hasTimedOut branch, "
    "when the watermark strictly passes last_event + 1 h with no new "
    "data for the user — the inactivity-closed-session recipe. Same "
    "pinned-order 4-file source as stream_late_data_discard. The "
    "drained output must contain exactly the users whose on-time "
    "activity the final watermark closed (open-tail users stay in "
    "state, unemitted), with counts/sums over on-time rows only — "
    "late middle-third rows are watermark-dropped BEFORE the state "
    "function (measured: numRowsDroppedByWatermark, and a dropped "
    "late row cannot resurrect a removed state). Timeout timestamps "
    "are ms-floored (setTimeoutTimestamp contract), replayed exactly "
    "in the oracle's strict-< cutoff.",
)
def stream_state_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_MS = 3_600_000

    def expire(key: tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, cents, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_cents": [cents],
                    "last_us": [last_us],
                }
            )
            return
        n, cents, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            # cents and event-time µs are precomputed JVM columns (see
            # below): the per-group Python body is two int64 reductions,
            # not float/datetime conversions — this function runs once
            # per USER per micro-batch, so per-call pandas overhead is
            # the drain's dominant cost (measured: allUpdatesTimeMs
            # ~22 s summed across 8 partitions on the first sf0.1
            # batch; guide §4 — cut work per boundary crossing).
            cents += int(pdf["cents"].to_numpy().sum())
            last_us = max(last_us, int(pdf["us"].to_numpy().max()))
        state.update((n, cents, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + GAP_MS)
        # No emission on the accumulate path: yielding an EMPTY frame
        # per group serializes one Arrow batch per user per micro-batch
        # for zero rows (guide §4 — cut what crosses the boundary).
        return

    src = _late_stream_src(spark, sf_dir)
    out = (
        _read_stream(spark, src)
        .withWatermark("ts", "1 hour")
        # exact cents (floor(v*100+0.5)) and unix_micros computed as
        # JVM columns: the same IEEE double multiply/add/floor the old
        # in-Python numpy spelling ran (bit-identical), without a
        # float->numpy->floor pass per user group in the state function
        .select(
            "user_id",
            "ts",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
            F.unix_micros("ts").alias("us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            expire,
            outputStructType="user_id long, n_events long, sum_cents long, last_us long",
            stateStructType="n long, cents long, last_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return _drain_to_memory("stream_state_timeout_sessions", sf_dir, out, "append")


@query(
    "stream_left_outer_join",
    oracle=f"""
        WITH hb AS (
            SELECT MIN(epoch_us(ts) // {_HOUR_US}) AS hmin,
                   MAX(epoch_us(ts) // {_HOUR_US}) AS hmax
            FROM events
        ),
        lim AS (
            SELECT hmin + (hmax - hmin + 1) // 3 AS b1,
                   hmin + 2 * ((hmax - hmin + 1) // 3) AS b2
            FROM hb
        ),
        ontime AS (
            SELECT e.* FROM events e, lim
            WHERE (epoch_us(ts) // {_HOUR_US} < b1
                   OR epoch_us(ts) // {_HOUR_US} >= b2)
        ),
        clicks AS (
            SELECT user_id, event_id AS click_id, ts AS c_ts
            FROM ontime WHERE event_type = 'click'
        ),
        purch AS (
            SELECT user_id, event_id AS purchase_id, ts AS p_ts
            FROM ontime WHERE event_type = 'purchase'
        ),
        wm AS (
            -- global watermark = MIN over the two sides' (floor-to-ms
            -- max event time - 1 h); floor commutes with LEAST
            SELECT (LEAST(
                        (SELECT MAX(epoch_us(ts)) FROM ontime WHERE event_type = 'click'),
                        (SELECT MAX(epoch_us(ts)) FROM ontime WHERE event_type = 'purchase')
                    ) // 1000) * 1000 - {_HOUR_US} AS wm_us
        )
        SELECT c.user_id, c.click_id, p.purchase_id,
               CAST(epoch_us(p.p_ts) - epoch_us(c.c_ts) AS BIGINT) AS gap_us
        FROM clicks c JOIN purch p
          ON p.user_id = c.user_id
         AND p.p_ts >= c.c_ts
         AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
        UNION ALL
        SELECT c.user_id, c.click_id,
               CAST(NULL AS BIGINT) AS purchase_id,
               CAST(NULL AS BIGINT) AS gap_us
        FROM clicks c, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM purch p
                WHERE p.user_id = c.user_id
                  AND p.p_ts >= c.c_ts
                  AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR)
          AND epoch_us(c.c_ts) + {_HOUR_US} < wm_us
    """,
    doc="STREAM-STREAM LEFT OUTER interval join with REAL watermarks — "
    "the remaining Structured Streaming capability class: unmatched "
    "left rows must be emitted WITH NULLS only once the watermark "
    "proves no future match is possible (state eviction), and late "
    "input on either side must be dropped. Same pinned-order 4-file "
    "source as stream_late_data_discard (early third, newest third, "
    "heartbeat absorbing the measured one-batch filter lag, middle "
    "third late): clicks left-join purchases on user_id with "
    "purchases inside [click_ts, click_ts + 1 h]. The drained append "
    "output = all on-time matches + NULL rows for on-time clicks "
    "whose join window closed under the final watermark (min across "
    "the two sides, floor-to-ms) — open tail clicks stay buffered, "
    "unemitted; late-chunk clicks produce NO null row (they were "
    "dropped, not unmatched). The oracle replays the split, both "
    "effects, and the eviction cutoff in batch SQL. The chunk gap "
    "(one third of the event span) exceeds the 1 h join range at "
    "every gate SF, so no cross-chunk match is lost to early "
    "eviction.",
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _late_stream_src(spark, sf_dir)
    joined = interval_join_plan(
        _read_stream(spark, src),
        _read_stream(spark, src),
        how="leftOuter",
        watermark="1 hour",
    )
    return _drain_to_memory("stream_left_outer_join", sf_dir, joined, "append")


@query(
    "stream_arrow_sink",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1
    """,
    doc="End-to-end streaming through the Arrow IPC format: the 4-file "
    "events stream is written RAW to an arrowipc streaming sink "
    "(sources/arrowipc.py — batch-id-named part files, replay-"
    "idempotent), then the sink directory is batch-read back and "
    "aggregated; the result must equal aggregating the original table. "
    "Exercises the streaming writer's commit protocol and the "
    "format's read path in one driver-visible entry (the BlockFile "
    "streaming twin lives in tests/test_streaming.py).",
)
def stream_arrow_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minispark_spark.sources import arrowipc

    arrowipc.register(spark)
    src = _events_stream_src(spark, sf_dir, "events4", dup=False)
    dest = side_dir("/tmp/minispark_streamarrow", sf_dir, "events.arrow")
    stamp = dest + ".stamp"
    src_mtime = str(max(os.path.getmtime(os.path.join(src, f)) for f in os.listdir(src)))
    with build_lock(dest):
        if not (os.path.exists(stamp) and open(stamp).read() == src_mtime):
            import shutil
            import uuid as _uuid

            shutil.rmtree(dest, ignore_errors=True)
            schema = spark.read.parquet(src).schema
            # Fresh checkpoint per rebuild: reusing one across a rebuild
            # would mark every source file already-committed and the
            # drained stream would silently write NOTHING into the
            # freshly-cleared sink (measured).
            q = (
                _read_stream(spark, src)
                .writeStream.format("arrowipc")
                .option(
                    "checkpointLocation",
                    f"{dest}.ckpt-{src_mtime}-{_uuid.uuid4().hex[:8]}",
                )
                .outputMode("append")
                .trigger(availableNow=True)
                .start(dest)
            )
            q.awaitTermination()
            LAST_NUM_BATCHES["stream_arrow_sink"] = len(q.recentProgress)
            from minispark_spark.sources.arrowipc import _files as _ipc_files

            if not _ipc_files(dest):
                # Zero micro-batches (empty source): no commit ever ran,
                # so persist a schema-only file the way the batch
                # writer does — the read path must still infer a schema.
                import pyarrow.ipc as pa_ipc
                from pyspark.sql.pandas.types import to_arrow_schema

                os.makedirs(dest, exist_ok=True)
                with pa_ipc.new_file(
                    os.path.join(dest, "part-empty.arrow"), to_arrow_schema(schema)
                ):
                    pass
            with open(stamp, "w") as fh:
                fh.write(src_mtime)
    return (
        spark.read.format("arrowipc")
        .load(dest)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("total_value"),
        )
    )
