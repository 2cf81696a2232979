"""The driver-visible streaming entries (streaming/bounded.py) must be
real streams: correctness is covered by the oracle-parity gate (they
are registry entries), so what's pinned here is the STREAMING-ness —
each drained run executed more than one micro-batch, i.e. windowed /
dedup / applyInPandasWithState state genuinely crossed batch
boundaries instead of degenerating into a single batch job."""

from __future__ import annotations

import pytest

from minispark_spark.streaming import bounded


@pytest.mark.parametrize(
    "fn, entry",
    [
        (bounded.stream_hourly_event_stats, "stream_hourly_event_stats"),
        (bounded.stream_sliding_user_activity, "stream_sliding_user_activity"),
        (bounded.stream_dedup_events, "stream_dedup_events"),
        (bounded.stream_user_running_totals, "stream_user_running_totals"),
        (bounded.stream_interval_join, "stream_interval_join"),
        (bounded.stream_session_window, "stream_session_window"),
    ],
)
def test_bounded_streams_cross_micro_batches(spark, sf_dir, fn, entry):
    fn(spark, sf_dir).collect()
    assert bounded.LAST_NUM_BATCHES[entry] >= bounded._N_SOURCE_FILES


def test_stream_cdc_upsert_crosses_micro_batches(spark, sf_dir):
    """stream_cdc_upsert records its batch count only on a cache-miss
    rebuild (the upsert table is mtime-stamped per sf_dir) — remove the
    stamp to force a real streaming run and pin >=4 micro-batches."""
    import os

    from minispark_spark.sources.sidecache import side_dir

    stamp = side_dir("/tmp/minispark_streamcdc", sf_dir, "table") + ".stamp"
    if os.path.exists(stamp):
        os.remove(stamp)
    bounded.stream_cdc_upsert(spark, sf_dir).collect()
    assert bounded.LAST_NUM_BATCHES["stream_cdc_upsert"] >= bounded._N_SOURCE_FILES


def test_dedup_stream_removed_injected_duplicates(spark, sf_dir):
    """The dup-injected source has ~10% extra rows; the drained dedup
    output must be back to exactly one row per event_id."""
    out = bounded.stream_dedup_events(spark, sf_dir)
    src = spark.read.parquet(
        bounded._events_stream_src(spark, sf_dir, "events_dup4", dup=True)
    )
    n_out = out.count()
    assert src.count() > n_out  # duplicates were really present
    assert out.select("event_id").distinct().count() == n_out


def test_stream_arrow_sink_crosses_micro_batches(spark, sf_dir):
    """stream_arrow_sink records its batch count only on a cache-miss
    rebuild (mtime-stamped sink) — remove the stamp to force a real
    streaming run and pin >=4 micro-batches through the arrowipc sink."""
    import os

    from minispark_spark.sources.sidecache import side_dir

    stamp = side_dir("/tmp/minispark_streamarrow", sf_dir, "events.arrow") + ".stamp"
    if os.path.exists(stamp):
        os.remove(stamp)
    bounded.stream_arrow_sink(spark, sf_dir).collect()
    assert bounded.LAST_NUM_BATCHES["stream_arrow_sink"] >= bounded._N_SOURCE_FILES


def test_stream_late_data_discard_drops_and_crosses_batches(spark, sf_dir):
    """The late entry must really stream 4 micro-batches (3 data files
    + empty heartbeat) AND really discard: the drained append output
    must contain NO window from the late middle third of the span, and
    fewer total rows than the same aggregation over the full table."""
    from pyspark.sql import functions as F

    from minispark_spark.sources.tables import load_table

    out = bounded.stream_late_data_discard(spark, sf_dir)
    assert bounded.LAST_NUM_BATCHES["stream_late_data_discard"] >= 4
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(f"unix_micros(ts) div {bounded._HOUR_US}")
    b = ev.agg(F.min(h).alias("hmin"), F.max(h).alias("hmax")).collect()[0]
    third = (b["hmax"] - b["hmin"] + 1) // 3
    b1, b2 = b["hmin"] + third, b["hmin"] + 2 * third
    wh = F.expr(f"unix_micros(window_start) div {bounded._HOUR_US}")
    n_late = out.filter((wh >= b1) & (wh < b2)).count()
    assert n_late == 0  # every late-chunk window was discarded
    n_full = ev.groupBy(F.window("ts", "1 hour")).count().count()
    assert 0 < out.count() < n_full


def test_stream_left_outer_join_nulls_and_discard(spark, sf_dir):
    """The outer-join entry must cross >= 4 micro-batches, emit real
    NULL rows (watermark-closed unmatched clicks), and emit NO row —
    matched or null — for any late middle-third click."""
    from pyspark.sql import functions as F

    from minispark_spark.sources.tables import load_table

    out = bounded.stream_left_outer_join(spark, sf_dir).cache()
    assert bounded.LAST_NUM_BATCHES["stream_left_outer_join"] >= 4
    assert out.filter(F.col("purchase_id").isNull()).count() > 0
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(f"unix_micros(ts) div {bounded._HOUR_US}")
    b = ev.agg(F.min(h).alias("hmin"), F.max(h).alias("hmax")).collect()[0]
    third = (b["hmax"] - b["hmin"] + 1) // 3
    b1, b2 = b["hmin"] + third, b["hmin"] + 2 * third
    late_clicks = ev.filter(
        (F.col("event_type") == "click") & (h >= b1) & (h < b2)
    ).select(F.col("event_id").alias("click_id"))
    assert late_clicks.count() > 0  # the late chunk really has clicks
    assert out.join(late_clicks, "click_id", "inner").count() == 0
    out.unpersist()


def test_stream_state_timeout_sessions_expires_and_holds(spark, sf_dir):
    """The timeout entry must cross >= 4 micro-batches, emit ONLY
    watermark-closed users (open-tail users held in state, absent),
    and count no late middle-third rows."""
    from pyspark.sql import functions as F

    from minispark_spark.sources.tables import load_table

    out = bounded.stream_state_timeout_sessions(spark, sf_dir).cache()
    assert bounded.LAST_NUM_BATCHES["stream_state_timeout_sessions"] >= 4
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    n_emitted = out.count()
    assert 0 < n_emitted < n_users  # someone expired AND someone held
    # the user owning the global max event time can never have expired
    last_user = ev.orderBy(F.col("ts").desc()).select("user_id").first()["user_id"]
    assert out.filter(F.col("user_id") == last_user).count() == 0
    out.unpersist()


def test_read_stream_empty_source_names_directory(spark, tmp_path):
    with pytest.raises(ValueError, match=str(tmp_path)):
        bounded._read_stream(spark, str(tmp_path))


class _CountingReads:
    """A session proxy that counts batch-reader uses (schema probes)."""

    def __init__(self, spark):
        self._spark = spark
        self.probes = 0

    def __getattr__(self, name):
        return getattr(self._spark, name)

    @property
    def read(self):
        self.probes += 1
        return self._spark.read


def test_read_stream_schema_memo_follows_file_set(spark, tmp_path):
    """The schema memo is keyed by the (file name, mtime_ns) set: a hit
    pays no probe, while an added file (older than the newest one, so
    the newest mtime does not move) or a rewrite within the same second
    probes again."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path)
    a = os.path.join(src, "part-0.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), a)
    s = _CountingReads(spark)
    assert bounded._read_stream(s, src).schema.names == ["x"]
    bounded._read_stream(s, src)
    assert s.probes == 1

    mtime_ns = os.stat(a).st_mtime_ns
    pq.write_table(pa.table({"y": [1.5]}), a)
    os.utime(a, ns=(mtime_ns, mtime_ns + 1))
    assert bounded._read_stream(s, src).schema.names == ["y"]
    assert s.probes == 2

    b = os.path.join(src, "part-1.parquet")
    pq.write_table(pa.table({"y": [2.5]}), b)
    os.utime(b, ns=(mtime_ns - 10**9, mtime_ns - 10**9))
    bounded._read_stream(s, src)
    assert s.probes == 3


def test_dedup_restart_recovers_state_and_keeps_checksums(spark, sf_dir, tmp_path):
    """Two availableNow runs on one checkpoint, two source files each:
    the second run continues the batch ids, its dedup state survived the
    restart (the collected output equals batch dropDuplicates), and the
    checkpoint kept its corruption checks: every file has its
    ChecksumFileSystem ``.crc`` sibling, and every state delta its
    state-store file checksum."""
    import os
    import shutil

    cache = bounded._events_stream_src(spark, sf_dir, "events_dup4", dup=True)
    parts = sorted(f for f in os.listdir(cache) if f.endswith(".parquet"))
    assert len(parts) == bounded._N_SOURCE_FILES
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    batch_ids: list[list[int]] = [[], []]
    rows: list[tuple] = []

    # Copies made in one go can share an mtime, so the file order and
    # with it the final watermark vary; a no-data batch would then take
    # a batch id in some runs. Data batches alone keep the ids fixed.
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved = spark.conf.get(no_data)
    spark.conf.set(no_data, "false")
    try:
        for run, chunk in enumerate((parts[:2], parts[2:])):
            for name in chunk:
                shutil.copy(os.path.join(cache, name), src / name)

            def sink(batch_df, batch_id, run=run):
                batch_ids[run].append(batch_id)
                rows.extend(tuple(r) for r in batch_df.collect())

            q = (
                bounded.dedup_gate_plan(bounded._read_stream(spark, str(src)), streaming=True)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set(no_data, saved)

    assert batch_ids == [[0, 1], [2, 3]]
    batch = bounded.dedup_gate_plan(spark.read.parquet(str(src)), streaming=False)
    assert sorted(rows) == sorted(tuple(r) for r in batch.collect())

    deltas = 0
    for sub in ("offsets", "commits", "sources", "state"):
        for dirpath, _, files in os.walk(ckpt / sub):
            for name in files:
                if not name.startswith("."):
                    assert f".{name}.crc" in files, os.path.join(dirpath, name)
                if name.endswith(".delta"):
                    assert f"{name}.crc" in files, os.path.join(dirpath, name)
                    deltas += 1
    assert deltas >= 4


def test_stream_source_parts_read_in_part_order(spark, sf_dir, tmp_path, monkeypatch):
    """A built stream source gives its part files strictly increasing
    mtimes in part-number order, so the oldest-first file stream reads
    every build of the same data in the same order: two fresh builds
    drain the dedup stream (no-data batches on, the default) with the
    same batch ids. Parts written together can share an mtime, and then
    whether a trailing no-data batch ran differed between builds."""
    import os

    runs = []
    for build in ("first", "second"):
        monkeypatch.setattr(
            bounded, "side_dir", lambda root, sf, leaf, b=build: str(tmp_path / b / leaf)
        )
        src = bounded._events_stream_src(spark, sf_dir, "events_dup4", dup=True)
        parts = sorted(f for f in os.listdir(src) if f.startswith("part-"))
        assert len(parts) == bounded._N_SOURCE_FILES
        mtimes = [os.stat(os.path.join(src, f)).st_mtime_ns for f in parts]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes

        batch_ids: list[int] = []

        def sink(batch_df, batch_id, batch_ids=batch_ids):
            batch_df.count()  # a sink must consume its batch
            batch_ids.append(batch_id)

        q = (
            bounded.dedup_gate_plan(bounded._read_stream(spark, src), streaming=True)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / build / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        runs.append(batch_ids)
    assert runs[0] == runs[1]
    assert len(runs[0]) >= bounded._N_SOURCE_FILES
