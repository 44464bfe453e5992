"""Structured Streaming layer: streaming plans must equal the batch plans on
identical input (plan-reuse property), with watermarks configured."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmgraft.contract import SPEC
from osmgraft.datagen import gen_pages
from osmgraft.datagen.spark_io import to_spark
from osmgraft.extract import extract_features
from osmgraft.geo.cells import with_cell
from osmgraft.rules.compiler import RuleSet
from osmgraft.rules.sqlgen import score_sql
from osmgraft.streaming import (
    read_pages_stream,
    streaming_scored_counts,
    streaming_tile_counts,
)
from osmgraft.streaming.pages_stream import run_available_now

SCORER = RuleSet.from_dict("stream_demo", [
    {"kind": "regex", "column": "text", "pattern": "(aerospace|engineering)",
     "weight": 60},
    {"kind": "expr", "pattern": "lang = 'en'", "weight": 20},
])


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_in")
    pdf = to_spark(spark, gen_pages(600), "pages")
    # several files => several stream micro-units
    pdf.repartition(4).write.mode("overwrite").parquet(str(d / "pages"))
    return str(d / "pages")


def test_streaming_tile_counts_equal_batch(spark, pages_dir, tmp_path):
    stream = read_pages_stream(spark, pages_dir, max_files=2)
    agg = streaming_tile_counts(stream, SPEC, res=5, window="6 hours")
    q = run_available_now(agg, "tiles_stream", str(tmp_path / "ck1"))
    assert q.awaitTermination(600)  # partial drains must fail loudly

    got = {
        (r.window_start, r.cell): r.n
        for r in spark.sql("SELECT * FROM tiles_stream").collect()
    }
    batch_pages = spark.read.parquet(pages_dir)
    feats = extract_features(batch_pages)
    cells = with_cell(feats.where(F.col("x").isNotNull()), "x", "y", SPEC, 5,
                      out="cell", keep_ixy=False)
    exp = {
        (r.ws, r.cell): r.n
        for r in cells.groupBy(
            F.window("warc_ts", "6 hours").start.alias("ws"), "cell"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_sliding_tile_counts_equal_batch(spark, pages_dir, tmp_path):
    """Sliding (hopping) windows must match the batch twin row-for-row: an
    event belongs to window/slide overlapping instances, and the stateful
    streaming aggregation over micro-batches equals one batch pass."""
    stream = read_pages_stream(spark, pages_dir, max_files=2)
    agg = streaming_tile_counts(
        stream, SPEC, res=5, window="6 hours", slide="3 hours"
    )
    q = run_available_now(agg, "tiles_slide_stream", str(tmp_path / "ck_sl"))
    assert q.awaitTermination(600)  # partial drains must fail loudly

    got = {
        (r.window_start, r.cell): r.n
        for r in spark.sql("SELECT * FROM tiles_slide_stream").collect()
    }
    batch_pages = spark.read.parquet(pages_dir)
    feats = extract_features(batch_pages)
    cells = with_cell(feats.where(F.col("x").isNotNull()), "x", "y", SPEC, 5,
                      out="cell", keep_ixy=False)
    exp = {
        (r.ws, r.cell): r.n
        for r in cells.groupBy(
            F.window("warc_ts", "6 hours", "3 hours").start.alias("ws"), "cell"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == exp and len(got) > len(set(k[1] for k in got))  # overlap real


def test_streaming_scored_counts(spark, pages_dir, tmp_path):
    stream = read_pages_stream(spark, pages_dir)
    agg = streaming_scored_counts(stream, SCORER, threshold=60, window="12 hours")
    q = run_available_now(agg, "scored_stream", str(tmp_path / "ck2"))
    assert q.awaitTermination(600)  # partial drains must fail loudly
    rows = spark.sql("SELECT * FROM scored_stream").collect()
    total_stream = sum(r.n_candidates for r in rows)

    batch = extract_features(spark.read.parquet(pages_dir)).withColumn(
        "score", F.expr(score_sql(SCORER, dialect="spark"))
    )
    assert total_stream == batch.where("score >= 60").count()
    assert total_stream > 0


def test_streaming_hex_tile_counts_equal_batch(spark, pages_dir, tmp_path):
    from osmgraft.geo.hexgrid import hex_cell_sql
    from osmgraft.streaming import streaming_hex_tile_counts

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    agg = streaming_hex_tile_counts(stream, res=7, window="6 hours")
    q = run_available_now(agg, "hex_stream", str(tmp_path / "ck_hex"))
    assert q.awaitTermination(600)  # partial drains must fail loudly

    got = {
        (r.window_start, r.hex_cell): r.n
        for r in spark.sql("SELECT * FROM hex_stream").collect()
    }
    feats = extract_features(spark.read.parquet(pages_dir))
    cells = feats.where(F.col("x").isNotNull()).withColumn(
        "hex_cell", F.expr(hex_cell_sql("x", "y", 7))
    )
    exp = {
        (r.ws, r.hex_cell): r.n
        for r in cells.groupBy(
            F.window("warc_ts", "6 hours").start.alias("ws"), "hex_cell"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == exp and len(got) > 0


def test_stateful_sessionize_stream_equals_batch(spark, tmp_path):
    """Round-2 custom stateful operator (applyInPandasWithState +
    EventTimeTimeout): streamed sessions must equal the batch twin.
    A far-future sentinel user in the last file advances the watermark
    past every real session's last_ts + gap, so all real sessions close
    via timeout before the availableNow drain finishes."""
    import datetime as dt

    from osmgraft.streaming.sessionize import sessionize_batch, sessionize_stream

    gap_s = 600
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(6):
        ts = base + dt.timedelta(minutes=user * 7)
        for s in range(3):  # 3 sessions per user
            for k in range(4):  # 4 events per session, 2-min spacing
                rows.append((eid, ts, user))
                eid += 1
                ts += dt.timedelta(minutes=2)
            ts += dt.timedelta(seconds=gap_s + 61)  # close the session
    schema = "event_id long, ts timestamp, user_id long"
    d = tmp_path / "sess_in"
    # files are ordered in event time: earlier events in file 0, later in 1,
    # sentinel last — the file source picks them up oldest-first
    all_df = spark.createDataFrame(rows, schema)
    split_ts = base + dt.timedelta(minutes=30)
    all_df.where(F.col("ts") < split_ts).coalesce(1).write.parquet(str(d / "f0"))
    all_df.where(F.col("ts") >= split_ts).coalesce(1).write.parquet(str(d / "f1"))
    sentinel = spark.createDataFrame(
        [(999999, base + dt.timedelta(days=30), 999)], schema
    )
    sentinel.coalesce(1).write.parquet(str(d / "f2"))
    # one flat dir for the file source
    import shutil

    src = tmp_path / "sess_src"
    src.mkdir()
    i = 0
    import os
    import time as _time

    now = _time.time()
    for sub in ["f0", "f1", "f2"]:
        for f in sorted((d / sub).glob("*.parquet")):
            dst = src / f"{i:03d}.parquet"
            shutil.copy(f, dst)
            # the file source orders micro-batches by mtime; make the
            # intended order unambiguous (copies can tie at ms granularity)
            os.utime(dst, (now + i * 10, now + i * 10))
            i += 1

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sess = sessionize_stream(stream, gap_s=gap_s, watermark="0 seconds")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)  # partial drains must fail loudly
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_batch(
            spark.createDataFrame(rows, schema), gap_s
        ).collect()
    }
    assert exp  # 18 sessions
    assert got == exp


def test_sessionize_drops_late_data_past_watermark(spark, tmp_path):
    """Watermark discipline: once the event-time watermark has advanced
    past an event's timestamp, a late-arriving event must NOT create or
    extend state — the final sessions equal the batch twin over the
    on-time rows only."""
    import datetime as dt
    import os as _os
    import time as _time

    from osmgraft.streaming.sessionize import sessionize_batch, sessionize_stream

    gap_s = 600
    base = dt.datetime(2024, 3, 1)
    schema = "event_id long, ts timestamp, user_id long"
    on_time = [(i, base + dt.timedelta(minutes=2 * i), 1) for i in range(4)]
    sentinel = [(100, base + dt.timedelta(days=30), 999)]
    late = [(200, base + dt.timedelta(minutes=1), 1)]  # behind the watermark

    src = tmp_path / "late_src"
    src.mkdir()
    now = _time.time()
    for i, rows in enumerate([on_time, sentinel, late]):
        f = src / f"{i:03d}.parquet"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(f) + "_d")
        import shutil

        part = next((tmp_path / f"late_src/{i:03d}.parquet_d").glob("*.parquet"))
        shutil.copy(part, f)
        _os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_s=gap_s, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)  # partial drains must fail loudly
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM late_sessions").collect()
        if r.user_id == 1
    }
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_batch(
            spark.createDataFrame(on_time, schema), gap_s
        ).collect()
    }
    assert got == exp  # the late event neither extended nor created a session


def test_sessionize_checkpoint_restart_preserves_state(spark, tmp_path):
    """Ops-critical stateful recovery: drain half the files with
    availableNow, STOP, drop more files, restart from the SAME checkpoint
    — open-session state must survive the restart and the final sessions
    equal the batch twin (no session split at the restart boundary)."""
    import datetime as dt
    import os as _os
    import shutil
    import time as _time

    from osmgraft.streaming.sessionize import sessionize_batch, sessionize_stream

    gap_s = 600
    base = dt.datetime(2024, 5, 1)
    schema = "event_id long, ts timestamp, user_id long"
    # one user, one LONG session spanning the restart, then a second session
    s1 = [(i, base + dt.timedelta(minutes=2 * i), 7) for i in range(8)]
    s2 = [(100 + i, base + dt.timedelta(minutes=16 + 11 + 2 * i), 7) for i in range(3)]
    sentinel = [(999, base + dt.timedelta(days=30), 999)]
    all_rows = s1 + s2

    src = tmp_path / "ck_restart_src"
    src.mkdir()
    now = _time.time()

    def drop(idx, rows):
        tmpd = tmp_path / f"w{idx}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmpd))
        part = next(tmpd.glob("*.parquet"))
        dst = src / f"{idx:03d}.parquet"
        shutil.copy(part, dst)
        _os.utime(dst, (now + idx * 10, now + idx * 10))

    def run_drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            sessionize_stream(stream, gap_s=gap_s, watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sess_out"))
            .option("checkpointLocation", str(tmp_path / "ck_restart"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)  # partial drains must fail loudly

    drop(0, s1[:4])       # first half of session 1
    run_drain()           # drains, stops — session 1 still OPEN in state
    drop(1, s1[4:])       # rest of session 1
    drop(2, s2)           # second session
    drop(3, sentinel)     # advances watermark → closes everything
    run_drain()           # RESTART from checkpoint

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(str(tmp_path / "sess_out")).collect()
        if r.user_id == 7
    }
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_batch(spark.createDataFrame(all_rows, schema), gap_s).collect()
    }
    assert len(exp) == 2  # the long session + the later one
    assert got == exp     # no split at the restart boundary


def test_sessionize_out_of_order_within_watermark(spark, tmp_path):
    """Review finding (round-2): an older-but-not-late event arriving in a
    later micro-batch (inside the watermark delay) must fold in event-time
    order — sessions must equal the batch twin, never emit end < start,
    and never split at the disorder point."""
    import datetime as dt
    import os as _os
    import shutil
    import time as _time

    from osmgraft.streaming.sessionize import sessionize_batch, sessionize_stream

    gap_s = 1800
    base = dt.datetime(2024, 6, 1, 10, 0)
    schema = "event_id long, ts timestamp, user_id long"
    b1 = [(1, base, 5), (2, base + dt.timedelta(minutes=10), 5)]
    # out-of-order: 09:50 arrives AFTER 10:10 but within the 30-min delay
    b2 = [(3, base - dt.timedelta(minutes=10), 5),
          (4, base + dt.timedelta(minutes=35), 5)]
    sentinel = [(9, base + dt.timedelta(days=30), 999)]
    all_rows = b1 + b2

    src = tmp_path / "ooo_src"
    src.mkdir()
    now = _time.time()
    for idx, rows in enumerate([b1, b2, sentinel]):
        tmpd = tmp_path / f"ooo_w{idx}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmpd))
        dst = src / f"{idx:03d}.parquet"
        shutil.copy(next(tmpd.glob("*.parquet")), dst)
        _os.utime(dst, (now + idx * 10, now + idx * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_s=gap_s, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("ooo_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ooo"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)  # partial drains must fail loudly
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM ooo_sessions").collect()
        if r.user_id == 5
    }
    for _, s, e, _n in got:
        assert s <= e  # no inverted sessions
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_batch(spark.createDataFrame(all_rows, schema), gap_s).collect()
    }
    assert exp == {(5, b2[0][1], b2[1][1], 4)}  # one session 09:50→10:35
    assert got == exp


def test_streaming_dedup_within_watermark(spark, pages_dir, tmp_path):
    """dropDuplicatesWithinWatermark: re-delivered urls inside the horizon
    are suppressed — the streamed distinct-url count equals the batch
    distinct count on doubled input."""
    from osmgraft.streaming.pages_stream import streaming_dedup_pages

    import shutil

    dup_dir = tmp_path / "dup_pages"
    dup_dir.mkdir()
    i = 0
    for f in sorted(__import__("pathlib").Path(pages_dir).glob("*.parquet")):
        for _ in range(2):  # every file delivered twice
            shutil.copy(f, dup_dir / f"{i:03d}.parquet")
            i += 1
    stream = read_pages_stream(spark, str(dup_dir), max_files=3)
    # watermark must cover the fixture's FULL event-time span: gen_pages
    # draws warc_ts over 600 days and micro-batch file order is not
    # time-ordered (mtime ties break arbitrarily), so a later batch can
    # carry the oldest events; any horizon < 600 days drops them as late
    # depending on ordering (400 days lost 48 urls on one tie-break)
    q = (
        streaming_dedup_pages(stream, watermark="1000 days")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dd"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)  # partial drains must fail loudly
    n_stream = spark.sql("SELECT COUNT(DISTINCT url) c FROM dedup_stream").head()["c"]
    n_rows = spark.sql("SELECT COUNT(*) c FROM dedup_stream").head()["c"]
    n_batch = spark.read.parquet(pages_dir).select("url").distinct().count()
    assert n_stream == n_batch
    assert n_rows == n_batch  # exact suppression, not just distinct-at-read


def test_incremental_tile_counts_match_batch(spark, pages_dir, tmp_path):
    """foreachBatch merge-add rollup: the accumulated tile table equals
    the one-shot batch rollup over the same input."""
    from osmgraft.extract import extract_features
    from osmgraft.geo.cells import with_cell
    from osmgraft.streaming.pages_stream import incremental_tile_counts

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    out = str(tmp_path / "tiles_inc")
    q = incremental_tile_counts(
        stream, SPEC, 5, out, str(tmp_path / "ck_inc")
    )
    assert q.awaitTermination(600)  # partial drains must fail loudly
    from osmgraft.streaming.pages_stream import read_tile_totals

    got = {(r.cell): r.n for r in read_tile_totals(spark, out).collect()}
    feats = extract_features(spark.read.parquet(pages_dir))
    cells = with_cell(feats.where(F.col("x").isNotNull()), "x", "y", SPEC, 5,
                      out="cell", keep_ixy=False)
    exp = {
        (r.cell): r.n
        for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    assert got == exp and len(got) > 0


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join (click->purchase pairs) must emit exactly
    the batch twin's pairs when the stream is split into time-ordered
    micro-batches whose gap stays inside the watermark+lag retention."""
    from osmgraft.streaming.joins import interval_join_batch, interval_join_stream
    from tests.conftest import SF_SMOKE

    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id",
        "user_id",
        # watermarks require TIMESTAMP (tz-aware); the fixture is NTZ
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    mid = batch.select(
        F.expr("percentile(unix_timestamp(ts), 0.5)").alias("m")
    ).collect()[0]["m"]
    mid = F.timestamp_seconds(F.lit(mid))
    src = tmp_path / "ev_src"
    src.mkdir()
    for i, part in enumerate(
        (batch.where(F.col("ts") <= mid), batch.where(F.col("ts") > mid))
    ):
        tmpd = tmp_path / f"chunk{i}"
        part.coalesce(1).write.parquet(str(tmpd))
        import shutil

        shutil.copy(next(tmpd.glob("*.parquet")), src / f"{i:03d}.parquet")

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = interval_join_stream(stream, lag="24 hours", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("ivj_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ivj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)  # partial drains must fail loudly
    got = sorted(map(tuple, spark.sql("SELECT * FROM ivj_pairs").collect()))
    want = sorted(map(tuple, interval_join_batch(batch, "24 hours").collect()))
    assert len(want) > 0  # the fixture must actually produce pairs
    assert got == want


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    """Stream-static broadcast enrichment: the streaming result must equal
    running the same function on the batch frame (no state store, no
    watermark needed), and the micro-batch plan must broadcast the dim."""
    from osmgraft.streaming.joins import enrich_with_static
    from tests.conftest import SF_SMOKE

    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 5.0)],
        "event_type string, type_weight double",
    )
    src = tmp_path / "ess_src"
    src.mkdir()
    import shutil

    tmpd = tmp_path / "chunk"
    batch.coalesce(2).write.parquet(str(tmpd))
    for i, f in enumerate(sorted(tmpd.glob("*.parquet"))):
        shutil.copy(f, src / f"{i:03d}.parquet")

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = enrich_with_static(stream, dim)
    q = (
        out.writeStream.format("memory")
        .queryName("ess_rows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ess_rows").collect()))
    want = sorted(map(tuple, enrich_with_static(batch, dim).collect()))
    assert len(want) > 0
    assert got == want
    # 'error' events have no dim row -> weight coalesces to 0, never dropped
    assert any(r[4] == 0.0 for r in got)
    # the join must plan as a broadcast of the static side
    plan = enrich_with_static(batch, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
