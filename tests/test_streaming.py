"""Structured-Streaming tests: availableNow micro-batch upsert through
foreachBatch (T1/T2) and watermarked tumbling windows (T4/T5)."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_engineer_project_weather_analytics_spark.operators.upsert import UpsertTable
from data_engineer_project_weather_analytics_spark.streaming.pipeline import (
    file_stream,
    stream_upsert,
    windowed_aggregate,
)

SCHEMA = StructType(
    [
        StructField("city_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("temp", DoubleType()),
    ]
)


def _write_batch(spark, path, data):
    spark.createDataFrame(
        [Row(city_id=c, ts=datetime.datetime(2025, 12, 1, h, m), temp=t) for c, h, m, t in data],
        schema=SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)


def _run_stream(spark, src, table, ckpt):
    q = stream_upsert(
        file_stream(spark, src, SCHEMA), table, checkpoint_dir=ckpt, available_now=True
    )
    q.awaitTermination(120)


def test_stream_upsert_available_now(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = UpsertTable(spark, str(tmp_path / "table"), keys=["city_id", "ts"])

    _write_batch(spark, src, [(1, 0, 0, 20.0), (2, 0, 0, 21.0)])
    _run_stream(spark, src, table, ckpt)
    assert {(r.city_id, r.temp) for r in table.read_latest().collect()} == {
        (1, 20.0),
        (2, 21.0),
    }

    # second micro-batch re-delivers city 1 at the same ts → LWW update
    _write_batch(spark, src, [(1, 0, 0, 25.0), (3, 1, 0, 19.0)])
    _run_stream(spark, src, table, ckpt)
    got = {(r.city_id, r.temp) for r in table.read_latest().collect()}
    assert got == {(1, 25.0), (2, 21.0), (3, 19.0)}


def test_stream_upsert_processing_time_live_cadence(spark, tmp_path):
    """The live-deployment trigger (reference cadence: hourly cron →
    processingTime micro-batches): the query stays up across interval
    firings and picks up files arriving BETWEEN batches."""
    import time

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = UpsertTable(spark, str(tmp_path / "table"), keys=["city_id", "ts"])

    _write_batch(spark, src, [(1, 0, 0, 20.0)])
    q = stream_upsert(
        file_stream(spark, src, SCHEMA),
        table,
        checkpoint_dir=ckpt,
        available_now=False,
        processing_time="1 second",
    )
    try:

        def _wait_for(pred, timeout=60.0):
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                try:
                    if pred():
                        return True
                except FileNotFoundError:
                    pass  # no generation committed yet
                time.sleep(0.5)
            return False

        assert _wait_for(
            lambda: {r.city_id for r in table.read_latest().collect()} == {1}
        ), "first interval batch never landed"
        # a file arriving while the query is live must be picked up by
        # a LATER interval firing — the property availableNow lacks
        _write_batch(spark, src, [(1, 0, 0, 25.0), (2, 1, 0, 19.0)])
        assert _wait_for(
            lambda: {(r.city_id, r.temp) for r in table.read_latest().collect()}
            == {(1, 25.0), (2, 19.0)}
        ), "mid-stream file never landed"
        assert q.isActive  # processingTime keeps the query up
        # ≥ 2 interval firings actually processed data (not one big drain)
        progressed = [
            p for p in (q.recentProgress or []) if p["numInputRows"] > 0
        ]
        assert len(progressed) >= 2, "expected multiple non-empty micro-batches"
    finally:
        q.stop()
        q.awaitTermination(60)

    # stream ≡ batch under the timed trigger: the same files applied
    # through the BATCH path (one stamped append per micro-batch, same
    # LWW view) land the identical canonical state
    from data_engineer_project_weather_analytics_spark.operators.upsert import (
        latest_write_wins,
        stamp_batch,
    )

    b0 = spark.createDataFrame(
        [Row(city_id=1, ts=datetime.datetime(2025, 12, 1, 0, 0), temp=20.0)],
        schema=SCHEMA,
    )
    b1 = spark.createDataFrame(
        [
            Row(city_id=1, ts=datetime.datetime(2025, 12, 1, 0, 0), temp=25.0),
            Row(city_id=2, ts=datetime.datetime(2025, 12, 1, 1, 0), temp=19.0),
        ],
        schema=SCHEMA,
    )
    batch_view = latest_write_wins(
        stamp_batch(b0, 0).unionByName(stamp_batch(b1, 1)), keys=["city_id", "ts"]
    )
    assert {(r.city_id, r.ts, r.temp) for r in table.read_latest().collect()} == {
        (r.city_id, r.ts, r.temp) for r in batch_view.collect()
    }


def test_windowed_aggregate_with_watermark(spark, tmp_path):
    src = str(tmp_path / "wsrc")
    _write_batch(
        spark,
        src,
        [(1, 0, 10, 10.0), (1, 0, 50, 20.0), (2, 1, 5, 30.0), (1, 2, 0, 40.0)],
    )
    stream = file_stream(spark, src, SCHEMA)
    agg = windowed_aggregate(stream, "ts", "1 hour", "3 hours", value_col="temp")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r.bucket): (r.n, r.avg_value) for r in spark.sql("SELECT * FROM win_agg").collect()}
    assert rows == {
        "2025-12-01 00:00:00": (2, 15.0),
        "2025-12-01 01:00:00": (1, 30.0),
        "2025-12-01 02:00:00": (1, 40.0),
    }


def test_stateful_latest_tracker(spark, tmp_path):
    from data_engineer_project_weather_analytics_spark.streaming.stateful import latest_tracker

    src = str(tmp_path / "statesrc")
    ckpt = str(tmp_path / "stateckpt")
    out = str(tmp_path / "stateout")

    def run_batch():
        stream = file_stream(spark, src, SCHEMA)
        tracked = latest_tracker(stream, key_col="city_id", ts_col="ts", value_col="temp")

        # memory sink can't recover from a checkpoint; foreachBatch can
        def _sink(batch, batch_id):
            if not batch.isEmpty():
                batch.write.mode("append").parquet(out)

        q = (
            tracked.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two cities
    _write_batch(spark, src, [(1, 0, 0, 20.0), (1, 1, 0, 22.0), (2, 0, 30, 18.0)])
    run_batch()
    rows = {r.key: (str(r.latest_ts), r.latest_value, r.n_updates)
            for r in spark.read.parquet(out).collect()}
    assert rows[1] == ("2025-12-01 01:00:00", 22.0, 2)
    assert rows[2] == ("2025-12-01 00:30:00", 18.0, 1)

    # batch 2: late (older) row for city 1 must NOT displace the latest,
    # but must bump the update count — state carried across micro-batches
    _write_batch(spark, src, [(1, 0, 45, 21.0)])
    run_batch()
    latest = {r.key: (str(r.latest_ts), r.latest_value, r.n_updates)
              for r in spark.read.parquet(out).collect()
              if r.n_updates == 3}
    assert latest[1] == ("2025-12-01 01:00:00", 22.0, 3)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-delivered key inside the
    horizon is emitted once; keys are distinct across micro-batches
    of the same run too."""
    from data_engineer_project_weather_analytics_spark.streaming.pipeline import dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        spark,
        src,
        [(1, 0, 0, 20.0), (1, 0, 0, 20.0), (2, 0, 5, 21.0), (2, 0, 5, 99.0)],
    )
    deduped = dedup_stream(
        file_stream(spark, src, SCHEMA), ["city_id", "ts"], "ts"
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    keys = [(r.city_id, r.ts) for r in rows]
    assert len(keys) == len(set(keys)) == 2  # one survivor per key


def test_stream_sliding_window_matches_batch(spark, tmp_path):
    """Sliding-window streaming agg over availableNow equals the batch
    F.window result on the same data (each event in 2 windows)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    data = [(1, 0, 10, 20.0), (1, 0, 40, 22.0), (2, 1, 5, 30.0)]
    _write_batch(spark, src, data)
    agg = windowed_aggregate(
        file_stream(spark, src, SCHEMA),
        "ts",
        window_duration="1 hour",
        slide_duration="30 minutes",
        watermark_delay="0 seconds",
        value_col="temp",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_out")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.bucket, r.n) for r in spark.sql("SELECT * FROM slide_out").collect()
    }
    from pyspark.sql import functions as F

    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "n")
    )
    want = {(r.bucket, r.n) for r in batch.collect()}
    assert got == want
    # every event lands in exactly window/slide = 2 windows
    assert sum(n for _, n in got) == 2 * len(data)


def test_stream_session_window_emission_governed_by_watermark(spark, tmp_path):
    """Streaming session windows (append mode): a session is emitted
    only once the watermark passes its end.  Two micro-batches
    (maxFilesPerTrigger=1): after batch 1 the watermark reaches batch
    1's max event time, so batch 2 flushes exactly the sessions that
    closed before it — the session still open at the horizon stays in
    state unemitted."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out_ckpt = str(tmp_path / "ckpt")
    # batch 1: city 1 session A (10:00,10:10), session B (12:00);
    #          city 2 session C (10:05)
    _write_batch(spark, src, [(1, 10, 0, 20.0), (1, 10, 10, 21.0),
                              (1, 12, 0, 25.0), (2, 10, 5, 30.0)])
    # batch 2: late flush event advancing nothing new for cities 1/2
    _write_batch(spark, src, [(99, 23, 0, 1.0)])

    stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("city_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("city_id", F.col("sw.start").alias("session_start"), "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", out_ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.city_id, r.session_start.hour, r.session_start.minute, r.n_events)
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    # after the last batch the watermark reaches 23:00: sessions A, B
    # and C have all closed and are emitted; the flush event's own
    # session (ends 23:30, beyond the final watermark) stays in state
    # and is NOT emitted — append-mode emission is watermark-governed
    assert got == {(1, 10, 0, 2), (1, 12, 0, 1), (2, 10, 5, 1)}


def test_stream_static_dim_join(spark, tmp_path):
    """Stream-static broadcast join: the canonical streaming dimension
    enrichment — the static side is re-resolved per micro-batch, no
    state, no watermark needed."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, [(1, 10, 0, 20.0), (2, 10, 5, 30.0), (7, 11, 0, 9.0)])
    dim = spark.createDataFrame(
        [(1, "Hanoi"), (2, "Hue")], "city_id long, city_name string"
    )
    enriched = file_stream(spark, src, SCHEMA).join(F.broadcast(dim), "city_id")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.city_id, r.city_name, r.temp)
        for r in spark.sql("SELECT * FROM enriched_out").collect()
    }
    # inner join: the city with no dimension row (7) is dropped
    assert got == {(1, "Hanoi", 20.0), (2, "Hue", 30.0)}


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream inner join (impression→click
    attribution) over availableNow equals the identical batch join —
    and respects the (0, 10 min] event-time lag bound."""
    import datetime as dt

    from pyspark.sql.types import StructField, StructType

    from data_engineer_project_weather_analytics_spark.streaming.pipeline import stream_stream_join

    imp_schema = StructType(
        [
            StructField("ad_id", LongType()),
            StructField("imp_id", LongType()),
            StructField("imp_ts", TimestampType()),
        ]
    )
    clk_schema = StructType(
        [
            StructField("ad_id", LongType()),
            StructField("click_id", LongType()),
            StructField("click_ts", TimestampType()),
        ]
    )

    def t(h, m):
        return dt.datetime(2025, 12, 1, h, m)

    imps = [
        (1, 100, t(10, 0)),
        (1, 101, t(10, 30)),   # second impression for the same ad
        (2, 200, t(10, 0)),
        (3, 300, t(10, 0)),    # never clicked
    ]
    clicks = [
        (1, 900, t(10, 5)),    # matches imp 100 (lag 5 min)
        (1, 901, t(10, 35)),   # matches imp 101 only (100 is >10 min away)
        (2, 902, t(10, 0)),    # lag 0 — excluded (strict lower bound)
        (2, 903, t(10, 11)),   # lag 11 min — excluded
    ]

    imp_dir, clk_dir = str(tmp_path / "imps"), str(tmp_path / "clicks")
    spark.createDataFrame(
        [Row(ad_id=a, imp_id=i, imp_ts=ts) for a, i, ts in imps], imp_schema
    ).coalesce(1).write.mode("append").parquet(imp_dir)
    spark.createDataFrame(
        [Row(ad_id=a, click_id=c, click_ts=ts) for a, c, ts in clicks], clk_schema
    ).coalesce(1).write.mode("append").parquet(clk_dir)

    joined = stream_stream_join(
        file_stream(spark, imp_dir, imp_schema),
        file_stream(spark, clk_dir, clk_schema),
        left_on="ad_id",
        right_on="ad_id",
        left_ts="imp_ts",
        right_ts="click_ts",
        watermark_delay="30 minutes",
        max_lag="10 minutes",
    ).select("imp_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("attributed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.imp_id, r.click_id)
        for r in spark.sql("SELECT * FROM attributed").collect()
    }
    assert got == {(100, 900), (101, 901)}

    # batch twin over the same parquet: identical result
    batch = stream_stream_join(
        spark.read.schema(imp_schema).parquet(imp_dir),
        spark.read.schema(clk_schema).parquet(clk_dir),
        left_on="ad_id",
        right_on="ad_id",
        left_ts="imp_ts",
        right_ts="click_ts",
    ).select("imp_id", "click_id")
    assert {(r.imp_id, r.click_id) for r in batch.collect()} == got


def test_streaming_countmin_sketch_merges_by_addition(spark, tmp_path):
    """Sketch mergeability end-to-end in streaming: per-micro-batch
    count-min counters folded into a state table by ADDITION through
    foreachBatch must equal the sketch computed over the whole corpus
    in one batch — the property that lets 100 TB of history and a live
    stream share one 16 KB sketch."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from data_engineer_project_weather_analytics_spark.plans.lakeops import _CMS_DEPTH, _cms_bucket
    from data_engineer_project_weather_analytics_spark.streaming.pipeline import file_stream

    schema = StructType([StructField("w", StringType())])
    src = str(tmp_path / "src")
    state_path = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    words1 = ["the", "cat", "sat", "the", "mat", "the"]
    words2 = ["cat", "dog", "the", "dog", "run"]
    spark.createDataFrame([Row(w=w) for w in words1], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([Row(w=w) for w in words2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def sketch_of(df):
        tagged = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("row"),
                            _cms_bucket(F.col("w"), d).alias("bucket"),
                        )
                        for d in range(_CMS_DEPTH)
                    ]
                )
            ).alias("rb")
        )
        return (
            tagged.select("rb.row", "rb.bucket")
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def merge_batch(batch_df, _bid):
        delta = sketch_of(batch_df)
        if os.path.exists(state_path):
            prev = batch_df.sparkSession.read.parquet(state_path)
            merged = (
                prev.unionByName(delta)
                .groupBy("row", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = delta
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(state_path)

    q = (
        file_stream(spark, src, schema)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointDirectory", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r.row, r.bucket): r.cnt for r in spark.read.parquet(state_path).collect()
    }
    full = spark.createDataFrame([Row(w=w) for w in words1 + words2], schema)
    batch = {(r.row, r.bucket): r.cnt for r in sketch_of(full).collect()}
    assert streamed == batch


# ---------------------------------------------------------------------------
# Streaming content near-dup (stateful MinHash LSH)
# ---------------------------------------------------------------------------

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, schema=DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_with_minhash_bands_matches_batch_signatures(spark):
    """The per-row (stream-composable) signature construction must be
    bit-identical to the batch groupBy pipeline it mirrors
    (operators/dedup.minhash_signatures) — same md5 slicing, same
    min-over-distinct-shingles."""
    from data_engineer_project_weather_analytics_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
    )
    from data_engineer_project_weather_analytics_spark.streaming.stateful import with_minhash_bands

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "the quick brown fox jumps over the lazy dog again"),
            (4, "xy"),  # < shingle_n tokens → no signature
        ],
        schema=DOC_SCHEMA,
    )
    from pyspark.sql import functions as F

    per_row = {
        (r.doc_id, r.band, r.minhash)
        for r in with_minhash_bands(df, "doc_id", "text", n_bands=8)
        .select("doc_id", F.explode("bands").alias("b"))
        .select("doc_id", "b.band", "b.minhash")
        .collect()
    }
    batch = {
        (r.doc_id, r.band, r.minhash)
        for r in minhash_signatures(
            doc_shingles(df, "doc_id", "text"), "doc_id", n_bands=8
        ).collect()
    }
    assert per_row == batch
    assert not any(d == 4 for d, _, _ in per_row)  # short doc: no bands


def test_streaming_neardup_cross_batch_and_recovery(spark, tmp_path):
    """A near-dup arriving micro-batches later must pair with the
    original via bucket state; unrelated docs never pair; a re-delivery
    after a checkpoint RESTART emits nothing new (state recovers)."""
    import time

    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_neardup_candidates,
    )

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten"
    _write_docs(spark, src, [(1, text_a), (2, text_b)])
    time.sleep(1.1)  # distinct mtime → deterministic file order
    _write_docs(spark, src, [(3, text_a), (4, "cold warm hot cool mild bright dark dim")])

    def run():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # one file per micro-batch
            .parquet(src)
        )

        # memory sink can't recover from a checkpoint; foreachBatch can
        def _sink(batch, batch_id):
            if not batch.isEmpty():
                batch.write.mode("append").parquet(out)

        before = (
            {tuple(r) for r in spark.read.parquet(out).collect()}
            if __import__("os").path.exists(out)
            else set()
        )
        q = (
            streaming_neardup_candidates(stream, "doc_id", "text", n_bands=8)
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            r
            for r in spark.read.parquet(out).collect()
            if tuple(r) not in before
        ]

    rows = run()
    pairs = {(r.id_a, r.id_b) for r in rows}
    assert pairs == {(1, 3)}  # the planted dup, found across batches
    # identical text → every band collides
    assert len([r for r in rows if (r.id_a, r.id_b) == (1, 3)]) == 8

    # restart from the checkpoint with a re-delivery of doc 3 plus one
    # fresh near-dup of the same text: state survives the restart
    time.sleep(1.1)
    _write_docs(spark, src, [(3, text_a), (5, text_a)])
    rows2 = run()
    pairs2 = {(r.id_a, r.id_b) for r in rows2}
    # replayed member emits nothing; the fresh doc pairs with BOTH
    # earlier members of the bucket — including doc 1 from run 1
    assert pairs2 == {(1, 5), (3, 5)}


def test_streaming_neardup_bucket_saturation(spark, tmp_path):
    """A degenerate bucket (many identical docs) stops emitting and
    drops its id list once over max_bucket — the streaming form of the
    batch hot-bucket pre-cap."""
    import time

    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_neardup_candidates,
    )

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    boiler = "terms of service apply to all users of this site always"
    _write_docs(spark, src, [(i, boiler) for i in range(1, 11)])
    time.sleep(1.1)
    _write_docs(spark, src, [(11, boiler), (12, boiler)])

    def run(name):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_neardup_candidates(
                stream, "doc_id", "text", n_bands=4, max_bucket=3
            )
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {name}").collect()

    rows = run("nd_sat")
    # ids processed in sorted order: pairs for 2nd/3rd/4th member
    # (1+2+3 = 6 per band), then saturation — batch 2 adds nothing
    by_band = {}
    for r in rows:
        by_band.setdefault(r.band, set()).add((r.id_a, r.id_b))
    assert set(by_band) == {0, 1, 2, 3}
    for band_pairs in by_band.values():
        assert len(band_pairs) == 6
        assert max(b for _, b in band_pairs) == 4  # nothing past the cap


def test_streaming_neardup_equals_batch_candidates(spark, tmp_path):
    """Stream ≡ batch for the near-dup candidate set: the whole corpus
    fed through the streaming operator (across two micro-batches) must
    emit exactly the pairs the batch LSH pipeline
    (doc_shingles → minhash_signatures → lsh_candidate_pairs) produces
    on the same documents — the construction-parity guarantee that
    makes the streaming operator a drop-in for incremental runs of
    x2b."""
    import time

    from data_engineer_project_weather_analytics_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_neardup_candidates,
    )
    from .conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    rows = [(r.doc_id, r.text) for r in docs.collect()]

    # batch truth on the same 120 docs
    sigs = minhash_signatures(
        doc_shingles(docs, "doc_id", "text"), "doc_id", n_bands=8
    )
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", max_bucket=None).collect()
    }

    # stream the corpus in two micro-batches
    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, rows[:60])
    time.sleep(1.1)
    _write_docs(spark, src, rows[60:])
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_neardup_candidates(
            stream, "doc_id", "text", n_bands=8, max_bucket=10_000
        )
        .writeStream.format("memory")
        .queryName("nd_eq")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_pairs = {
        (r.id_a, r.id_b) for r in spark.sql("SELECT * FROM nd_eq").collect()
    }
    assert stream_pairs == batch_pairs
    assert batch_pairs  # non-vacuous: the corpus has real candidates


def test_streaming_neardup_restart_mid_corpus_equals_batch(spark, tmp_path):
    """Stream ≡ batch ACROSS a stop/restart: feed half the corpus, let
    the query terminate (availableNow), then deliver the second half
    and restart from the same checkpoint.  The union of both runs'
    emitted pairs (dedup'ed, as x2b's distinct does) must equal the
    batch LSH candidate set over the WHOLE corpus — no band lost with
    the bucket state across the restart, and no pair duplicated into
    the appended sink by a replayed micro-batch (foreachBatch→parquet,
    because the memory sink cannot recover a stateful query)."""
    import os
    import time

    from data_engineer_project_weather_analytics_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_neardup_candidates,
    )
    from .conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    rows = [(r.doc_id, r.text) for r in docs.collect()]

    sigs = minhash_signatures(
        doc_shingles(docs, "doc_id", "text"), "doc_id", n_bands=8
    )
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", max_bucket=None).collect()
    }
    assert batch_pairs  # non-vacuous

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_to_completion():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def _sink(batch, batch_id):
            if not batch.isEmpty():
                batch.write.mode("append").parquet(out)

        q = (
            streaming_neardup_candidates(
                stream, "doc_id", "text", n_bands=8, max_bucket=10_000
            )
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # run 1: first half only; the query terminates (stop) mid-corpus
    _write_docs(spark, src, rows[:60])
    run_to_completion()
    assert os.path.exists(out)
    pairs_run1 = {
        (r.id_a, r.id_b) for r in spark.read.parquet(out).collect()
    }
    # run 2: second half arrives; restart from the same checkpoint
    time.sleep(1.1)  # distinct mtime → deterministic file order
    _write_docs(spark, src, rows[60:])
    run_to_completion()

    emitted = spark.read.parquet(out).collect()
    stream_pairs = {(r.id_a, r.id_b) for r in emitted}
    # equality with batch over the WHOLE corpus: nothing lost in the
    # restart, and run 2 found strictly more than run 1 alone
    assert stream_pairs == batch_pairs
    assert pairs_run1 < stream_pairs
    # per-(band, bucket) each unordered pair is emitted at most once —
    # a replayed micro-batch after restart would append duplicates
    seen = {}
    for r in emitted:
        key = (r.band, r.minhash, r.id_a, r.id_b)
        seen[key] = seen.get(key, 0) + 1
    assert max(seen.values()) == 1


def test_streaming_neardup_state_ttl_expires_buckets(spark, tmp_path):
    """state_ttl_ms trades the keep-forever guarantee for bounded
    state: a bucket idle past the TTL is dropped by a ProcessingTime
    timeout (fired by the empty micro-batches the timeout conf forces
    between data arrivals), so a later identical document pairs with
    NOBODY from before the expiry — but the bucket re-admits: two
    post-expiry identical documents still pair with each other, and no
    pre-expiry pair is ever re-emitted."""
    import time

    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_neardup_candidates,
    )

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    text = "the quick brown fox jumps over the lazy dog again today"
    _write_docs(spark, src, [(1, text), (2, text)])

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    q = (
        streaming_neardup_candidates(
            stream, "doc_id", "text", n_bands=4, state_ttl_ms=2_000
        )
        .writeStream.format("memory")
        .queryName("nd_ttl")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def pairs():
        return {
            (r.id_a, r.id_b)
            for r in spark.sql("SELECT * FROM nd_ttl").collect()
        }

    try:
        deadline = time.time() + 60
        while (1, 2) not in pairs() and time.time() < deadline:
            time.sleep(0.3)
        assert (1, 2) in pairs()

        # idle past the TTL: empty batches fire the timeout and drop
        # the bucket (2 s TTL + generous margin for slow machines)
        time.sleep(6)

        _write_docs(spark, src, [(3, text), (4, text)])
        deadline = time.time() + 60
        while (3, 4) not in pairs() and time.time() < deadline:
            time.sleep(0.3)
    finally:
        q.stop()

    got = pairs()
    # re-admission: the post-expiry docs pair with each other...
    assert (3, 4) in got
    # ...but with nobody from before the expiry, and the pre-expiry
    # pair is not re-emitted into the append sink
    assert got == {(1, 2), (3, 4)}


# ---------------------------------------------------------------------------
# Streaming semantic near-dup (the x54 probe as a stream)
# ---------------------------------------------------------------------------

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("is_seed", BooleanType()),
    ]
)


def _planted_embeddings():
    """60 corpus vectors + 20 batch vectors, 10 of which are tiny
    perturbations of corpus vectors (the test_operators planted set)."""
    import random

    rng = random.Random(11)
    dim = 16
    corpus = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)]
    batch = []
    for j in range(10):
        base = corpus[j][1]
        batch.append((1000 + j, [x + rng.uniform(-0.01, 0.01) for x in base]))
    for j in range(10, 20):
        batch.append((1000 + j, [rng.uniform(-1, 1) for _ in range(dim)]))
    return corpus, batch


def _write_emb(spark, path, rows, seed):
    spark.createDataFrame(
        [(v, e, seed) for v, e in rows], schema=EMB_SCHEMA
    ).coalesce(1).write.mode("append").parquet(path)


def test_with_cell_assignment_matches_batch(spark):
    """The stream-composable literal-codebook assignment must be
    BIT-IDENTICAL to the batch crossJoin+hash-agg argmax for every
    vector — the with_minhash_bands equivalence applied to kmeans."""
    from data_engineer_project_weather_analytics_spark.operators import similarity
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        with_cell_assignment,
    )

    corpus, batch = _planted_embeddings()
    schema = "vec_id long, embedding array<double>"
    corpus_df = spark.createDataFrame(corpus, schema)
    all_df = spark.createDataFrame(corpus + batch, schema)
    _, cents = similarity._kmeans_fit(
        corpus_df.selectExpr("vec_id AS __vid", "embedding AS __v"), 8, 3
    )
    centroids = [
        (r["cell"], list(r["centroid"])) for r in cents.collect()
    ]
    got = {
        r["vec_id"]: r["cell"]
        for r in with_cell_assignment(all_df, "embedding", centroids).collect()
    }
    want = {
        r["__vid"]: r["cell"]
        for r in similarity._batch_assign(
            all_df.selectExpr("vec_id AS __vid", "embedding AS __v"), cents
        ).collect()
    }
    assert got == want


def test_streaming_semdedup_probe_equals_batch_x54(spark, tmp_path):
    """Stream ≡ batch for the incremental semantic probe: corpus
    survivors seeded in micro-batch 1, the probe batch in micro-batch
    2 — the streamed decisions must equal semdedup_incremental's rows
    exactly (same cells, degrees, best_sim, keep flags)."""
    import time

    from data_engineer_project_weather_analytics_spark.operators import similarity
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_semdedup_probe,
    )

    corpus, batch = _planted_embeddings()
    schema = "vec_id long, embedding array<double>"
    corpus_df = spark.createDataFrame(corpus, schema)
    batch_df = spark.createDataFrame(batch, schema)
    survivors, codebook = similarity.semdedup_corpus_index(
        corpus_df, "vec_id", "embedding", k=8
    )
    centroids = [
        (r["cell"], list(r["centroid"])) for r in codebook["cents"].collect()
    ]
    seed_rows = [
        (r["corpus_id"], list(r["__cv"])) for r in survivors.collect()
    ]

    src = str(tmp_path / "emb")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_emb(spark, src, seed_rows, seed=True)
    time.sleep(1.1)
    _write_emb(spark, src, batch, seed=False)

    def run():
        import os

        stream = (
            spark.readStream.schema(EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def _sink(b, _id):
            if not b.isEmpty():
                b.write.mode("append").parquet(out)

        before = (
            {tuple(r) for r in spark.read.parquet(out).collect()}
            if os.path.exists(out)
            else set()
        )
        q = (
            streaming_semdedup_probe(
                stream, "vec_id", "embedding", centroids, seed_col="is_seed"
            )
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return [
            r for r in spark.read.parquet(out).collect() if tuple(r) not in before
        ]

    rows = run()
    got = {
        r["vec_id"]: (
            r["cluster_id"], r["n_corpus_near"], r["best_sim"], r["kept"]
        )
        for r in rows
    }
    want = {
        r["vec_id"]: (
            r["cluster_id"], r["n_corpus_near"], r["best_sim"], r["kept"]
        )
        for r in similarity.semdedup_incremental(
            corpus_df, batch_df, "vec_id", "embedding", k=8
        ).collect()
    }
    assert got == want
    assert sum(1 for v in got.values() if v[3] == 0) >= 8  # drops exercised

    # checkpoint recovery + kept-vector admission: restart with a new
    # micro-batch containing a near-dup of a KEPT batch vector — the
    # recovered state must drop it against that survivor
    kept_ids = [v for v, row in got.items() if row[3] == 1]
    probe_base = dict(batch)[kept_ids[0]]
    newcomer = (2000, [x + 0.001 for x in probe_base])
    time.sleep(1.1)
    _write_emb(spark, src, [newcomer], seed=False)
    rows2 = run()
    assert len(rows2) == 1 and rows2[0]["vec_id"] == 2000
    assert rows2[0]["kept"] == 0 and rows2[0]["n_corpus_near"] >= 1
    assert rows2[0]["best_sim"] >= 9900  # near-parallel to the survivor


def test_streaming_semdedup_stored_probe_equals_batch_x54c(spark, tmp_path):
    """Stream ≡ batch for the STORED-index probe (VERDICT r11 task 5):
    the stream consumes the x54c artifacts — survivors seeded into
    state, BOTH codebooks (fmap/occ) folded in as literals — and its
    decisions must equal semdedup_incremental_stored's rows
    exactly.  The two-level literal assignment routes coarse→fine like
    the batch probe (bit-identical packed-argmax keys), so the stream
    pays ~2·√k cosines per row instead of the flat k that dominated
    the 100× streaming point."""
    import time

    from data_engineer_project_weather_analytics_spark.operators import similarity
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_semdedup_probe,
    )

    corpus, batch = _planted_embeddings()
    schema = "vec_id long, embedding array<double>"
    corpus_df = spark.createDataFrame(corpus, schema)
    batch_df = spark.createDataFrame(batch, schema)
    idx = str(tmp_path / "auto_idx")
    similarity.semdedup_index_write(
        corpus_df, "vec_id", "embedding", idx, k=None, two_level=True
    )
    survivors = spark.read.parquet(f"{idx}/survivors")
    fmap_rows = [
        (r["cell"], list(r["centroid"]), r["coarse"])
        for r in spark.read.parquet(f"{idx}/fmap").collect()
    ]
    occ_rows = [
        (r["coarse"], list(r["ccent"]))
        for r in spark.read.parquet(f"{idx}/occ").collect()
    ]
    seed_rows = [
        (r["corpus_id"], list(r["__cv"])) for r in survivors.collect()
    ]

    src = str(tmp_path / "emb")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_emb(spark, src, seed_rows, seed=True)
    time.sleep(1.1)
    _write_emb(spark, src, batch, seed=False)

    stream = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def _sink(b, _id):
        if not b.isEmpty():
            b.write.mode("append").parquet(out)

    q = (
        streaming_semdedup_probe(
            stream, "vec_id", "embedding",
            seed_col="is_seed", fmap_rows=fmap_rows, occ_rows=occ_rows,
        )
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["vec_id"]: (
            r["cluster_id"], r["n_corpus_near"], r["best_sim"], r["kept"]
        )
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["vec_id"]: (
            r["cluster_id"], r["n_corpus_near"], r["best_sim"], r["kept"]
        )
        for r in similarity.semdedup_incremental_stored(
            spark, idx, batch_df, "vec_id", "embedding"
        ).collect()
    }
    assert got == want
    assert sum(1 for v in got.values() if v[3] == 0) >= 8  # drops exercised


def test_streaming_semdedup_saturation_keeps_deciding(spark, tmp_path):
    """A cell past ``max_cell`` survivors must keep DECIDING against
    the capped survivor list while ADMITTING no more (bounded state —
    the bench_stream.py saturated regime, pinned here; VERDICT r8
    task 4).  Plant: 10 seeds in ONE cell (5 copies of u, ids 0-4,
    then 5 copies of w ⊥ u, ids 5-9) with max_cell=5 — the sorted
    admission caps state at the five u-seeds:

    * a probe near u is DROPPED — the capped list still decides;
    * a probe near w is KEPT — proof the cap excluded the w-seeds;
    * a LATER probe near w is kept AGAIN — proof the saturated cell
      admitted neither the w-seeds nor the kept probe (deciding, not
      growing)."""
    import time

    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_semdedup_probe,
    )

    dim = 8
    u = [1.0] + [0.0] * (dim - 1)
    w = [0.0, 1.0] + [0.0] * (dim - 2)
    seeds = [(i, list(u)) for i in range(5)] + [
        (i, list(w)) for i in range(5, 10)
    ]
    src = str(tmp_path / "emb")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_emb(spark, src, seeds, seed=True)
    time.sleep(1.1)
    _write_emb(
        spark,
        src,
        [(100, [0.99] + [0.01] * (dim - 1)), (101, [0.01, 0.99] + [0.01] * (dim - 2))],
        seed=False,
    )
    time.sleep(1.1)
    _write_emb(spark, src, [(200, [0.02, 0.98] + [0.02] * (dim - 2))], seed=False)

    stream = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def _sink(b, _id):
        if not b.isEmpty():
            b.write.mode("append").parquet(out)

    q = (
        streaming_semdedup_probe(
            stream, "vec_id", "embedding", [(1, u)],
            max_cell=5, seed_col="is_seed",
        )
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["vec_id"]: r for r in spark.read.parquet(out).collect()}
    assert sorted(got) == [100, 101, 200]
    assert got[100]["kept"] == 0 and got[100]["n_corpus_near"] == 5
    assert got[101]["kept"] == 1 and got[101]["best_sim"] is None
    # the saturated cell admitted neither the w-seeds nor probe 101:
    # 200 (near both) is kept, and its only near material is outside
    # the state by the cap
    assert got[200]["kept"] == 1 and got[200]["n_corpus_near"] == 0


def test_streaming_ingest_verdict_equals_batch_x59(spark, tmp_path):
    """Stream ≡ batch for the COMPOSED ingest verdict (x59): the same
    batch slice fed through the stateful semantic probe
    (streaming_semdedup_probe, seeded from x54's corpus survivors) plus
    the x1b/x53 decision layers applied per micro-batch in foreachBatch
    — cross-micro-batch fingerprint ownership via stream state, the
    near-dup probe against the static corpus index — must reproduce
    x59_ingest_curation's row FOR EVERY COLUMN, verdict included.
    This pins the x59 docstring's claim that the stateful probe is its
    stream twin end-to-end, not just for the semantic stage.

    Micro-batch shape: the embedding probe arrives as ONE trigger (a
    day's batch — x54's batch-vs-corpus semantics: batch vectors never
    drop each other); the DOCUMENT layers arrive as TWO micro-batches
    in ascending doc_id order, so x1b's "smallest batch id owns the
    fingerprint" rule maps onto arrival order and the claimed-set
    state is genuinely exercised across triggers."""
    import time

    from pyspark.sql import functions as F

    from data_engineer_project_weather_analytics_spark.operators import (
        dedup,
        similarity,
        text,
    )
    from data_engineer_project_weather_analytics_spark.plans import (
        corpus as corpus_plans,
    )
    from data_engineer_project_weather_analytics_spark.plans import extensions
    from data_engineer_project_weather_analytics_spark.sources.catalog import load_table
    from data_engineer_project_weather_analytics_spark.streaming.stateful import (
        streaming_semdedup_probe,
    )
    from .conftest import SF_DIR

    # ---- batch truth: every x59 column, keyed by doc_id -------------
    want = {
        r["doc_id"]: r
        for r in corpus_plans.x59_ingest_curation(spark, SF_DIR).collect()
    }
    assert want

    # ---- semantic stage: the stateful probe, seeded from the x54
    # corpus index (the proven stream≡batch path), probe in one trigger
    emb = load_table(spark, SF_DIR, "embeddings")
    esplit = text.deterministic_split("vec_id")
    survivors, codebook = similarity.semdedup_corpus_index(
        emb.filter(esplit == "train"), "vec_id", "embedding",
        similarity.KMEANS_K, similarity.KMEANS_ITERS, 0.8,
    )
    centroids = [
        (r["cell"], list(r["centroid"])) for r in codebook["cents"].collect()
    ]
    seed_rows = [(r["corpus_id"], list(r["__cv"])) for r in survivors.collect()]
    probe_rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(esplit == "test")
        .select("vec_id", "embedding").collect()
    ]
    esrc, eckpt, eout = (
        str(tmp_path / "emb"), str(tmp_path / "eckpt"), str(tmp_path / "eout")
    )
    _write_emb(spark, esrc, seed_rows, seed=True)
    time.sleep(1.1)
    _write_emb(spark, esrc, probe_rows, seed=False)

    def _esink(b, _id):
        if not b.isEmpty():
            b.write.mode("append").parquet(eout)

    q = (
        streaming_semdedup_probe(
            spark.readStream.schema(EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(esrc),
            "vec_id", "embedding", centroids, seed_col="is_seed",
        )
        .writeStream.foreachBatch(_esink)
        .option("checkpointLocation", eckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    sem = {
        r["vec_id"]: (r["kept"], r["best_sim"])
        for r in spark.read.parquet(eout).collect()
    }

    # ---- document layers: two ascending micro-batches through
    # foreachBatch, fingerprint ownership carried as stream state ----
    docs = load_table(spark, SF_DIR, "documents")
    dsplit = text.deterministic_split("doc_id")
    corpus_docs = docs.filter(dsplit == "train").select("doc_id", "text")
    corpus_fps = {
        r["fp"]
        for r in corpus_docs.select(
            text.fingerprint("text").alias("fp")
        ).collect()
    }
    batch_rows = sorted(
        (r["doc_id"], r["text"], r["lang"])
        for r in docs.filter(dsplit == "test")
        .select("doc_id", "text", "lang").collect()
    )
    half = len(batch_rows) // 2
    doc_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    dsrc, dckpt = str(tmp_path / "docs"), str(tmp_path / "dckpt")
    for part in (batch_rows[:half], batch_rows[half:]):
        spark.createDataFrame(part, schema=doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(dsrc)
        time.sleep(1.1)

    claimed: set[str] = set()  # fingerprint → owned by an earlier trigger
    got: dict[int, dict] = {}

    def _decide(b, _id):
        if b.isEmpty():
            return
        sig = text.repetition_signals(b, "doc_id", "text", keep=("lang", "text"))
        quality = {
            r["doc_id"]: (r["quality_pass"], r["__u"])
            for r in sig.select(
                "doc_id",
                (F.col("rep_pass") & text.quality_flag("text")).alias(
                    "quality_pass"
                ),
                (
                    corpus_plans._h48(
                        f"concat('{corpus_plans._MIX_SEED}:', "
                        "CAST(doc_id AS STRING))"
                    )
                    % 10000
                ).alias("__u"),
            ).collect()
        }
        fps = {
            r["doc_id"]: r["fp"]
            for r in b.select(
                "doc_id", text.fingerprint("text").alias("fp")
            ).collect()
        }
        owner: dict[str, int] = {}
        for d in sorted(fps):
            fp = fps[d]
            if fp in corpus_fps or fp in claimed:
                continue
            owner.setdefault(fp, d)
        claimed.update(owner)
        # x53 layer: probe THIS micro-batch against the corpus index
        sub = corpus_docs.unionByName(b.select("doc_id", "text"))
        ds = dedup.doc_shingles(sub, "doc_id", "text", n=3)
        sigs2, sizes = dedup.minhash_with_sizes(ds, "doc_id", n_bands=8)
        sided = sigs2.withColumn("side", text.deterministic_split("doc_id"))
        cand = dedup.lsh_candidate_pairs_cross(
            sided, "doc_id", "side", max_bucket=extensions.LSH_MAX_BUCKET
        )
        nd: dict[int, tuple[int, float]] = {}
        for r in dedup.jaccard_for_candidates(
            ds, "doc_id", cand, threshold=0.1, sizes=sizes
        ).collect():
            n, bj = nd.get(r["id_b"], (0, None))
            nd[r["id_b"]] = (
                n + 1,
                r["jaccard"] if bj is None else max(bj, r["jaccard"]),
            )
        for r in b.select("doc_id", "lang").collect():
            d, lang = r["doc_id"], r["lang"]
            qp, u = quality[d]
            fp = fps[d]
            exact_kept = int(owner.get(fp) == d)
            n_near, best_j = nd.get(d, (0, None))
            sem_kept, best_sim = sem.get(d, (1, None))
            rate_bp = corpus_plans._MIX_RATES_BP[lang]
            sampled = u < rate_bp
            if not qp:
                v = "drop_quality"
            elif exact_kept == 0:
                v = "drop_exact"
            elif n_near > 0:
                v = "drop_neardup"
            elif sem_kept == 0:
                v = "drop_semdup"
            elif not sampled:
                v = "drop_sampled"
            else:
                v = "keep"
            got[d] = dict(
                lang=lang, quality_pass=qp, exact_kept=exact_kept,
                n_near=n_near, best_jaccard=best_j,
                semantic_kept=sem_kept, best_sim=best_sim,
                rate_bp=rate_bp, sampled=sampled, verdict=v,
            )

    dq = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dsrc)
        .writeStream.foreachBatch(_decide)
        .option("checkpointLocation", dckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    dq.awaitTermination(180)

    assert sorted(got) == sorted(want)
    for d, w in want.items():
        g = got[d]
        for c in (
            "lang", "quality_pass", "exact_kept", "n_near", "best_jaccard",
            "semantic_kept", "best_sim", "rate_bp", "sampled", "verdict",
        ):
            assert g[c] == w[c], (d, c, g[c], w[c])
    # non-vacuous: the composed stream exercised real drops
    assert {w["verdict"] for w in want.values()} >= {"keep", "drop_sampled"}
