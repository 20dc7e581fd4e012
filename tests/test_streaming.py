"""Structured Streaming: incremental page parse (exactly-once via
checkpoint) and watermarked windowed aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openair_spark.spark.corpus import pages_df
from openair_spark.spark.pipeline import parse_features
from openair_spark.streaming.pipeline import stream_parse_pages, windowed_event_stats


def test_stream_parse_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    features_dir = str(tmp_path / "features")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_df(spark, 30, "stream-seed")
    pages.repartition(4).write.parquet(pages_dir)

    q = stream_parse_pages(spark, pages_dir, features_dir, ckpt)
    q.awaitTermination(120)

    streamed = spark.read.parquet(features_dir)
    batch = parse_features(spark.read.parquet(pages_dir))
    cols = ["url", "airspace_idx", "name", "success"]
    assert sorted(map(tuple, streamed.select(cols).collect())) == \
        sorted(map(tuple, batch.select(cols).collect()))

    # resume: nothing new -> no duplicate appends
    q2 = stream_parse_pages(spark, pages_dir, features_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(features_dir).count() == streamed.count()


def test_windowed_event_stats_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "events")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "eckpt")
    rows = [
        ("2025-01-01 10:01:00", "click", 1.0),
        ("2025-01-01 10:04:00", "click", 2.0),
        ("2025-01-01 10:12:00", "view", 3.0),
        ("2025-01-01 11:00:00", "click", 4.0),   # advances watermark
        ("2025-01-01 09:00:00", "click", 99.0),  # late beyond watermark
    ]
    df = spark.createDataFrame(rows, "ts_s string, event_type string, value double") \
        .select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, event_type string, value double") \
        .parquet(src)
    agg = windowed_event_stats(stream, window="10 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["window_start"].isoformat(), r["event_type"]): (r["n"], r["sum_value"])
           for r in spark.read.parquet(out).collect()}
    # windows closed by the watermark: 10:00 (2 clicks) and 10:10 (1 view);
    # the 11:00 window stays open (not emitted in append mode), and the
    # 09:00 row arrived in the same batch so it lands in its own window
    # only if it beat the watermark — with a single batch all rows are on
    # time; assert the two closed windows
    assert got[("2025-01-01T10:00:00", "click")] == (2, 3.0)
    assert got[("2025-01-01T10:10:00", "view")] == (1, 3.0)


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])


def test_stateful_block_assembler_across_batches(spark, tmp_path):
    """Custom stateful op: a url's lines split across two file drops
    (two micro-batches) must assemble into one parsed result; state
    carries across batches and is removed on emit."""
    from openair_spark.core.config import ParserConfig
    from openair_spark.core.parser import parse_text
    from openair_spark.spark.corpus import PAYLOADS
    from openair_spark.streaming.pipeline import (
        LINE_EVENTS_SCHEMA,
        stateful_block_assembler,
    )

    text = dict(PAYLOADS)["polygon"]
    lines = text.split("\n")
    half = len(lines) // 2
    rows_a = [("u1", i, ln, False) for i, ln in enumerate(lines[:half])]
    rows_b = [("u1", i + half, ln, i + half == len(lines) - 1)
              for i, ln in enumerate(lines[half:])]
    # u2 completes entirely inside drop 1
    rows_a += [("u2", i, ln, i == len(lines) - 1) for i, ln in enumerate(lines)]

    src = str(tmp_path / "lines")
    out = str(tmp_path / "assembled")
    ckpt = str(tmp_path / "ackpt")
    spark.createDataFrame(rows_a, LINE_EVENTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(rows_b, LINE_EVENTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(LINE_EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    cfg = '{"version": "1.0"}'
    # a processing-time timeout asks for a no-data batch after every
    # batch, so with no-data batches on the availableNow query never
    # ends and processAllAvailable never returns
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(no_data, "false")
    try:
        q = (stateful_block_assembler(stream, config_json=cfg)
             .writeStream.outputMode("append")
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.unset(no_data)

    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    expected = parse_text(text, ParserConfig.default("1.0"), id_seed="u1")
    assert set(got) == {"u1", "u2"}
    for url in ("u1", "u2"):
        assert got[url]["n_lines"] == len(lines)
        assert got[url]["n_features"] == len(expected.geojson["features"])
        assert got[url]["n_errors"] == 0
        assert got[url]["first_name"] == \
            expected.geojson["features"][0]["properties"]["name"]


def test_stateful_block_assembler_timeout_flush(spark, tmp_path):
    """A url whose is_last never arrives must not hold state forever:
    after the processing-time timeout it is flushed as an n_errors=1
    row (append-mode contract preserved)."""
    import time

    from openair_spark.streaming.pipeline import (
        LINE_EVENTS_SCHEMA,
        stateful_block_assembler,
    )

    src = str(tmp_path / "lines_t")
    out = str(tmp_path / "assembled_t")
    ckpt = str(tmp_path / "tckpt")
    # u_incomplete never sends is_last
    spark.createDataFrame([("u_incomplete", 0, "AC D", False)],
                          LINE_EVENTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(LINE_EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stateful_block_assembler(stream, config_json='{"version": "1.0"}',
                                  state_timeout_ms=2000)
         .writeStream.outputMode("append")
         .format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="1 second").start())
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            time.sleep(2)
            try:
                rows = spark.read.parquet(out).collect()
            except Exception:
                rows = []
            if rows:
                break
    finally:
        q.stop()
    assert len(rows) == 1
    assert rows[0]["url"] == "u_incomplete"
    assert rows[0]["n_errors"] == 1 and rows[0]["n_features"] == 0
    assert rows[0]["n_lines"] == 1


def test_stream_dedup_docs_bounded_state(spark, tmp_path):
    """Incremental exact dedup: duplicates across micro-batches within
    the watermark are dropped (first arrival wins); distinct texts all
    pass. Two file drops force two micro-batches so the dedup state
    must carry across batches."""
    src = str(tmp_path / "docs")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dckpt")
    from openair_spark.streaming.pipeline import stream_dedup_docs

    batch1 = [("2025-01-01 10:00:00", 1, "alpha text"),
              ("2025-01-01 10:00:10", 2, "beta text"),
              ("2025-01-01 10:00:20", 3, "alpha text")]   # dup in-batch
    batch2 = [("2025-01-01 10:05:00", 4, "alpha text"),   # dup cross-batch
              ("2025-01-01 10:05:10", 5, "gamma text")]

    def write(rows, part):
        df = spark.createDataFrame(
            rows, "ts_s string, doc_id long, text string").select(
            F.to_timestamp("ts_s").alias("ts"), "doc_id", "text")
        df.coalesce(1).write.mode("append").parquet(src)

    write(batch1, 0)
    write(batch2, 1)
    stream = (spark.readStream
              .schema("ts timestamp, doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    deduped = stream_dedup_docs(stream, watermark="1 hour")
    q = (deduped.writeStream.outputMode("append")
         .format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha text", "beta text", "gamma text"]
    # first arrival of the duplicated text wins
    assert {r["doc_id"] for r in rows if r["text"] == "alpha text"} <= {1, 3}


def test_stream_neardup_docs_flags_band_collisions(spark, tmp_path):
    """Watermarked MinHash-band near-dup suppression: a doc arriving
    after an LSH-colliding doc must be flagged as a candidate; docs
    with fresh signatures must not. Expected flags are derived
    INDEPENDENTLY from the batch band signatures (same md5 scheme) and
    the micro-batch arrival order — the stream must agree with the
    batch LSH view of the same corpus."""
    src = str(tmp_path / "nd_docs")
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    from openair_spark.streaming.pipeline import stream_neardup_docs

    t_a = "alpha bravo charlie delta echo foxtrot"
    t_b = "one two three four five six seven"
    t_d = "red green blue yellow purple orange"
    batches = [
        [("2025-01-01 10:00:00", 1, t_a), ("2025-01-01 10:00:10", 2, t_b)],
        [("2025-01-01 10:01:00", 3, t_a),   # exact dup -> all bands collide
         ("2025-01-01 10:01:10", 4, t_d)],  # fresh signature
        [("2025-01-01 14:00:00", 99, "flush flush flush flush")],  # watermark push
    ]
    for rows in batches:
        (spark.createDataFrame(rows, "ts_s string, doc_id long, text string")
         .select(F.to_timestamp("ts_s").alias("ts"), "doc_id", "text")
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream
              .schema("ts timestamp, doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_neardup_docs(stream, watermark="1 hour")
         .writeStream.outputMode("append")
         .format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}

    # independent expectation from the BATCH band signatures
    from openair_spark.queries.textops import (
        _BAND_SIZE,
        _N_MINHASH,
        _spark_shingles,
    )
    all_rows = [r for b in batches[:2] for r in b]
    docs = spark.createDataFrame(
        all_rows, "ts_s string, doc_id long, text string").select("doc_id", "text")
    hashed = _spark_shingles(docs).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_N_MINHASH - 1))).alias("h"),
        "shingle",
    ).select("doc_id", "h", F.md5(F.concat_ws(
        "|", F.col("h").cast("string"), "shingle")).alias("hval"))
    sig = hashed.groupBy("doc_id", "h").agg(F.min("hval").alias("minhash"))
    band_rows = (sig.withColumn("band", (F.col("h") / _BAND_SIZE).cast("int"))
                 .groupBy("doc_id", "band")
                 .agg(F.concat_ws("|", F.array_sort(F.collect_list(F.concat_ws(
                     ":", F.col("h").cast("string"), "minhash")))).alias("band_sig"))
                 .collect())
    sigs_of = {}
    for r in band_rows:
        sigs_of.setdefault(r["doc_id"], set()).add((r["band"], r["band_sig"]))
    arrival = [1, 2, 3, 4]  # batch order; no intra-batch collisions by design
    seen: set = set()
    expected_flag = {}
    for did in arrival:
        expected_flag[did] = bool(sigs_of[did] & seen)
        seen |= sigs_of[did]

    assert set(got) >= {1, 2, 3, 4}
    for did in arrival:
        assert got[did]["is_neardup_candidate"] == expected_flag[did], (
            did, dict(got[did].asDict()))
    assert got[3]["n_surviving"] == 0        # exact dup lost every band
    assert got[1]["n_surviving"] == got[1]["n_bands"]
