"""Streaming-mode B3/B4: sliding and session windows through the real
streaming engine (AvailableNow drain) must equal their batch analogs —
the Structured Streaming prefix-consistency contract, checked per window
type because each uses a different stateful operator."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from big_data_streaming_spark.sources.catalog import load_table
from big_data_streaming_spark.workload.streaming import _stage_stream_dir


def _stream_events(spark, sf_dir):
    from big_data_streaming_spark.sources.catalog import normalize_raw_timestamps

    src = _stage_stream_dir(sf_dir, "events")
    raw_schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(raw_schema).parquet(src)
    return normalize_raw_timestamps(sdf, src)


def _drain(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_sliding_window_equals_batch(spark, sf_small):
    name = f"slide_{uuid.uuid4().hex[:8]}"
    agg_stream = (
        _stream_events(spark, sf_small)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _drain(agg_stream, name, "complete")
    got = sorted(
        map(
            str,
            spark.table(name)
            .select(F.col("w.start").alias("ws"), "event_type", "n")
            .collect(),
        )
    )
    batch = sorted(
        map(
            str,
            load_table(spark, sf_small, "events")
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
            .collect(),
        )
    )
    assert got == batch


def test_stream_session_window_equals_batch(spark, sf_small):
    name = f"sess_{uuid.uuid4().hex[:8]}"
    agg_stream = (
        _stream_events(spark, sf_small)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _drain(agg_stream, name, "complete")
    got = sorted(
        map(
            str,
            spark.table(name)
            .select(
                F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "user_id", "n"
            )
            .collect(),
        )
    )
    batch = sorted(
        map(
            str,
            load_table(spark, sf_small, "events")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "user_id", "n"
            )
            .collect(),
        )
    )
    assert got == batch


def test_update_mode_emits_changed_windows_only(spark, tmp_path):
    """Update output mode: each micro-batch emits only windows whose
    aggregate changed; taking the LAST emission per window reconstructs
    the batch result (the changelog-consumer contract)."""
    import json
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = 1_700_002_800_000
    # batch 1: two windows; batch 2 (separate file) adds to window 2 only
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for m in (0, 10, 70):
            f.write(json.dumps({"ts": base + m * 60_000, "v": 1.0}) + "\n")
    with open(os.path.join(src, "b2.jsonl"), "w") as f:
        f.write(json.dumps({"ts": base + 80 * 60_000, "v": 5.0}) + "\n")

    sdf = (
        spark.readStream.schema("ts long, v double")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.timestamp_millis("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("upd_mode")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = (
        spark.table("upd_mode")
        .select(F.col("w.start").alias("ws"), "total", "n")
        .collect()
    )
    # the emission with the highest n per window is the latest state;
    # it must equal the batch truth
    latest: dict = {}
    for r in rows:
        key = str(r["ws"])
        cand = (r["n"], r["total"])
        if key not in latest or cand[0] > latest[key][0]:
            latest[key] = cand
    finals = sorted(latest.values())
    assert finals == [(2, 2.0), (2, 6.0)], rows  # w1: 2 rows/2.0; w2: 2 rows/6.0
    # update mode re-emitted window 2 (3 or 4 rows total, not 2): at least
    # one window appears twice across the two batches
    assert len(rows) > len(latest)


def test_resourceful_queries_are_reinvokable(spark, sf_small):
    """The driver may invoke a queries() callable more than once (row-count
    pass, then hash pass). The queries that allocate session resources —
    temp views, memory-sink tables, staged temp dirs — must return the
    same result on a second invocation."""
    from big_data_streaming_spark.workload import QUERIES

    for name in (
        "q_flagship_sql",
        "q_stream_window_tumbling",
        "q_stream_window_session",
        "q_route_by_key",
        # round-2 resource allocators: catalog tables, persist caches,
        # temp views, noop-staged dirs, streaming memory sinks
        "q_join_bucketed",
        "q_format_roundtrip",
        "q_token_runs",
        "q_stream_dedup",
        "q_stream_static_join",
        "q_dedup_semantic",
        "q_sim_ivf",
        "q_pack_sequences",
    ):
        first = sorted(map(str, QUERIES[name](spark, sf_small).collect()))
        second = sorted(map(str, QUERIES[name](spark, sf_small).collect()))
        assert first == second, name


def test_stream_topk_replay_converges(spark, sf_small, tmp_path):
    """The top-k sink's idempotence contract: a WAL-replayed micro-batch
    rewrites its own batch_<id> dir (overwrite mode), so applying the
    same batch twice leaves the output identical — the property that
    makes the serving layer exactly-once under crash/restart."""
    from pyspark.sql import functions as F

    from big_data_streaming_spark.sources.catalog import load_table
    from big_data_streaming_spark.streaming.sinks import window_topk_sink

    out_dir = str(tmp_path / "topk_out")
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"))
    )

    # The ranker q_stream_topk and the live demo run per micro-batch.
    rank_and_write = window_topk_sink(out_dir, key="event_type", value="total_value", k=3)

    rank_and_write(batch, 0)
    first = sorted(map(repr, spark.read.option("recursiveFileLookup", "true").parquet(out_dir).collect()))
    rank_and_write(batch, 0)  # replay of the SAME batch id
    second = sorted(map(repr, spark.read.option("recursiveFileLookup", "true").parquet(out_dir).collect()))
    assert first == second and first, "replayed batch must overwrite, not append"
