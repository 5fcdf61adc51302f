"""Maintenance + observability + decimal-path tests: small-file
compaction, dynamic-partition-overwrite idempotence, streaming progress
listener, exact-decimal kline parsing."""

from __future__ import annotations

import glob
import json
import os
import time
from decimal import Decimal

from pyspark.sql import functions as F

from big_data_streaming_spark.operators.maintenance import (
    compact_partition,
    overwrite_partitions_dynamic,
)
from big_data_streaming_spark.schemas import KLINE_DECIMAL_SCHEMA
from big_data_streaming_spark.streaming.metrics import ProgressCollector
from big_data_streaming_spark.streaming.parse import parse_json_stream
from big_data_streaming_spark.streaming.source import raw_text_file_stream
from tests.test_streaming import COINS, make_kline, write_jsonl


def test_compact_partition_reduces_files(spark, tmp_path):
    path = str(tmp_path / "many")
    df = spark.range(10_000).withColumn("v", F.rand(seed=7))
    df.repartition(64).write.parquet(path)
    before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert before >= 32

    compact_partition(spark, path, target_file_bytes=16 * 1024 * 1024)
    after = len(glob.glob(os.path.join(path, "*.parquet")))
    assert after < before
    assert spark.read.parquet(path).count() == 10_000


def test_dynamic_partition_overwrite_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "tbl")
    day1 = spark.createDataFrame(
        [("2024-01-01", "BTCUSDC", 1.0), ("2024-01-01", "ETHUSDC", 2.0)],
        ["day", "coin", "vol"],
    )
    day2 = spark.createDataFrame(
        [("2024-01-02", "BTCUSDC", 3.0)], ["day", "coin", "vol"]
    )
    overwrite_partitions_dynamic(day1, path, ("day",))
    overwrite_partitions_dynamic(day2, path, ("day",))
    assert spark.read.parquet(path).count() == 3

    # re-run day1 with corrected data: replaces ONLY day1
    day1_fixed = spark.createDataFrame(
        [("2024-01-01", "BTCUSDC", 10.0)], ["day", "coin", "vol"]
    )
    overwrite_partitions_dynamic(day1_fixed, path, ("day",))
    out = spark.read.parquet(path)
    assert out.count() == 2
    assert out.filter(F.col("day") == "2024-01-01").first()["vol"] == 10.0
    # idempotence: same input, same state
    overwrite_partitions_dynamic(day1_fixed, path, ("day",))
    assert spark.read.parquet(path).count() == 2


def test_streaming_progress_listener(spark, tmp_path):
    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", [make_kline(c, m) for c in COINS for m in range(25)])
    collector = ProgressCollector().install(spark)
    try:
        parsed = parse_json_stream(raw_text_file_stream(spark, src))
        q = (
            parsed.writeStream.format("memory")
            .queryName("metered")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously
        deadline = time.time() + 10
        while time.time() < deadline and collector.total_rows("metered") < 100:
            time.sleep(0.2)
        assert collector.total_rows("metered") == 100
    finally:
        collector.uninstall(spark)


def test_progress_collector_sums_state_operators():
    """Per-batch state-store counters are summed over the stateful
    operators of a progress event (no session needed: the event is built
    from the progress JSON the engine emits)."""
    from pyspark.sql.streaming.listener import QueryProgressEvent

    def op(name: str, instances: int, commit_ms: int, rows: int) -> dict:
        return {
            "operatorName": name,
            "numRowsTotal": rows,
            "numRowsUpdated": 0,
            "numRowsRemoved": 0,
            "allUpdatesTimeMs": 0,
            "allRemovalsTimeMs": 0,
            "commitTimeMs": commit_ms,
            "memoryUsedBytes": 0,
            "numRowsDroppedByWatermark": 0,
            "numShufflePartitions": instances,
            "numStateStoreInstances": instances,
        }

    def progress(batch_id: int, ops: list[dict]) -> dict:
        return {
            "id": "00000000-0000-0000-0000-000000000001",
            "runId": "00000000-0000-0000-0000-000000000002",
            "name": "topk",
            "timestamp": "2024-01-01T00:00:00.000Z",
            "batchId": batch_id,
            "batchDuration": 10,
            "durationMs": {"addBatch": 7, "triggerExecution": 10},
            "stateOperators": ops,
            "sources": [],
            "sink": {"description": "ForeachBatchSink", "numOutputRows": -1},
            "numInputRows": 100,
            "inputRowsPerSecond": 1.0,
            "processedRowsPerSecond": 1.0,
        }

    c = ProgressCollector()
    c.onQueryProgress(
        QueryProgressEvent.fromJson(
            {"progress": progress(0, [op("stateStoreSave", 1, 30, 20), op("dedupe", 2, 12, 5)])}
        )
    )
    c.onQueryProgress(QueryProgressEvent.fromJson({"progress": progress(1, [])}))

    first, stateless = c.stats["topk"]
    assert first["batchId"] == 0 and first["durationMs"]["addBatch"] == 7
    assert first["numStateStoreInstances"] == 3
    assert first["commitTimeMs"] == 42
    assert first["numRowsTotal"] == 25
    assert (
        stateless["numStateStoreInstances"],
        stateless["commitTimeMs"],
        stateless["numRowsTotal"],
    ) == (0, 0, 0)
    assert c.total_rows("topk") == 200


def test_kline_decimal_schema_exact_money(spark):
    """The DECIMAL(38,18) money path (SURVEY.md §4.3.7): string decimals
    parse losslessly — including values a double cannot represent."""
    rec = {
        "coin": "BTCUSDC",
        "timestamp": 1_700_002_800_000,
        "open": "0.123456789012345678",
        "high": "1.000000000000000001",
        "low": "0.1",
        "close": "0.3",
        "volume": "12345678901234.567890123456789012",
        "close_time": 1_700_002_859_999,
        "quote_asset_volume": "1.0",
        "number_of_trades": 5,
        "taker_buy_base_asset_volume": "0.5",
        "taker_buy_quote_asset_volume": "0.5",
        "ignore": "0",
        "interval": "1m",
    }
    df = spark.createDataFrame([(json.dumps(rec),)], ["value"])
    parsed = parse_json_stream(df, schema=KLINE_DECIMAL_SCHEMA)
    row = parsed.first()
    assert row["open"] == Decimal("0.123456789012345678")
    assert row["high"] == Decimal("1.000000000000000001")  # != float(1.0) path
    assert row["volume"] == Decimal("12345678901234.567890123456789012")
    # decimal addition: Spark widens precision and, at the 38-digit cap,
    # gives up one scale digit (38,18)+(38,18) -> (38,17), rounding
    # HALF_UP — pinned here so the money-path semantics are explicit
    total_col = parsed.select((F.col("open") + F.col("high")).alias("s"))
    assert str(total_col.schema["s"].dataType) == "DecimalType(38,17)"
    assert total_col.first()["s"] == Decimal("1.12345678901234568")


def test_compact_partition_preserves_hive_layout(spark, tmp_path):
    """Compacting a Hive-partitioned directory must keep the key=value
    subdirectory structure (not inline partition columns as data)."""
    path = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2024-01-01", "2024-01-02") for i in range(500)],
        ["day", "k", "v"],
    )
    df.repartition(16).write.partitionBy("day").parquet(path)
    before = len(glob.glob(os.path.join(path, "day=*", "*.parquet")))
    assert before >= 16

    compact_partition(spark, path, target_file_bytes=64 * 1024 * 1024)
    subdirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(path, "day=*"))
    )
    assert subdirs == ["day=2024-01-01", "day=2024-01-02"]
    after = len(glob.glob(os.path.join(path, "day=*", "*.parquet")))
    assert after < before
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert set(back.columns) == {"day", "k", "v"}
    # no leftover swap directories
    assert not os.path.exists(path + "_old")
    assert not os.path.exists(path + "_compacted")
