"""Sinks with the §4.3 rules baked in: checkpoint-always, partitioned
layout, persist-before-multi-action, bounded triggers.

Covers reference A16–A19: foreachBatch, Avro/Parquet file sinks, JDBC.
The reference runs checkpoint-less at-most-once (SURVEY.md §4.3.4); every
writer here takes a mandatory ``checkpoint`` for exactly-once file-sink
semantics (Spark's file sink commits via the write-ahead manifest).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def start_file_sink(
    df: DataFrame,
    out_dir: str,
    checkpoint: str,
    *,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    trigger: dict | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """Streaming file sink (A17/A19). ``fmt='avro'`` uses the spark-avro
    datasource when on the classpath; without it the pure-Python Avro
    fallback (sources/avro_fallback.py) runs under foreachBatch, writing
    one container-file directory per micro-batch — the reference's A17
    layout (spark/streaming-shorttime.py:73-78) — with overwrite-per-
    batch-id idempotence on replay.

    Partitioning by the derived keys (year/month — reference computes them
    at A6 but writes unpartitioned) is what makes the curated layer
    prunable at 100 TB."""
    try:
        writer: DataStreamWriter = (
            df.writeStream.format(fmt)
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer = _apply_trigger(writer, trigger)
        return writer.start()
    except Exception as e:
        # Only the MISSING-DATASOURCE failure reroutes to the fallback:
        # substring-matching 'avro' anywhere in the message misclassified
        # unrelated errors whose text merely mentioned an avro-named path.
        msg = str(e)
        missing_ds = (
            "FAILED_TO_LOAD_DATA_SOURCE" in msg
            or "Failed to find" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
        )
        if fmt != "avro" or not missing_ds:
            raise
        import os

        from pyspark.sql import functions as F

        from big_data_streaming_spark.sources.avro_fallback import write_avro

        def write_batch(batch: DataFrame, batch_id: int) -> None:
            base = os.path.join(out_dir, f"batch_{batch_id}")
            if not partition_by:
                write_avro(batch, base, mode="overwrite")
                return
            # Preserve the requested hive layout: one container-file dir
            # per partition-key tuple (keys are low-cardinality derived
            # columns — year/month — so the distinct scan is bounded; the
            # batch is persisted to avoid a rescan per key).
            batch.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                keys = batch.select(*partition_by).distinct().collect()
                for row in keys:
                    sub = os.path.join(
                        base,
                        *[f"{k}={row[k]}" for k in partition_by],
                    )
                    part = batch
                    for k in partition_by:
                        part = part.where(F.col(k) == F.lit(row[k]))
                    write_avro(
                        part.drop(*partition_by), sub, mode="overwrite"
                    )
            finally:
                batch.unpersist()

        fb = df.writeStream.foreachBatch(write_batch).option(
            "checkpointLocation", checkpoint
        )
        fb = _apply_trigger(fb, trigger)
        return fb.start()


def start_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    *,
    trigger: dict | None = None,
    persist_batches: bool = True,
) -> StreamingQuery:
    """A16 with the recompute-per-action fix: the batch DataFrame is
    persisted before the callback and unpersisted after, so a callback
    doing count + N writes scans the source once, not N+1 times
    (the reference rescans up to 21×; SURVEY.md §4.3.1)."""

    def wrapped(batch: DataFrame, batch_id: int) -> None:
        if persist_batches:
            batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            fn(batch, batch_id)
        finally:
            if persist_batches:
                batch.unpersist()

    writer = df.writeStream.foreachBatch(wrapped).option(
        "checkpointLocation", checkpoint
    )
    writer = _apply_trigger(writer, trigger)
    return writer.start()


def persisted_nonempty(
    fn: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` callback so the micro-batch runs ONCE: the
    batch is persisted before the ``isEmpty`` probe, so the probe and
    every action in ``fn`` read cached blocks instead of re-running the
    plan (for a stateful query that is the source read, the shuffle and
    the state-store load and commit, per action). Empty batches skip
    ``fn``; the batch is unpersisted in ``finally`` so nothing stays
    pinned between batches."""

    def wrapped(batch: DataFrame, batch_id: int) -> None:
        batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if not batch.isEmpty():
                fn(batch, batch_id)
        finally:
            batch.unpersist()

    return wrapped


def window_topk_sink(
    out_dir: str, *, key: str, value: str, k: int
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` ranker for an append-mode windowed aggregate with
    columns ``(w, key, value)``: each batch holds only watermark-finalized
    windows, so it ranks each window's rows by ``value`` descending (ties
    by ``key``), keeps the top ``k`` and writes them as
    ``out_dir/batch_<id>/`` parquet with columns
    ``(window_start, key, value, rk)``.

    One subdir per micro-batch in OVERWRITE mode: a batch replayed from
    the WAL after a crash rewrites its own dir instead of double-appending
    (the same idempotence contract as :func:`write_jdbc_idempotent`).
    Runs under :func:`persisted_nonempty`, so the batch is evaluated once.
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def rank_and_append(batch: DataFrame, batch_id: int) -> None:
        rw = Window.partitionBy("w").orderBy(F.desc(value), key)
        (
            batch.withColumn("rk", F.row_number().over(rw).cast("bigint"))
            .filter(F.col("rk") <= k)
            .select(F.col("w.start").alias("window_start"), key, value, "rk")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_{batch_id}"))
        )

    return persisted_nonempty(rank_and_append)


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    *,
    user: str,
    password: str,
    batchsize: int = 10_000,
) -> None:
    """A18: JDBC append. For exactly-once under retries the target table
    needs a natural key (coin, interval, timestamp) with upsert semantics;
    plain append is at-least-once — callers choose per SURVEY.md §7
    hard-part #2."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", str(batchsize))
        .mode("append")
        .save()
    )


def write_jdbc_idempotent(
    df: DataFrame,
    url: str,
    table: str,
    batch_id: int,
    *,
    driver: str | None = None,
    **options: str,
) -> None:
    """Exactly-once-per-batch JDBC write (SURVEY.md §7 hard-part #2).

    Plain append from ``foreachBatch`` is at-least-once: a retried batch
    duplicates rows. This writer stamps every row with ``_batch_id`` and
    DELETEs that batch's rows before inserting, so replays converge to
    one copy — the standard idempotent-sink recipe when the target has no
    native MERGE. The delete runs on the driver (one statement); inserts
    stream from executors as usual.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    stamped = df.withColumn("_batch_id", F.lit(batch_id))
    # Driver-side delete via JVM JDBC (no extra Python deps). Credentials
    # and other connection options must reach this path too, not just the
    # DataFrame insert below.
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    if driver:
        props.setProperty("driver", driver)
        jvm.java.lang.Class.forName(driver)
    for k, v in options.items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        # Only a genuinely-missing table may skip the delete; any other
        # failure (lock timeout, lost connection, permissions) must abort
        # the batch — silently degrading to plain append would duplicate
        # rows on replay, defeating the idempotence contract. The probe is
        # schema-qualified: an unfiltered catalog enumeration matched a
        # same-named table in ANOTHER schema, wedging the stream on a
        # DELETE against a table Spark's append had yet to create.
        parts = table.split(".")
        schema_pat = parts[-2].upper() if len(parts) > 1 else None
        table_pat = parts[-1].upper()
        meta = conn.getMetaData()
        # JDBC metadata patterns are case-sensitive; probe the common
        # casings (Derby/Oracle store upper, Postgres lower, MySQL as-is).
        exists = False
        for pat in {table_pat, table_pat.lower(), parts[-1]}:
            sp = None
            if schema_pat is not None:
                sp = schema_pat if pat == table_pat else (
                    schema_pat.lower() if pat == table_pat.lower() else parts[-2]
                )
            rs = meta.getTables(None, sp, pat, None)
            try:
                if rs.next():
                    exists = True
                    break
            finally:
                rs.close()
        if exists:
            # Quote the column per dialect: MySQL default mode rejects
            # ANSI double quotes (Spark's own writer backticks there).
            q = "`" if url.startswith("jdbc:mysql") else '"'
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(
                    f"DELETE FROM {table} WHERE {q}_batch_id{q} = {int(batch_id)}"
                )
            finally:
                stmt.close()
    finally:
        conn.close()

    writer = (
        stamped.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode("append")
    )
    if driver:
        writer = writer.option("driver", driver)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def read_jdbc_partitioned(
    spark,
    url: str,
    table: str,
    *,
    partition_column: str,
    lower_bound,
    upper_bound,
    num_partitions: int = 16,
    schema=None,
    **options: str,
):
    """A14 with the single-task fix: bound-partitioned JDBC scan (the
    reference reads whole tables in ONE task —
    spark/streaming-longtime-raw.py:105-114; SURVEY.md §4.3.5)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load()


def _apply_trigger(writer: DataStreamWriter, trigger: dict | None) -> DataStreamWriter:
    if trigger:
        writer = writer.trigger(**trigger)
    return writer


def start_upsert_sink(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    *,
    keys: tuple[str, ...],
    partition_keys: tuple[str, ...] = (),
    order_col: str | None = None,
    fmt: str = "parquet",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming CDC upsert: every micro-batch is MERGEd into the parquet
    target by key (operators/upsert.py) instead of appended — the
    streaming half of the curated-layer UPDATE story. Late corrections
    and re-deliveries converge to last-write-wins state (pass
    ``order_col``) and replays are idempotent: merging the same batch
    twice is a no-op, so foreachBatch's at-least-once contract yields an
    exactly-once *table state*.

    At 100 TB pass ``partition_keys`` so each micro-batch rewrites only
    the partitions it touches (dynamic partition overwrite), not the
    table."""
    from big_data_streaming_spark.operators.upsert import merge_upsert

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch.sparkSession,
            target_path,
            batch,
            keys=keys,
            partition_keys=partition_keys,
            order_col=order_col,
            fmt=fmt,
        )

    return start_foreach_batch(
        df, merge_batch, checkpoint, trigger=trigger
    )


def start_fanout_sink(
    df: DataFrame,
    checkpoint: str,
    *,
    parquet_dir: str,
    jdbc_url: str | None = None,
    jdbc_table: str | None = None,
    jdbc_driver: str | None = None,
    trigger: dict | None = None,
    **jdbc_options: str,
) -> StreamingQuery:
    """Multi-sink fan-out: each micro-batch lands in a parquet batch dir
    AND (optionally) a JDBC table, from ONE evaluation of the batch — it
    rides :func:`start_foreach_batch`'s persist, so the source is scanned
    once per batch, not once per sink. Both legs are idempotent under
    WAL replay: parquet overwrites ``batch_<id>/``, JDBC goes through
    :func:`write_jdbc_idempotent`'s delete-then-insert keyed on
    ``_batch_id``. This is the reference's "store to lake AND serve from
    the DB" pattern (spark/streaming-longtime.py writes the same data to
    parquet and per-key tables in separate jobs) collapsed into one
    exactly-once pass.
    """
    import os

    def fan_out(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(parquet_dir, f"batch_{batch_id}")
        )
        if jdbc_url and jdbc_table:
            write_jdbc_idempotent(
                batch, jdbc_url, jdbc_table, batch_id,
                driver=jdbc_driver, **jdbc_options,
            )

    return start_foreach_batch(
        df, fan_out, checkpoint, trigger=trigger, persist_batches=True
    )
