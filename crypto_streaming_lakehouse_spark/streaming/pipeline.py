"""Structured Streaming bronze→silver→gold pipeline (SURVEY.md §2.6 T1–T7).

Parity: the three reference jobs —
/root/reference/spark/jobs/kafka_to_bronze_trades.py (Kafka→bronze),
bronze_to_silver_trades.py (backfill-then-stream, watermarked dedup),
silver_to_gold_bars.py (watermarked 1-min windowed OHLCV agg) — re-expressed
as plan builders from ``transforms``/``operators.bars`` bound to streaming
sources/sinks here at the edges.

Test harness note: the Kafka source (T1 in §2.1) is exercised by substituting
a parquet file source with the same bronze schema; the readStream/writeStream
mechanics (watermark, stateful dedup, append mode, checkpoints, trigger,
maxFilesPerTrigger throttling) are identical. ``availableNow`` triggers drain
a replayed fixture deterministically, which is how the stream≡batch
equivalence tests run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.bars import ohlcv_bars
from ..schemas import BRONZE_SCHEMA, SILVER_SCHEMA
from ..transforms import bronze_to_silver, dedup_trades, kafka_records_to_bronze

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _use_rocksdb(spark: SparkSession) -> None:
    """Keep the stateful jobs' state in RocksDB with changelog checkpointing.

    Measured strictly better than the on-heap HDFS-backed provider for the
    watermarked-dedup pipeline at the 100k rows/s probe load (SCALE.md
    round-10 table: 97.7k vs 85.7k rows/s sustained, ~106 vs ~350 B/row of
    dedup state), and the only provider whose state is not bounded by
    executor heap. Changelog checkpointing is required whenever dedup state
    evicts on a watermark: plain RocksDB aborts the stream with a "mutation
    occurred during iteration" error on eviction.

    The provider class is recorded in each checkpoint's offset log, and a
    restart restores it from there, so a checkpoint written under another
    provider keeps running under that provider.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def _start(
    df: DataFrame,
    *,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None,
    trigger: dict,
) -> StreamingQuery:
    """Append ``df`` to the parquet table at ``path``."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("compression", "snappy")
        .outputMode("append")
        .trigger(**trigger)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def start_records_to_bronze(
    records: DataFrame,
    *,
    bronze_dir: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Kafka-record-shaped stream → bronze audit sink — the broker-free
    part of the bronze job, shared between the real Kafka reader
    (start_bronze_job) and test drivers.

    CI exercises this as a REAL stream via a ``rate`` source mapped to the
    Kafka record schema (tests/test_streaming.py), so the projection +
    parquet sink + checkpoint execute in a live microbatch loop; only the
    socket to a broker is substituted.
    """
    return _start(
        kafka_records_to_bronze(records),
        path=bronze_dir,
        checkpoint=checkpoint,
        partition_by=None,
        trigger=trigger or {"processingTime": "5 seconds"},
    )


def start_bronze_job(
    spark: SparkSession,
    *,
    bootstrap_servers: str,
    topic: str,
    bronze_dir: str,
    checkpoint: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Kafka → bronze audit table (jobs EP1; S1/T4/T5/T7).

    Raw Kafka records land unparsed — value kept as string next to the
    (topic, partition, offset) lineage — so every downstream layer can be
    rebuilt from bronze. Requires the spark-sql-kafka package on the
    classpath and a reachable broker; everything past the source is
    start_records_to_bronze, which CI runs as a live stream over a
    rate source with the identical record schema.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return start_records_to_bronze(
        reader.load(),
        bronze_dir=bronze_dir,
        checkpoint=checkpoint,
        trigger=trigger,
    )


def start_silver_job(
    spark: SparkSession,
    *,
    bronze_dir: str,
    silver_dir: str,
    checkpoint: str,
    watermark: str = "2 minutes",
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
    backfill: bool = False,
) -> StreamingQuery:
    """Bronze dir → silver dir as a file-source stream (jobs EP2).

    ``backfill=True`` reproduces the reference's hybrid mode: one batch
    read+dedup+write of pre-existing bronze, then the continuous stream
    (T6). ``max_files_per_trigger`` is the file-source backpressure knob
    (T7). The watermarked-dedup state lives in RocksDB with changelog
    checkpointing (see _use_rocksdb).
    """
    _use_rocksdb(spark)
    if backfill:
        batch = dedup_trades(
            bronze_to_silver(spark.read.schema(BRONZE_SCHEMA).parquet(bronze_dir))
        )
        batch.write.mode("append").partitionBy("event_date").parquet(silver_dir)

    reader = spark.readStream.schema(BRONZE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    silver = dedup_trades(
        bronze_to_silver(reader.parquet(bronze_dir)), watermark=watermark
    )
    return _start(
        silver,
        path=silver_dir,
        checkpoint=checkpoint,
        partition_by=["event_date"],
        trigger=trigger or {"availableNow": True},
    )


def start_gold_job(
    spark: SparkSession,
    *,
    silver_dir: str,
    gold_dir: str,
    checkpoint: str,
    bar: str = "1 minute",
    watermark: str = "2 minutes",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Silver dir → gold bars dir; partitioned (bar_date, symbol) for
    day+symbol pruned lookups (silver_to_gold_bars.py:72).

    Append mode emits a bar only once its window is older than the
    watermark, so the output equals the batch aggregation over the closed
    windows (T1+T2). Windowed-agg state lives in RocksDB like the silver
    job's.
    """
    _use_rocksdb(spark)
    silver = spark.readStream.schema(SILVER_SCHEMA).parquet(silver_dir)
    gold = ohlcv_bars(silver.withWatermark("event_time", watermark), bar=bar)
    return _start(
        gold,
        path=gold_dir,
        checkpoint=checkpoint,
        partition_by=["bar_date", "symbol"],
        trigger=trigger or {"availableNow": True},
    )


def run_batch_pipeline(bronze: DataFrame, *, bar: str = "1 minute") -> DataFrame:
    """Batch equivalent of the full bronze→gold pipeline (oracle side of the
    stream≡batch tests)."""
    return ohlcv_bars(dedup_trades(bronze_to_silver(bronze)), bar=bar)


def buy_sell_matches(
    silver: DataFrame,
    *,
    within: str = "1 minute",
    watermark: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream–stream join: each buy matched to same-symbol sells within
    ±`within` of its event time.

    The time-range predicate is what makes streaming state finite: Spark
    derives from it how long a buffered row can still find partners, and
    the watermarks bound that window — state per key is O(rate × (watermark
    + range)), independent of history. Without the range condition a
    stream–stream inner join would buffer both sides forever.

    ``how="leftOuter"`` emits unmatched buys null-padded — but only once
    the watermark proves no partner can still arrive, so outer results
    trail the inner ones by the watermark delay (the late-data price of
    outer semantics on streams).

    On a batch frame the watermarks are no-ops, so the same call builds
    the oracle side of the stream≡batch tests.
    """
    from pyspark.sql import functions as F

    buys = silver.where(F.col("side") == "buy").select(
        F.col("symbol").alias("b_symbol"),
        F.col("event_time").alias("buy_time"),
        F.col("price").alias("buy_price"),
    )
    sells = silver.where(F.col("side") == "sell").select(
        F.col("symbol").alias("s_symbol"),
        F.col("event_time").alias("sell_time"),
        F.col("price").alias("sell_price"),
    )
    buys = buys.withWatermark("buy_time", watermark)
    sells = sells.withWatermark("sell_time", watermark)
    cond = (
        (F.col("b_symbol") == F.col("s_symbol"))
        & (F.col("sell_time") >= F.expr(f"buy_time - INTERVAL {within}"))
        & (F.col("sell_time") <= F.expr(f"buy_time + INTERVAL {within}"))
    )
    return buys.join(sells, cond, how).select(
        F.col("b_symbol").alias("symbol"),
        "buy_time",
        "sell_time",
        "buy_price",
        "sell_price",
    )
