"""The measured operations: calls into the package's public functions.

Nothing here reaches inside the package. The batch backfill writes silver
with ``transforms`` and gold with ``operators.bars``, the analyst mix reads
gold through ``operators.analysis``, and the stream replay starts the
``streaming.pipeline`` jobs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from crypto_streaming_lakehouse_spark import transforms
from crypto_streaming_lakehouse_spark.operators import analysis, bars
from crypto_streaming_lakehouse_spark.schemas import BRONZE_SCHEMA
from crypto_streaming_lakehouse_spark.session import get_spark
from crypto_streaming_lakehouse_spark.streaming import pipeline

TOP_K = 20


def start_spark(cpus: int, work: str):
    """The engine's session factory, with every scratch path under ``work``.

    The process environment must already point TMPDIR, SPARK_LOCAL_DIRS and
    JAVA_TOOL_OPTIONS there (see run.pin_dirs) before the JVM starts.
    """
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bronze(spark, bronze_dir: str):
    return spark.read.schema(BRONZE_SCHEMA).parquet(bronze_dir)


def build(
    spark, tracer, bronze_dir: str, silver_dir: str, gold_dir: str, *, layers: bool = False
) -> float:
    """Batch backfill bronze → silver → gold; returns its wall seconds.

    With ``layers``, the parse and the parse plus dedup first run on their
    own to the noop sink, so the trace can take each layer's share apart.
    """
    if layers:
        with tracer.span("transforms.bronze_to_silver"):
            _noop(transforms.bronze_to_silver(bronze(spark, bronze_dir)))
        with tracer.span("transforms.dedup_trades", minus="transforms.bronze_to_silver"):
            _noop(transforms.dedup_trades(transforms.bronze_to_silver(bronze(spark, bronze_dir))))
    t0 = time.perf_counter()
    with tracer.span("sources.silver_write", minus="transforms.dedup_trades"):
        silver = transforms.dedup_trades(transforms.bronze_to_silver(bronze(spark, bronze_dir)))
        silver.write.partitionBy("event_date").parquet(silver_dir)
    with tracer.span("operators.bars"):
        gold = bars.ohlcv_bars(spark.read.parquet(silver_dir))
        gold.write.partitionBy("bar_date", "symbol").parquet(gold_dir)
    return time.perf_counter() - t0


def query_mix(spark, tracer, gold_dir: str, rounds: list[tuple[str, str]]) -> tuple[list, list]:
    """One closed-loop client over persisted gold. Each round runs the full
    anomaly scan, the top-K most recent bars of one symbol, and the bars
    of one (bar_date, symbol) partition. Returns the latency of each query
    in ms and the answers of the two point queries."""
    latencies, answers = [], []
    with tracer.span("operators.analysis"):
        for symbol, bar_date in rounds:
            t0 = time.perf_counter()
            _noop(analysis.anomaly_signals(spark.read.parquet(gold_dir)))
            t1 = time.perf_counter()
            sym = spark.read.parquet(gold_dir).where(F.col("symbol") == symbol)
            top = analysis.top_k_recent(sym, TOP_K).select(F.unix_micros("bar_start")).collect()
            t2 = time.perf_counter()
            lookup = (
                spark.read.parquet(gold_dir)
                .where((F.col("bar_date") == bar_date) & (F.col("symbol") == symbol))
                .collect()
            )
            t3 = time.perf_counter()
            latencies += [(t1 - t0) * 1e3, (t2 - t1) * 1e3, (t3 - t2) * 1e3]
            answers.append((symbol, bar_date, [r[0] for r in top], len(lookup)))
    return latencies, answers


def anomaly_flags(spark, gold_dir: str):
    """The flags the analyst scan computes, as an arrow table for the check."""
    return (
        analysis.anomaly_signals(spark.read.parquet(gold_dir))
        .select(
            "symbol",
            F.unix_timestamp("bar_start").alias("ts_s"),
            "is_return_anom",
            "is_volume_anom",
        )
        .toArrow()
    )


def replay(spark, tracer, bronze_dir: str, out: str) -> tuple[float, list, list, tuple]:
    """Replay bronze through the silver job, one file per micro-batch, then
    drain the silver it wrote through the gold job (both ``availableNow``).

    Returns the wall seconds from silver start to gold end, the progress
    events of both queries, and the two queries. A query that ends with an
    exception raises it from ``awaitTermination``.
    """
    t0 = time.perf_counter()
    with tracer.span("streaming.silver"):
        qs = pipeline.start_silver_job(
            spark,
            bronze_dir=bronze_dir,
            silver_dir=f"{out}/silver",
            checkpoint=f"{out}/ckpt_silver",
            max_files_per_trigger=1,
        )
        qs.awaitTermination()
    with tracer.span("streaming.gold"):
        qg = pipeline.start_gold_job(
            spark,
            silver_dir=f"{out}/silver",
            gold_dir=f"{out}/gold",
            checkpoint=f"{out}/ckpt_gold",
        )
        qg.awaitTermination()
    wall = time.perf_counter() - t0
    return wall, tracer.stream_progress(qs), tracer.stream_progress(qg), (qs, qg)
