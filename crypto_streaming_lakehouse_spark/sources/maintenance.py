"""Table maintenance: small-file compaction (the parquet-level analogue
of Delta/Iceberg OPTIMIZE; SCALE.md "Table formats" says why neither
runtime is used here).

Streaming sinks and fine-grained partitioning both breed small files;
at 100 TB a scan's task count — and the NameNode/listing pressure — is
driven by file count, so periodic compaction to ~128 MB files is a
standing maintenance job in every lakehouse. Reference parity: the
reference's jobs write whatever file sizes the sink produces and have
no maintenance story (spark/jobs/*.py); this is the missing operational
piece a production deployment adds.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) via the Hadoop FS API — works on
    local paths, HDFS, and object stores alike (driver-side metadata
    listing only, no data read)."""
    jvm = spark._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    n, total = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        n += 1
        total += f.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    target_mb: int = 128,
    sort_by: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite a parquet directory into ~target_mb files.

    The output file count is sized from the SOURCE's actual bytes (a
    metadata listing, no data pass), then the data is rewritten in one
    job: ``repartition(n)`` for plain bin-packing, or
    ``repartitionByRange(n, *sort_by).sortWithinPartitions`` when a
    clustering key is given — the latter also tightens per-file min/max
    ranges so later predicate pushdown skips whole files (the 1-D form
    of what Z-ordering does for multiple dimensions). Returns
    before/after file counts and byte totals for observability.

    Compaction is a full rewrite by design — with plain parquet there is
    no transaction log to commit a partial rewrite against, so the unit
    of atomicity is the directory swap performed by the caller (write to
    a fresh dst, then repoint readers)."""
    files_before, bytes_before = _dir_stats(spark, src)
    n_out = max(1, math.ceil(bytes_before / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    if sort_by:
        df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        df = df.repartition(n_out)
    df.write.mode("overwrite").parquet(dst)
    files_after, bytes_after = _dir_stats(spark, dst)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
        "target_files": n_out,
    }
