"""Data-layout management: Z-order clustering keys and small-file compaction.

At 100 TB the dominant read cost is *which bytes the scan can skip*. Two
layout tools the reference never needed at demo scale (SURVEY §6 — one
sensor, one partition):

* **Z-order key** — interleave the bits of two bucketized dimensions so rows
  close in EITHER dimension land close in the sort order. Writing a table
  sorted by ``zorder_key(user_bucket, time_bucket)`` gives parquet row-group
  min/max stats that prune on BOTH predicates, where a lexicographic sort
  prunes only its leading column. Pure integer bit-arithmetic: codegen'd
  JVM-side, reproducible in ANSI SQL (oracle-checkable).

* **Compaction** — streaming sinks and fine-grained partitions accumulate
  small files; a 100 TB table of 1 MB files spends more time opening footers
  than reading data. ``compact_parquet`` rewrites a directory to
  size-targeted files with one job: input bytes are measured from the files
  themselves, the row distribution comes from ``repartitionByRange`` on the
  sort key (keeps the clustering property), and the file count is
  ``ceil(bytes / target)``.
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_key(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    result bit 2i = bit i of ``a``, bit 2i+1 = bit i of ``b``.
    Callers bucketize raw values first (e.g. ``pmod(hash, 1<<bits)`` or
    epoch-hour) — interleaving raw skewed domains wastes high bits."""
    ca = (F.col(a) if isinstance(a, str) else a).cast("bigint")
    cb = (F.col(b) if isinstance(b, str) else b).cast("bigint")
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(ca, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def zorder_key_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`zorder_key` (same shift/mask arithmetic)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    a: str,
    b: str,
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Write parquet clustered by the Z-order of (a, b): range-partition on
    the key (equal-size output files, preserves global order across files so
    file-level min/max stats are disjoint), sort within partitions."""
    z = zorder_key(a, b, bits).alias("_z")
    out = df.withColumn("_z", z)
    n = n_files or out.rdd.getNumPartitions()
    (
        out.repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_key: str | None = None,
) -> int:
    """Rewrite a parquet directory into ``ceil(input_bytes /
    target_file_bytes)`` files (at least one), each holding about
    ``input_bytes / n`` <= the target; returns the output file count. With
    ``sort_key``, range-partitions on it so the rewrite preserves (or
    establishes) clustering; otherwise round-robin."""
    total = sum(p.stat().st_size for p in Path(src).glob("**/*.parquet"))
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src)
    df = df.repartitionByRange(n, sort_key) if sort_key else df.repartition(n)
    df.write.mode("overwrite").parquet(dst)
    return len(list(Path(dst).glob("*.parquet")))
