"""Z-order key laws + locality benefit; compaction file-count contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.operators.layout import (
    compact_parquet,
    write_zordered,
    zorder_key,
)


def _py_zorder(a: int, b: int, bits: int) -> int:
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_zorder_matches_reference_bit_interleave(spark):
    df = spark.range(500).select(
        (F.col("id") % 31).alias("a"), (F.col("id") % 17).alias("b")
    )
    got = df.select("a", "b", zorder_key("a", "b", bits=8).alias("z")).collect()
    for r in got:
        assert r.z == _py_zorder(r.a, r.b, 8), (r.a, r.b)


def test_zorder_locality_beats_lexicographic(spark):
    # 64x64 grid; compare per-block spread of the SECOND dimension after
    # sorting by zkey vs sorting lexicographically by (a, b). A lexicographic
    # block at fixed `a` spans the full b-range of the grid; z-order blocks
    # stay tight in both dims — that is the row-group pruning win.
    import pandas as pd

    n = 64
    rows = [(a, b) for a in range(n) for b in range(n)]
    pdf = pd.DataFrame(rows, columns=["a", "b"])
    pdf["z"] = [_py_zorder(a, b, 6) for a, b in rows]

    def block_spread(sorted_pdf, col, n_blocks=64):
        k = len(sorted_pdf) // n_blocks
        spans = [
            sorted_pdf[col].iloc[i * k : (i + 1) * k].agg(["min", "max"])
            for i in range(n_blocks)
        ]
        return sum(s["max"] - s["min"] for s in spans) / n_blocks

    lex = pdf.sort_values(["a", "b"])
    zed = pdf.sort_values("z")
    # dim a: both cluster it (lex leads with it; z interleaves it)
    assert block_spread(zed, "a") <= 8
    # dim b: lexicographic blocks span ~the whole axis; z-order stays tight
    assert block_spread(lex, "b") > 32
    assert block_spread(zed, "b") <= 8


def test_write_zordered_files_have_disjoint_key_ranges(spark, tmp_path):
    import pyarrow.parquet as pq
    from pathlib import Path

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"), ((F.col("id") * 7) % 64).alias("b")
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, "a", "b", bits=6, n_files=4)
    files = sorted(Path(out).glob("*.parquet"))
    assert len(files) == 4
    # range-partitioned on the (dropped) key: per-file z-ranges are disjoint,
    # checked via the surviving dims' recomputed z bounds
    ranges = []
    for f in files:
        t = pq.read_table(f).to_pandas()
        z = [_py_zorder(a, b, 6) for a, b in zip(t["a"], t["b"])]
        ranges.append((min(z), max(z)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # no overlap => file-level stats prune cleanly


def test_compact_parquet_hits_target_count(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    # 32 tiny files
    spark.range(100_000).repartition(32).write.parquet(src)
    from pathlib import Path

    n_src = len(list(Path(src).glob("*.parquet")))
    assert n_src == 32
    total = sum(p.stat().st_size for p in Path(src).glob("*.parquet"))
    # ceil(total / 3) bytes per file: the smallest target that fits in 3
    n_out = compact_parquet(spark, src, dst, target_file_bytes=-(-total // 3))
    assert n_out == 3
    assert spark.read.parquet(dst).count() == 100_000


def test_sorted_layout_files_are_range_disjoint(spark):
    """The property that makes layout_sorted_minmax_pruned_read's skipping
    real: the range-partitioned sorted write produces parquet files whose
    l_shipdate [min, max] ranges do not overlap, so a pushed date window
    predicate prunes every non-overlapping file at row-group-stats level;
    a 3-month window over the ~7-year table must leave most files fully
    prunable."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from fdp_dynamically_controlled_streams_spark.queries import spark_queries
    from fdp_dynamically_controlled_streams_spark.sources.registry import (
        cached_fixture,
    )

    sf = "/root/testdata/sf0.01"
    spark_queries()["layout_sorted_minmax_pruned_read"](spark, sf).collect()
    root = cached_fixture("layout_sorted_minmax", sf, lambda p: None)
    files = sorted(Path(f"{root}/data").glob("*.parquet"))
    assert len(files) >= 4
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["l_shipdate"]).to_pandas()
        ranges.append((t["l_shipdate"].min(), t["l_shipdate"].max()))
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint => min-max skipping is effective
    # the query window overlaps at most 2 of the >=4 files
    import pandas as pd

    lo, hi = pd.Timestamp("1997-03-01"), pd.Timestamp("1997-06-01")
    overlapping = sum(1 for mn, mx in ranges if mx >= lo and mn < hi)
    assert overlapping <= 2, ranges
