"""Stream-stream interval join: batch equivalence + bounded state.

Replay is in event-time order, so even a modest watermark loses no matches
(a row is never late); what the watermark DOES do is let the state store
evict buffered rows whose join band has passed — asserted here with the
progress listener: peak state rows stay well under total input rows.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.operators.asof import range_join
from fdp_dynamically_controlled_streams_spark.sources.registry import (
    replay_dir,
    write_replay_chunks,
)
from fdp_dynamically_controlled_streams_spark.streaming.drain import drain
from fdp_dynamically_controlled_streams_spark.streaming.interval_join import (
    interval_join_streams,
)
from fdp_dynamically_controlled_streams_spark.streaming.monitor import (
    ProgressRecorder,
)

DDL = "user_id int, ts timestamp, amount double"
BAND = "INTERVAL 30 MINUTES"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dcs-ivj-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(side: int, hours: int = 6):
    # per user: one row every 20 min (left) / every 25 min shifted (right),
    # spread over `hours` hours so many watermark advances happen
    t0 = dt.datetime(2024, 3, 1)
    out = []
    step = 20 if side == 0 else 25
    for u in (1, 2, 3):
        t = t0 + dt.timedelta(minutes=7 * side + u)
        while t < t0 + dt.timedelta(hours=hours):
            out.append((u, t, float(u) + side))
            t += dt.timedelta(minutes=step)
    return out


def _write(rows, path, chunk_minutes=60):
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "amount"]).sort_values("ts")
    pdf["user_id"] = pdf["user_id"].astype("int32")
    # micros, not pandas-default nanos: the engine session reads parquet
    # TIMESTAMP(NANOS) as long (schemas.py nanosAsLong), so a nanos file
    # would type-mismatch the declared timestamp column
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    t0 = pdf["ts"].min()
    chunks = [
        g.reset_index(drop=True)
        for _, g in pdf.groupby(
            ((pdf["ts"] - t0).dt.total_seconds() // (chunk_minutes * 60)).astype(int)
        )
    ]
    write_replay_chunks(chunks, path)


def _streaming_pairs(spark, tmp, watermark="30 minutes", how="inner",
                     right_rows=None, left_rows=None):
    _write(left_rows if left_rows is not None else _rows(0), f"{tmp}/left")
    _write(right_rows if right_rows is not None else _rows(1), f"{tmp}/right")
    l = replay_dir(spark, f"{tmp}/left", DDL, files_per_trigger=1)
    r = replay_dir(spark, f"{tmp}/right", DDL, files_per_trigger=1)
    joined = interval_join_streams(
        l, r, "user_id", "ts", "ts", F.expr("INTERVAL 0 SECONDS"),
        F.expr(BAND), watermark, how=how,
    )
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    collected: list = []
    try:
        drain(
            joined,
            lambda bdf, bid: collected.extend(bdf.collect()),
            f"{tmp}/chk",
        )
    finally:
        spark.streams.removeListener(rec)
    # None-safe sort key: fullOuter right-null rows have l_* = None
    _min = dt.datetime.min
    pairs = sorted(
        ((x.l_user_id, x.l_ts, x.r_ts) for x in collected),
        key=lambda p: (p[0] if p[0] is not None else -1,
                       p[1] or _min, p[2] or _min),
    )
    peak_state = max((b.state_rows or 0) for b in rec.batches)
    return pairs, peak_state


def test_matches_equal_batch_range_join_and_state_is_bounded(spark, tmpdir):
    got, peak_state = _streaming_pairs(spark, tmpdir)

    left = spark.createDataFrame(_rows(0), DDL)
    right = spark.createDataFrame(_rows(1), DDL)
    batch = range_join(
        left, right, "user_id", "ts", "ts",
        F.expr("INTERVAL 0 SECONDS"), F.expr(BAND),
    )
    want = sorted(
        (x.u, x.lts, x.rts)
        for x in batch.select(
            F.col("l.user_id").alias("u"),
            F.col("l.ts").alias("lts"),
            F.col("r.ts").alias("rts"),
        ).collect()
    )
    assert got == want
    assert len(got) > 50  # the scenario actually joins plenty
    # bounded state: 6 h of data, 30 min band + 30 min watermark -> state
    # holds ~2 h of rows, far below the full input
    total_rows = len(_rows(0)) + len(_rows(1))
    assert 0 < peak_state < total_rows * 0.75


def test_left_outer_nulls_are_watermark_driven_and_state_bounded(spark, tmpdir):
    """LEFT OUTER twin of the eviction test (r4 verdict task 1): the outer
    side's state drop is what *produces* the NULL rows — a buffered left row
    emits (l, NULL) exactly when the global watermark passes its band and the
    store evicts it.  So asserting (a) the NULL set equals the closed-form
    watermark rule and (b) peak state stays bounded proves outer eviction,
    mirroring the inner entry's listener assertion."""
    # Gap the right stream over hours 2-4 so plenty of mid-stream left rows
    # are unmatched with their band fully below the final watermark (the
    # regular cadence otherwise matches every left row).
    t0 = dt.datetime(2024, 3, 1)
    gap_lo, gap_hi = t0 + dt.timedelta(hours=2), t0 + dt.timedelta(hours=4)
    rrows = [r for r in _rows(1) if not (gap_lo <= r[1] < gap_hi)]
    got, peak_state = _streaming_pairs(
        spark, tmpdir, how="leftOuter", right_rows=rrows
    )

    left = spark.createDataFrame(_rows(0), DDL)
    right = spark.createDataFrame(rrows, DDL)
    batch = range_join(
        left, right, "user_id", "ts", "ts",
        F.expr("INTERVAL 0 SECONDS"), F.expr(BAND),
    )
    matched = sorted(
        (x.u, x.lts, x.rts)
        for x in batch.select(
            F.col("l.user_id").alias("u"),
            F.col("l.ts").alias("lts"),
            F.col("r.ts").alias("rts"),
        ).collect()
    )
    # Watermark rule: wm = min(max_l, max_r) - delay; a left row with no
    # match emits (l, NULL) iff its whole band [ts, ts+band] is below wm.
    band = dt.timedelta(minutes=30)
    delay = dt.timedelta(minutes=30)
    lrows = _rows(0)
    wm = min(max(t for _, t, _ in lrows), max(t for _, t, _ in rrows)) - delay
    matched_left = {(u, lts) for u, lts, _ in matched}
    want_nulls = sorted(
        (u, t, None)
        for u, t, _ in lrows
        if (u, t) not in matched_left and t + band < wm
    )
    got_nulls = sorted(p for p in got if p[2] is None)
    got_matched = sorted(p for p in got if p[2] is not None)
    assert got_matched == matched
    assert got_nulls == want_nulls
    assert len(got_nulls) > 0  # the scenario exercises the outer path
    total_rows = len(lrows) + len(rrows)
    assert 0 < peak_state < total_rows * 0.75


def test_resume_from_checkpoint_no_loss_no_dup(spark, tmpdir):
    """Restart semantics for the stream-stream join: run with only the
    first chunks present, stop, add the remaining chunks, resume from the
    SAME checkpoint — the union of both runs' outputs must equal the
    one-shot result exactly (join state and source offsets both recovered;
    no lost pairs, no duplicates)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    lrows, rrows = _rows(0), _rows(1)
    lp = pd.DataFrame(lrows, columns=["user_id", "ts", "amount"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["user_id", "ts", "amount"]).sort_values("ts")
    for pdf in (lp, rp):
        pdf["user_id"] = pdf["user_id"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    half_l, half_r = len(lp) // 2, len(rp) // 2
    write_replay_chunks([lp.iloc[:half_l].reset_index(drop=True)], f"{tmpdir}/left")
    write_replay_chunks([rp.iloc[:half_r].reset_index(drop=True)], f"{tmpdir}/right")

    collected: list = []

    def run():
        l = replay_dir(spark, f"{tmpdir}/left", DDL, files_per_trigger=1)
        r = replay_dir(spark, f"{tmpdir}/right", DDL, files_per_trigger=1)
        joined = interval_join_streams(
            l, r, "user_id", "ts", "ts", F.expr("INTERVAL 0 SECONDS"),
            F.expr(BAND), "30 minutes",
        )
        drain(
            joined,
            lambda bdf, bid: collected.extend(bdf.collect()),
            f"{tmpdir}/chk",
        )

    run()
    n_first = len(collected)
    for side, pdf, half in (("left", lp, half_l), ("right", rp, half_r)):
        fp = f"{tmpdir}/{side}/chunk-99999.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[half:], preserve_index=False), fp
        )
        os.utime(fp, (1_700_000_100, 1_700_000_100))
    run()
    got = sorted((x.l_user_id, x.l_ts, x.r_ts) for x in collected)

    batch = range_join(
        spark.createDataFrame(lrows, DDL), spark.createDataFrame(rrows, DDL),
        "user_id", "ts", "ts", F.expr("INTERVAL 0 SECONDS"), F.expr(BAND),
    )
    want = sorted(
        (x.u, x.lts, x.rts)
        for x in batch.select(
            F.col("l.user_id").alias("u"),
            F.col("l.ts").alias("lts"),
            F.col("r.ts").alias("rts"),
        ).collect()
    )
    assert got == want  # no loss, no duplication across the restart
    assert 0 < n_first < len(want)  # the restart actually split the work


def test_full_outer_nulls_on_both_sides(spark, tmpdir):
    """FULL OUTER trio completion: left-null rule as above PLUS the right
    side's own deadline — an unmatched right row emits (NULL, r) once the
    watermark passes r.ts (any future left starts after it)."""
    t0 = dt.datetime(2024, 3, 1)
    # gap the RIGHT over hours 2-4 (-> left-null rows) and the LEFT over
    # hours 1-2 (-> rights in (1.5h, 2h) have no left within their
    # look-back band -> right-null rows), both well below the watermark
    gap_lo, gap_hi = t0 + dt.timedelta(hours=2), t0 + dt.timedelta(hours=4)
    rrows = [r for r in _rows(1) if not (gap_lo <= r[1] < gap_hi)]
    lgap_lo, lgap_hi = t0 + dt.timedelta(hours=1), t0 + dt.timedelta(hours=2)
    lrows = [r for r in _rows(0) if not (lgap_lo <= r[1] < lgap_hi)]
    got, peak_state = _streaming_pairs(
        spark, tmpdir, how="fullOuter", right_rows=rrows, left_rows=lrows
    )

    left = spark.createDataFrame(lrows, DDL)
    right = spark.createDataFrame(rrows, DDL)
    batch = range_join(
        left, right, "user_id", "ts", "ts",
        F.expr("INTERVAL 0 SECONDS"), F.expr(BAND),
    )
    matched = sorted(
        (x.u, x.lts, x.rts)
        for x in batch.select(
            F.col("l.user_id").alias("u"),
            F.col("l.ts").alias("lts"),
            F.col("r.ts").alias("rts"),
        ).collect()
    )
    band, delay = dt.timedelta(minutes=30), dt.timedelta(minutes=30)
    wm = min(max(t for _, t, _ in lrows), max(t for _, t, _ in rrows)) - delay
    matched_left = {(u, lts) for u, lts, _ in matched}
    matched_right = {(u, rts) for u, _, rts in matched}
    want_lnulls = sorted(
        (u, t, None) for u, t, _ in lrows
        if (u, t) not in matched_left and t + band < wm
    )
    want_rnulls = sorted(
        (u, None, t) for u, t, _ in rrows
        if (u, t) not in matched_right and t < wm
    )
    # fullOuter output rows carry l_user_id OR r_user_id; _streaming_pairs
    # keys on l_user_id, so right-null rows surface with l fields None.
    got_matched = sorted(p for p in got if p[1] is not None and p[2] is not None)
    got_lnulls = sorted(p for p in got if p[2] is None)
    got_rnulls = sorted(p for p in got if p[1] is None)
    assert got_matched == matched
    assert got_lnulls == want_lnulls
    assert len(want_rnulls) > 0
    assert len(got_rnulls) == len(want_rnulls)
    # the helper keys on l_* fields, so right-null rows only surface r_ts;
    # compare the timestamp multisets
    assert sorted(p[2] for p in got_rnulls) == sorted(p[2] for p in want_rnulls)
    total_rows = len(lrows) + len(rrows)
    assert 0 < peak_state < total_rows * 0.75


def test_left_semi_emits_once_per_matched_left_row(spark, tmpdir):
    """LEFT SEMI law: a left row with MANY in-band matches emits exactly
    once (the streaming form of EXISTS — the inner join's multiplicity
    would violate this), an unmatched left row never emits, and only
    left-side columns come out."""
    t0 = dt.datetime(2024, 3, 1)
    m = dt.timedelta(minutes=1)
    left = [(1, t0 + 10 * m, 1.0), (2, t0 + 10 * m, 2.0), (3, t0 + 10 * m, 3.0)]
    right = (
        [(1, t0 + (12 + i) * m, 0.0) for i in range(3)]  # 3 in-band clicks
        + [(3, t0 + 20 * m, 0.0)]                        # 1 in-band click
        + [(2, t0 + 300 * m, 0.0)]                       # out-of-band only
        # late tail rows so the watermark advances past every band
        + [(9, t0 + (400 + i * 30) * m, 0.0) for i in range(4)]
    )
    _write(left, f"{tmpdir}/left", chunk_minutes=30)
    _write(right, f"{tmpdir}/right", chunk_minutes=30)
    l = replay_dir(spark, f"{tmpdir}/left", DDL, files_per_trigger=1)
    r = replay_dir(spark, f"{tmpdir}/right", DDL, files_per_trigger=1)
    joined = interval_join_streams(
        l, r, "user_id", "ts", "ts", F.expr("INTERVAL 0 SECONDS"),
        F.expr(BAND), "30 minutes", how="leftSemi",
    )
    assert all(c.startswith("l_") for c in joined.columns)  # left side only
    collected: list = []
    drain(
        joined,
        lambda bdf, bid: collected.extend(bdf.collect()),
        f"{tmpdir}/chk",
    )
    got = sorted((x.l_user_id, x.l_ts) for x in collected)
    assert got == [(1, t0 + 10 * m), (3, t0 + 10 * m)]  # once each, no user 2
