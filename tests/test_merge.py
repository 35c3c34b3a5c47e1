"""CDC merge operators: latest-wins, tombstones, SCD2, streaming upsert sink."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest

from fdp_dynamically_controlled_streams_spark.operators.merge import (
    latest_by_key,
    merge_upsert,
    read_snapshot,
    scd2_history,
    upsert_sink,
)
from fdp_dynamically_controlled_streams_spark.sources.registry import (
    replay_dir,
    write_replay_chunks,
)
from fdp_dynamically_controlled_streams_spark.streaming.drain import drain

DDL = "k long, v string, op string, seq long"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dcs-merge-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(rows, DDL)


def test_latest_by_key_picks_max_order(spark):
    df = _df(
        spark,
        [(1, "a", "u", 1), (1, "b", "u", 3), (1, "c", "u", 2), (2, "x", "u", 1)],
    )
    got = {r.k: r.v for r in latest_by_key(df, ["k"], ["seq"]).collect()}
    assert got == {1: "b", 2: "x"}


def test_merge_upsert_insert_update_delete_ties(spark):
    target = _df(spark, [(1, "old", "u", 5), (2, "keep", "u", 5), (3, "gone", "u", 5)])
    changes = _df(
        spark,
        [
            (1, "new", "u", 9),   # update
            (3, None, "d", 9),    # delete
            (4, "ins", "u", 9),   # insert
            (2, "tie", "u", 5),   # exact seq tie: change side must win
        ],
    )
    merged = merge_upsert(target, changes, ["k"], ["seq"], op_col="op")
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: "new", 2: "tie", 4: "ins"}  # 3 tombstoned
    # a later change can re-insert a deleted key
    reborn = merge_upsert(
        merged, _df(spark, [(3, "back", "u", 11)]), ["k"], ["seq"], op_col="op"
    )
    assert {r.k: r.v for r in reborn.collect()}[3] == "back"


def test_scd2_intervals_and_suppression(spark):
    changes = _df(
        spark,
        [
            (1, "a", "u", 1),
            (1, "a", "u", 2),  # no-op touch: suppressed
            (1, "b", "u", 3),
            (1, None, "u", 4),  # null tracked value opens an interval
            (1, None, "u", 5),  # null == null under eqNullSafe: suppressed
            (2, "z", "u", 7),
        ],
    )
    got = sorted(
        (
            (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_history(changes, ["k"], "seq", ["v"]).collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert got == [
        (1, "a", 1, 3, False),
        (1, "b", 3, 4, False),
        (1, None, 4, None, True),
        (2, "z", 7, None, True),
    ]
    # without suppression, every touch opens an interval
    raw = scd2_history(changes, ["k"], "seq", ["v"], suppress_unchanged=False)
    assert raw.count() == 6


def test_upsert_sink_maintains_snapshot_idempotently(spark, tmpdir):
    rows = [
        (1, "a", "u", 1),
        (2, "b", "u", 2),
        (1, "a2", "u", 3),
        (3, "c", "u", 4),
        (2, None, "d", 5),
        (4, "dd", "u", 6),
    ]
    pdf = pd.DataFrame(rows, columns=["k", "v", "op", "seq"])
    write_replay_chunks(
        [pdf.iloc[i : i + 2] for i in range(0, len(pdf), 2)], f"{tmpdir}/replay"
    )
    table_dir = f"{tmpdir}/snapshot"
    sink = upsert_sink(spark, table_dir, ["k"], ["seq"], op_col="op")
    drain(
        replay_dir(spark, f"{tmpdir}/replay", DDL, files_per_trigger=1),
        sink,
        f"{tmpdir}/chk",
    )
    snap = read_snapshot(spark, table_dir)
    got = {r.k: (r.v, r.seq) for r in snap.collect()}
    assert got == {1: ("a2", 3), 3: ("c", 4), 4: ("dd", 6)}  # 2 tombstoned
    # replaying a committed batch is a no-op (version dir already exists)
    sink(spark.createDataFrame([(1, "XXX", "u", 99)], DDL), 0)
    again = {r.k: (r.v, r.seq) for r in read_snapshot(spark, table_dir).collect()}
    assert again == got


def test_read_snapshot_empty_dir_is_none(spark, tmpdir):
    assert read_snapshot(spark, f"{tmpdir}/nope") is None
