"""CUSUM window-identity law: the two-window closed form must equal the
sequential recurrence exactly, and the plan must be one exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.operators.changepoint import (
    cusum_flags,
)


def _naive(xs, drift):
    s, out = 0.0, []
    for x in xs:
        s = max(0.0, s + (x - drift))
        out.append(s)
    return out


def test_matches_sequential_recurrence(spark):
    xs = [1.0, 5.0, -2.0, 8.0, 8.0, -30.0, 4.0, 4.0, 4.0]
    rows = [(1, i, x) for i, x in enumerate(xs)] + [
        (2, i, -x) for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "k int, i int, x double")
    out = cusum_flags(df, "k", ("i",), "x", drift=2.0, threshold=10.0)
    got = {
        (r.k, r.i): (r.cusum, r.flagged) for r in out.collect()
    }
    for k, sign in ((1, 1.0), (2, -1.0)):
        want = _naive([sign * x for x in xs], 2.0)
        for i, s in enumerate(want):
            assert abs(got[(k, i)][0] - round(s, 6)) < 1e-9, (k, i)
            assert got[(k, i)][1] == (s > 10.0), (k, i)


def test_window_identity_matches_recurrence_on_random_sequences(spark):
    """Hypothesis property: the two-window closed form equals the naive
    sequential recurrence on arbitrary float sequences (incl. negatives,
    zeros, large jumps), for every prefix."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        xs=st.lists(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            min_size=1,
            max_size=30,
        ),
        drift=st.floats(min_value=-100, max_value=100, allow_nan=False),
    )
    def prop(xs, drift):
        df = spark.createDataFrame(
            [(1, i, x) for i, x in enumerate(xs)], "k int, i int, x double"
        )
        got = {
            r.i: r.cusum
            for r in cusum_flags(df, "k", ("i",), "x", drift, 1.0).collect()
        }
        for i, s in enumerate(_naive(xs, drift)):
            assert abs(got[i] - round(s, 6)) < max(1e-6, abs(s) * 1e-9), (i, xs)

    prop()


def test_detects_level_shift_not_noise(spark):
    # mean 1.0 for 50 steps then mean 4.0: with drift 2 (between the means)
    # the pre-shift segment never flags, the post-shift segment does
    xs = [1.0 + 0.2 * ((i * 7) % 5 - 2) for i in range(50)] + [
        4.0 + 0.2 * ((i * 7) % 5 - 2) for i in range(50)
    ]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "k int, i int, x double"
    )
    out = cusum_flags(df, "k", ("i",), "x", drift=2.0, threshold=15.0).collect()
    flagged = sorted(r.i for r in out if r.flagged)
    assert flagged and min(flagged) >= 50  # no false alarm before the shift
    assert max(flagged) == 99  # sustained detection after it


def test_single_exchange_plan(spark):
    df = spark.createDataFrame(
        [(i % 3, i, float(i)) for i in range(100)], "k int, i int, x double"
    )
    out = cusum_flags(df, "k", ("i",), "x", 1.0, 5.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both window frames share the (k, i) spec -> exactly one shuffle
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_streaming_matches_batch_across_microbatches(spark, tmp_path):
    """The streaming runtime's prefix-state carry must reproduce the batch
    window form EXACTLY across micro-batch boundaries (5 chunks here)."""
    import pandas as pd

    from fdp_dynamically_controlled_streams_spark.sources.registry import (
        replay_dir,
        write_replay_chunks,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.cusum import (
        cusum_streaming,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.drain import drain
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1)
    rows = []
    for i in range(200):
        for u in (1, 2):
            rows.append(
                (u, t0 + dt.timedelta(minutes=i), 1000 * u + i,
                 float((i * 13 + u * 7) % 9))
            )
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "value"])
    pdf = pdf.sort_values(["ts", "event_id"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    # 5 contiguous chunks in (ts, event_id) order
    n = len(pdf) // 5
    chunks = [pdf.iloc[i * n:(i + 1) * n if i < 4 else len(pdf)].reset_index(drop=True)
              for i in range(5)]
    path = str(tmp_path / "replay")
    write_replay_chunks(chunks, path)
    ddl = "user_id long, ts timestamp, event_id long, value double"
    stream = replay_dir(spark, path, ddl, files_per_trigger=1)
    collected = []
    drain(
        cusum_streaming(stream, drift=4.0, threshold=6.0),
        lambda bdf, bid: collected.extend(bdf.collect()),
        str(tmp_path / "chk"),
    )
    got = {(r.user_id, r.event_id): (r.cusum, r.flagged) for r in collected}

    batch = cusum_flags(
        spark.createDataFrame(pdf), "user_id", ("ts", "event_id"), "value",
        drift=4.0, threshold=6.0,
    ).collect()
    assert len(got) == len(batch) == len(pdf)
    for r in batch:
        s, fl = got[(r.user_id, r.event_id)]
        # bit-exact before rounding: compare at full precision vs the
        # batch op's 1e-6 round
        assert abs(s - r.cusum) < 5e-7 and fl == r.flagged, (r.user_id, r.event_id)
