"""The generated inputs are a function of the seed, and every seed gives
the catalog entries the same amount of work.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import pandas as pd

from perfbench import inputs


def test_backlog_repeats_for_a_seed_and_moves_with_it():
    shape = inputs.StreamShape(n_keys=50, batch_records=500, n_chunks=3)
    a, b = inputs.controller_backlog(7, shape), inputs.controller_backlog(7, shape)
    assert len(a) == 3 and all(len(c) == 500 for c in a)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    other = inputs.controller_backlog(8, shape)
    assert not a[0].equals(other[0])
    seq = pd.concat(a)["seq"]
    assert seq.is_monotonic_increasing and seq.is_unique


def test_catalog_tables_repeat_and_keep_their_shape_across_seeds():
    shape = inputs.TableShape()
    a, b = inputs.catalog_tables(1, shape), inputs.catalog_tables(1, shape)
    assert all(a[t].equals(b[t]) for t in a)
    c = inputs.catalog_tables(2, shape)
    assert not a["lineitem"].equals(c["lineitem"])
    for t in a:
        assert a[t].num_rows == c[t].num_rows
        assert a[t].schema == c[t].schema
    # the SSSP entry's source suppliers and the fuzzy-match blocks do not
    # depend on the seed
    for col in ("s_nationkey",):
        assert a["supplier"][col].equals(c["supplier"][col])
    for col in ("p_brand", "p_size"):
        assert a["part"][col].equals(c["part"][col])
