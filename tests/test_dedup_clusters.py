"""Connected-components clustering unit tests (hand-built graphs; the
catalog's dedup_clusters entry cross-checks the full MinHash pipeline
against a DuckDB recursive CTE)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.operators.dedup import (
    connected_components,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r.id: r.cluster_id for r in connected_components(df).collect()
    }


def test_chain_collapses_transitively(spark):
    # A~B, B~C, C~D: one component even though A~D never paired
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components_and_min_label(spark):
    got = _cc(spark, [(10, 20), (30, 40), (40, 50), (7, 9)])
    assert got == {10: 10, 20: 10, 30: 30, 40: 30, 50: 30, 7: 7, 9: 7}


def test_long_chain_needs_many_rounds(spark):
    # diameter 12: exercises the iteration loop + lineage checkpointing
    n = 13
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0} and len(got) == n + 1


def test_long_chain_converges_in_log_rounds(spark):
    # the large-star/small-star property: a 10k-node PATH (diameter 10k —
    # label propagation would need 10k shuffle rounds) converges in
    # O(log n) rounds. Bound: 2*ceil(log2(n)) + 2 = 30 with headroom.
    from fdp_dynamically_controlled_streams_spark.operators import dedup

    n = 10_000
    df = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    out = dedup.connected_components(df, max_iter=40)
    labels = {r.id: r.cluster_id for r in out.collect()}
    assert len(labels) == n and set(labels.values()) == {0}
    assert dedup.LAST_CC_ROUNDS <= 30, dedup.LAST_CC_ROUNDS


def test_empty_pairs(spark):
    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long").where("id_a < 0")
    assert connected_components(df).count() == 0


def test_simhash_hamming_band_blocking_is_complete(spark):
    # the pigeonhole law: the banded equi-join finds EXACTLY the pairs a
    # brute-force all-pairs popcount scan finds, at any radius the band
    # split supports
    from pyspark.sql import functions as F

    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        simhash_hamming_pairs,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i * 3) % 5} alpha beta gamma delta " * 3)
         for i in range(40)],
        "doc_id long, text string",
    )
    for bits, radius in ((32, 1), (16, 3)):
        banded = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_hamming_pairs(
                docs, bits=bits, max_dist=radius
            ).collect()
        )
        sigs = simhash_signatures(docs, bits=bits)
        a, b = sigs.alias("a"), sigs.alias("b")
        brute = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).cast("int").alias("hamming"),
            )
            .where(F.col("hamming") <= radius)
            .collect()
        )
        assert banded == brute, (bits, radius)


# -------------------------------------------- exact substring spans


def _py_exact_spans(texts, L, min_docs=2):
    """Plain-Python brute force: set-membership over every L-window, then
    interval-merge — the independent twin the operator's zero-miss claim
    is checked against."""
    from collections import defaultdict

    texts = {i: t.strip() for i, t in texts.items()}
    owners = defaultdict(set)
    for i, t in texts.items():
        for p in range(len(t) - L + 1):
            owners[t[p : p + L]].add(i)
    dup = {w for w, s in owners.items() if len(s) >= min_docs}
    out = []
    for i, t in texts.items():
        spans = []
        for p0 in range(len(t) - L + 1):
            if t[p0 : p0 + L] not in dup:
                continue
            p, e = p0 + 1, p0 + L  # 1-based inclusive
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([p, e])
        out.extend((i, s, e, e - s + 1) for s, e in spans)
    return sorted(out)


def test_exact_substring_spans_golden(spark):
    # a verbatim 30-char licence block shared by docs 1 and 2 must come
    # back as one maximal span in each; the unique tails must not
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_spans,
    )

    block = "this block is verbatim shared."  # 30 chars
    docs = spark.createDataFrame(
        [
            (1, f"unique preamble one {block} unique tail xxxxx"),
            (2, f"{block} another completely different ending here"),
            (3, "no overlap at all in this third document body"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in exact_substring_spans(docs, length=24).collect()
    )
    # both docs follow the block with a space, so the true shared region
    # is block + that space = 31 chars — maximality means the operator
    # must find the extra char, not stop at the "intended" block edge
    assert got == [(1, 21, 51, 31), (2, 1, 31, 31)]


def test_exact_substring_spans_matches_bruteforce_hypothesis(spark):
    # zero-miss law (same proof shape as simhash's banded blocking): on
    # repeat-heavy tiny-alphabet corpora the DataFrame pipeline finds
    # EXACTLY the brute-force span set — boundaries included
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_spans,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        texts=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=30),
            min_size=2, max_size=6,
        ),
        L=st.integers(3, 6),
    )
    def run(texts, L):
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        expect = _py_exact_spans(dict(rows), L)
        for key in ("hash64", "literal"):
            got = sorted(
                (r.doc_id, r.span_start, r.span_end, r.span_len)
                for r in exact_substring_spans(df, length=L, key=key).collect()
            )
            assert got == expect, key

    run()


def _py_cut(texts, L, min_docs=2):
    """Brute-force cut twin: remove every duplicated-span char."""
    spans = _py_exact_spans(texts, L, min_docs)
    by_doc = {}
    for i, s, e, _ in spans:
        by_doc.setdefault(i, []).append((s, e))
    out = {}
    for i, t in texts.items():
        t = t.strip()
        cut = set()
        for s, e in by_doc.get(i, []):
            cut.update(range(s, e + 1))  # 1-based inclusive
        out[i] = "".join(c for p, c in enumerate(t, 1) if p not in cut)
    return out


def test_exact_substring_cut_matches_bruteforce_hypothesis(spark):
    """The terminal CUT op: kept_text = the doc minus every duplicated
    span char, verbatim — including full-coverage docs (kept '') and
    untouched docs (kept = trimmed text)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_cut,
    )

    @settings(max_examples=5, deadline=None)
    @given(
        texts=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=30),
            min_size=2, max_size=6,
        ),
        L=st.integers(3, 6),
    )
    def run(texts, L):
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        expect = _py_cut(dict(rows), L)
        got = {
            r.doc_id: (r.kept_text, r.kept_chars)
            for r in exact_substring_cut(df, length=L).collect()
        }
        assert set(got) == set(expect)
        for i, want in expect.items():
            assert got[i] == (want, len(want)), i

    run()


def test_exact_substring_cut_full_coverage_doc(spark):
    # two identical docs: every window duplicated, kept_text must be ''
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_cut,
    )

    t = "entirely duplicated body"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "a unique third document body here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.kept_text for r in exact_substring_cut(df, length=8).collect()}
    assert got[1] == "" and got[2] == ""
    assert got[3] == "a unique third document body here"


def test_exact_substring_cut_kept_chars_matches_removal(spark):
    """Cross-entry law: the CUT's kept_chars equals the removal rollup's
    kept_chars for every doc (both compose the same spans)."""
    from fdp_dynamically_controlled_streams_spark.queries import catalog

    sf = "/root/testdata/sf0.001"
    r = catalog()["dedup_exact_substring_removal"].fn(spark, sf).toPandas()
    c = catalog()["dedup_exact_substring_cut"].fn(spark, sf).toPandas()
    m = r.merge(c, on="doc_id", suffixes=("_r", "_c"))
    assert len(m) == len(r) == len(c)
    assert (m.kept_chars_r == m.kept_chars_c).all()


def _py_exact_incremental(corpus, batch, L):
    """Brute-force incremental twin: corpus window set, batch membership,
    batch-side interval merge."""
    cw = set()
    for t in corpus.values():
        t = t.strip()
        for p in range(len(t) - L + 1):
            cw.add(t[p : p + L])
    out = []
    for i, t in batch.items():
        t = t.strip()
        spans = []
        for p0 in range(len(t) - L + 1):
            if t[p0 : p0 + L] not in cw:
                continue
            p, e = p0 + 1, p0 + L
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([p, e])
        out.extend((i, s, e, e - s + 1) for s, e in spans)
    return sorted(out)


def test_exact_substring_incremental_matches_bruteforce_hypothesis(spark):
    """Brute-force equivalence law for the incremental tier, BOTH keys:
    batch spans = membership of every window in the corpus window set —
    and batch-internal repeats must NOT count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_incremental,
    )

    @settings(max_examples=5, deadline=None)
    @given(
        texts=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=30),
            min_size=3, max_size=7,
        ),
        L=st.integers(3, 6),
    )
    def run(texts, L):
        rows = list(enumerate(texts))
        corpus = {i: t for i, t in rows if i % 2}
        batch = {i: t for i, t in rows if not i % 2}
        cdf = spark.createDataFrame(
            list(corpus.items()) or [(None, None)], "doc_id long, text string"
        ).where("doc_id IS NOT NULL")
        bdf = spark.createDataFrame(
            list(batch.items()) or [(None, None)], "doc_id long, text string"
        ).where("doc_id IS NOT NULL")
        expect = _py_exact_incremental(corpus, batch, L)
        for key in ("hash64", "literal"):
            got = sorted(
                (r.doc_id, r.span_start, r.span_end, r.span_len)
                for r in exact_substring_incremental(
                    cdf, bdf, length=L, key=key
                ).collect()
            )
            assert got == expect, key

    run()


def test_exact_substring_incremental_batch_internal_excluded(spark):
    # two batch docs sharing a block that is absent from the corpus: no rows
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_incremental,
    )

    block = "this exact block is shared by two batch docs"
    corpus = spark.createDataFrame(
        [(1, "corpus body with nothing in common here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(2, f"pre {block}"), (4, f"{block} post")],
        "doc_id long, text string",
    )
    assert exact_substring_incremental(corpus, batch, length=10).count() == 0


def test_exact_substring_hash64_multi_arrow_batch(spark):
    """Force the rolling-hash kernel through MANY tiny Arrow batches
    (maxRecordsPerBatch=2): per-batch concatenation and power tables must
    not leak state across batch boundaries — results equal the literal
    key regardless of batching."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_spans,
    )

    block = "a verbatim shared licence block"
    rows = [(i, f"doc {i} body {block} tail {i}") for i in range(9)]
    rows.append((99, "short"))
    rows.append((100, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_len)
            for r in exact_substring_spans(df, length=12, key="hash64").collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    want = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in exact_substring_spans(df, length=12, key="literal").collect()
    )
    assert got == want and len(want) == 9


def test_minhash_index_maintenance_laws(spark):
    """MinHash maintenance-loop laws (the LSH sibling of the ExactSubstr
    laws below): (1) screening day k against an index maintained by
    minhash_index_upsert equals the batch incremental operator run
    day-by-day with an explicitly growing corpus; (2) the upsert is
    idempotent; (3) a re-crawled doc id's old signature leaves the
    index."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        minhash_decisions_against_index,
        minhash_incremental_decisions,
        minhash_index,
        minhash_index_upsert,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    alt = "a completely different document about streaming engines at scale"
    seed = spark.createDataFrame(
        [(1, base), (2, alt)], "doc_id long, text string"
    )
    days = [
        spark.createDataFrame(
            [(10, base + " extra"), (11, "unrelated text nothing shared here at all")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(20, alt + " suffix"), (21, base + " extra")],
            "doc_id long, text string",
        ),
    ]

    def rows(df):
        return sorted(
            (r.doc_id, r.n_matches, r.best_est, r.is_new) for r in df.collect()
        )

    sig = minhash_index(seed).localCheckpoint()
    loop_rows = []
    for day in days:
        loop_rows += rows(
            minhash_decisions_against_index(day, sig, est_threshold=0.3)
        )
        sig = minhash_index_upsert(sig, day).localCheckpoint()
    batch_rows, corpus = [], seed
    for day in days:
        batch_rows += rows(
            minhash_incremental_decisions(corpus, day, est_threshold=0.3)
        )
        corpus = corpus.unionByName(day)
    assert sorted(loop_rows) == sorted(batch_rows) and batch_rows
    # doc 21 (day 1) must match doc 10 (day 0) THROUGH the maintained
    # index — the cross-day match a static corpus index cannot see
    d21 = [r for r in loop_rows if r[0] == 21]
    assert d21 and d21[0][1] >= 1 and not d21[0][3]

    # (2) idempotence
    sig2 = minhash_index_upsert(sig, days[1]).localCheckpoint()
    assert sig2.count() == sig.count()
    probe = spark.createDataFrame([(99, base + " extra")], "doc_id long, text string")
    assert rows(minhash_decisions_against_index(probe, sig2)) == rows(
        minhash_decisions_against_index(probe, sig)
    )

    # (3) re-crawl replaces: doc 10's text changes; a probe of the OLD
    # text no longer matches doc 10 (only docs 1/21 which still carry it)
    recrawl = spark.createDataFrame(
        [(10, "totally new content after recrawl of this url")],
        "doc_id long, text string",
    )
    sig3 = minhash_index_upsert(sig, recrawl).localCheckpoint()
    old_matches = minhash_decisions_against_index(probe, sig).where(
        F.col("n_matches") > 0
    ).collect()
    new_matches = minhash_decisions_against_index(probe, sig3).where(
        F.col("n_matches") > 0
    ).collect()
    assert old_matches and new_matches
    assert new_matches[0].n_matches == old_matches[0].n_matches - 1


def test_minhash_recrawl_never_self_matches(spark):
    """Re-crawl consistency (r12 ADVICE): screening a batch that
    RE-CRAWLS an id already in the index must not match the id's own
    stale signature row — only OTHER docs count.  With a genuine twin in
    the index the match stands (the twin is not self)."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        minhash_decisions_against_index,
        minhash_index,
        minhash_index_upsert,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    idx1 = minhash_index(
        spark.createDataFrame([(1, text)], "doc_id long, text string")
    ).localCheckpoint()
    recrawl = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = minhash_decisions_against_index(recrawl, idx1, est_threshold=0.3)
    assert [(r.doc_id, r.n_matches, r.is_new) for r in got.collect()] == [
        (1, 0, True)
    ]
    # a twin doc 2 in the index: the re-crawl of 1 matches 2, not itself
    idx2 = minhash_index_upsert(
        idx1, spark.createDataFrame([(2, text)], "doc_id long, text string")
    ).localCheckpoint()
    got2 = minhash_decisions_against_index(recrawl, idx2, est_threshold=0.3)
    assert [(r.doc_id, r.n_matches, r.is_new) for r in got2.collect()] == [
        (1, 1, False)
    ]


def test_exact_substring_recrawl_never_self_matches(spark):
    """ExactSubstr re-crawl consistency (r12 ADVICE): a re-crawled id's
    windows must not verify against its OWN stale index rows; a window
    shared with any OTHER corpus doc still matches."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_incremental_against_index,
        exact_substring_index,
    )

    blk = "a verbatim shared licence block across docs"
    solo = spark.createDataFrame(
        [(1, f"seed doc with {blk} inside")], "doc_id long, text string"
    )
    cbase, ch = exact_substring_index(solo, length=12)
    cbase, ch = cbase.localCheckpoint(), ch.localCheckpoint()
    recrawl = spark.createDataFrame(
        [(1, f"seed doc with {blk} inside")], "doc_id long, text string"
    )
    assert (
        exact_substring_incremental_against_index(
            recrawl, cbase, ch, length=12
        ).count()
        == 0
    )
    # with a second doc sharing the block, the re-crawl DOES match it
    both = solo.unionByName(
        spark.createDataFrame(
            [(2, f"other doc quoting {blk} too")], "doc_id long, text string"
        )
    )
    cb2, ch2 = exact_substring_index(both, length=12)
    cb2, ch2 = cb2.localCheckpoint(), ch2.localCheckpoint()
    spans = exact_substring_incremental_against_index(
        recrawl, cb2, ch2, length=12
    ).collect()
    assert len(spans) == 1 and spans[0].span_len >= len(blk)


def test_embedding_index_maintenance_laws(spark):
    """Embedding (vector) maintenance-loop laws — the third modality of
    the screen-then-upsert discipline: (1) day-k decisions against the
    maintained index see vectors added on earlier days; (2) upsert is
    idempotent; (3) a re-embedded id's old vector leaves the index."""
    from fdp_dynamically_controlled_streams_spark.operators.similarity import (
        embedding_decisions_against_index,
        embedding_index,
        embedding_index_upsert,
    )

    def vecs(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    v1 = [1.0, 0.5, 0.2, 0.1]
    v2 = [-1.0, -0.5, 0.3, 0.2]
    seed = vecs([(1, v1)])
    day0 = vecs([(10, v2)])  # new direction, no match vs seed
    day1 = vecs([(20, v2)])  # matches day0's vector via the index

    idx = embedding_index(seed, bits=4).localCheckpoint()
    d0 = embedding_decisions_against_index(day0, idx, threshold=0.9, bits=4)
    assert [(r.vec_id, r.n_matches, r.is_new) for r in d0.collect()] == [
        (10, 0, True)
    ]
    idx = embedding_index_upsert(idx, day0, bits=4).localCheckpoint()
    d1 = embedding_decisions_against_index(day1, idx, threshold=0.9, bits=4)
    assert [(r.vec_id, r.n_matches, r.is_new) for r in d1.collect()] == [
        (20, 1, False)
    ]
    # (2) idempotent re-apply
    idx2 = embedding_index_upsert(idx, day0, bits=4).localCheckpoint()
    assert idx2.count() == idx.count()
    assert [
        (r.vec_id, r.n_matches)
        for r in embedding_decisions_against_index(
            day1, idx2, threshold=0.9, bits=4
        ).collect()
    ] == [(20, 1)]
    # (3) re-embed id 10 to a different direction: day1's vector no
    # longer matches anything
    idx3 = embedding_index_upsert(idx, vecs([(10, v1)]), bits=4).localCheckpoint()
    assert [
        (r.vec_id, r.n_matches, r.is_new)
        for r in embedding_decisions_against_index(
            day1, idx3, threshold=0.9, bits=4
        ).collect()
    ] == [(20, 0, True)]


def test_minhash_index_compaction_invisible(spark):
    """MinHash compaction law (r12 verdict task 3): after delta upserts
    (minhash_index_upsert_sigs) including a re-crawl, decisions against
    the COMPACTED index equal decisions against the composed one, the
    compacted plan is a bare materialized scan (no join nodes left),
    and the re-crawled id's stale row is physically gone."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        minhash_decisions_against_index,
        minhash_index,
        minhash_index_upsert_sigs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    alt = "a completely different document about streaming engines at scale"
    sig = minhash_index(
        spark.createDataFrame([(1, base), (2, alt)], "doc_id long, text string")
    ).localCheckpoint()
    days = [
        spark.createDataFrame([(10, base + " extra")], "doc_id long, text string"),
        # re-crawl doc 10 with different text: the old signature retires
        spark.createDataFrame([(10, alt + " suffix")], "doc_id long, text string"),
    ]
    for day in days:
        sb = minhash_signatures(day).localCheckpoint()
        sig = minhash_index_upsert_sigs(
            sig, day.select(F.col("doc_id").alias("id")), sb
        )
    compacted = sig.localCheckpoint()  # what replay_in_driver runs
    probe = spark.createDataFrame(
        [(99, base + " extra"), (98, alt + " suffix")],
        "doc_id long, text string",
    )

    def rows(s):
        return sorted(map(tuple, minhash_decisions_against_index(probe, s).collect()))

    assert rows(compacted) == rows(sig)
    # physically reclaimed: one row per live id, stale row gone
    assert compacted.count() == 3
    assert compacted.where(F.col("id") == 10).count() == 1
    # composed plan carries joins; the compacted one is a bare scan
    assert "Join" in sig._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in compacted._jdf.queryExecution().optimizedPlan().toString()


def test_derived_bits_exact_integer_rule():
    """derived_bits is the exact integer form of ceil(log2(n/occ)),
    clamped — including the power-of-two boundaries where float log2
    wobbles, and the DuckDB twin computes the identical value."""
    import math

    import duckdb

    from fdp_dynamically_controlled_streams_spark.operators.similarity import (
        derived_bits,
        derived_bits_sql,
    )

    for n in [0, 1, 15, 16, 17, 63, 64, 65, 511, 512, 513, 2048, 16000,
              16384, 16385, 1 << 20, 1 << 21]:
        b = derived_bits(n, target_occupancy=16, min_bits=2, max_bits=16)
        # exact spec: smallest b in [2,16] with 16*2^b >= n — which is
        # ceil(log2(n/16)) clamped, computed without float log2
        spec = 2
        while spec < 16 and (16 << spec) < n:
            spec += 1
        assert b == spec, (n, b, spec)
        if 16 * (1 << 2) < n < 16 * (1 << 16):
            assert spec == math.ceil(math.log2(n / 16)), n
        got_sql = duckdb.sql(
            f"SELECT {derived_bits_sql(str(n), 16, 2, 16)}"
        ).fetchone()[0]
        assert got_sql == spec, (n, got_sql, spec)
    # the occupancy invariant itself: occupancy n/2^bits <= target
    # whenever the clamp is not binding
    for n in [100, 1000, 10_000, 100_000, 1_000_000]:
        b = derived_bits(n)
        if b < 16:
            assert n <= 16 * (1 << b)
        if b > 2:
            assert n > 16 * (1 << (b - 1))


def test_embedding_index_rebucket_equals_from_scratch(spark):
    """Rebucket law (r12 verdict task 1): embedding_index_rebucket(index
    built at b0, b1) is row-identical to embedding_index(vectors, b1)
    from scratch, and decisions screened against either are equal —
    compaction is invisible to semantics."""
    from fdp_dynamically_controlled_streams_spark.operators.similarity import (
        embedding_decisions_against_index,
        embedding_index,
        embedding_index_rebucket,
    )

    vecs = spark.createDataFrame(
        [
            (i, [float(((i * 7 + d * 3) % 11) - 5) for d in range(16)])
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    idx4 = embedding_index(vecs, bits=4).localCheckpoint()
    re6 = embedding_index_rebucket(idx4, 6)
    scratch6 = embedding_index(vecs, bits=6)
    assert sorted(map(tuple, re6.collect())) == sorted(
        map(tuple, scratch6.collect())
    )
    batch = spark.createDataFrame(
        [(100 + i, [float(((i * 7 + d * 3) % 11) - 5) for d in range(16)])
         for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    got = embedding_decisions_against_index(batch, re6, threshold=0.25, bits=6)
    want = embedding_decisions_against_index(
        batch, scratch6, threshold=0.25, bits=6
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # downsizing works the same way (rebucket is direction-agnostic)
    assert sorted(map(tuple, embedding_index_rebucket(idx4, 3).collect())) == \
        sorted(map(tuple, embedding_index(vecs, bits=3).collect()))


def test_derived_cells_rule():
    """derived_cells: power-of-two cell count pinning IVF occupancy."""
    from fdp_dynamically_controlled_streams_spark.operators.pq import (
        derived_cells,
    )

    assert derived_cells(0) == 4 and derived_cells(1024) == 4
    assert derived_cells(1025) == 8
    assert derived_cells(256 * 64) == 64
    assert derived_cells(256 * 64 + 1) == 128
    n = 10_000_000
    c = derived_cells(n)
    assert c & (c - 1) == 0 and 256 * c >= n and 256 * (c // 2) < n


def test_exact_substring_index_maintenance_laws(spark):
    """The N-day maintenance loop's laws (r11 verdict task 1):
    (1) screening day k against an index maintained by
        exact_substring_index_upsert equals running the BATCH incremental
        operator day-by-day with an explicitly growing corpus;
    (2) the upsert is IDEMPOTENT — re-applying the same day leaves the
        index (and thus the next day's decisions) unchanged;
    (3) upsert REPLACES a re-crawled doc id: its old text's windows leave
        the index."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_incremental,
        exact_substring_incremental_against_index,
        exact_substring_index,
        exact_substring_index_upsert,
    )

    blk_a = "shared block alpha appearing across days"
    blk_b = "another verbatim beta block for day two"
    seed = spark.createDataFrame(
        [(1, f"seed doc with {blk_a} inside")], "doc_id long, text string"
    )
    days = [
        spark.createDataFrame(
            [(10, f"day0 doc quoting {blk_a}"), (11, f"day0 also {blk_b}")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(20, f"day1 doc quoting {blk_b} from day0"), (21, "nothing shared")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(30, f"day2 doc with {blk_a} and {blk_b}")],
            "doc_id long, text string",
        ),
    ]

    def rows(df):
        return sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_len) for r in df.collect()
        )

    # (1) maintained-index loop vs explicit growing-corpus batch loop
    cbase, ch = exact_substring_index(seed, length=12)
    loop_rows = []
    for day in days:
        loop_rows += rows(
            exact_substring_incremental_against_index(day, cbase, ch, length=12)
        )
        cbase, ch = exact_substring_index_upsert(cbase, ch, day, length=12)
    batch_rows = []
    corpus = seed
    for day in days:
        batch_rows += rows(exact_substring_incremental(corpus, day, length=12))
        corpus = corpus.unionByName(day)
    assert sorted(loop_rows) == sorted(batch_rows) and batch_rows
    # day-1's block-b quote must have matched (block b entered via day 0)
    assert any(d == 20 for d, *_ in batch_rows)

    # (2) idempotence: re-applying day2 changes nothing
    cb2, ch2 = exact_substring_index_upsert(cbase, ch, days[2], length=12)
    probe = spark.createDataFrame(
        [(99, f"probe with {blk_a} text")], "doc_id long, text string"
    )
    assert rows(
        exact_substring_incremental_against_index(probe, cb2, ch2, length=12)
    ) == rows(exact_substring_incremental_against_index(probe, cbase, ch, length=12))
    assert cb2.count() == cbase.count() and ch2.count() == ch.count()

    # (3) re-crawl replaces: doc 30's text changes to something unrelated,
    # so a probe quoting blk_a matches seed/day0 copies only — and a probe
    # quoting doc 30's OLD unique text finds nothing
    old_unique = "day2 doc with"  # prefix only in doc 30's old text
    recrawl = spark.createDataFrame(
        [(30, "completely rewritten content")], "doc_id long, text string"
    )
    cb3, ch3 = exact_substring_index_upsert(cbase, ch, recrawl, length=12)
    probe_old = spark.createDataFrame(
        [(98, f"quoting {old_unique} something")], "doc_id long, text string"
    )
    assert (
        exact_substring_incremental_against_index(
            probe_old, cb3, ch3, length=12
        ).count()
        == 0
    )
    probe_new = spark.createDataFrame(
        [(97, "xx completely rewritten content yy")], "doc_id long, text string"
    )
    assert (
        exact_substring_incremental_against_index(
            probe_new, cb3, ch3, length=12
        ).count()
        == 1
    )


def test_exact_substring_delta_upsert_recrawl_decisions(spark):
    """Re-crawl law on the DELTA upsert: after a day that quotes the
    seed's shared block and a re-crawl of the same doc with unrelated
    text, a probe quoting the block still matches (via the seed), and a
    probe quoting only the re-crawled doc's retired day-0 text does
    not — the retired windows left the composed index."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_incremental_against_index,
        exact_substring_index,
        exact_substring_index_upsert_delta,
    )

    blk = "a verbatim shared licence block across docs"
    seed = spark.createDataFrame(
        [(1, f"seed doc with {blk} inside")], "doc_id long, text string"
    )
    cbase, ch = exact_substring_index(seed, length=12)
    cbase, ch = cbase.localCheckpoint(), ch.localCheckpoint()
    # day 0: doc 10 quotes the block; day 1 RE-CRAWLS doc 10 with new text
    for day in (
        spark.createDataFrame(
            [(10, f"day0 doc quoting {blk}")], "doc_id long, text string"
        ),
        spark.createDataFrame(
            [(10, "rewritten content with nothing shared")],
            "doc_id long, text string",
        ),
    ):
        cbase, ch = exact_substring_index_upsert_delta(
            cbase, ch, day, length=12
        )
    probe = spark.createDataFrame(
        [(99, f"probe quoting {blk} here"), (98, "day0 doc quoting nothing")],
        "doc_id long, text string",
    )
    spans = exact_substring_incremental_against_index(
        probe, cbase, ch, length=12
    ).collect()
    assert spans and {r[0] for r in spans} == {99}  # blk survives via seed


def test_exact_substring_null_text_zero_windows(spark):
    """NULL documents contribute ZERO windows in BOTH key tiers (r11
    ADVICE: .astype(str) used to turn SQL NULL into the literal 'None',
    so two null docs hashed every 'None' window identically and emitted
    spurious candidates that only the downstream verify join killed).
    Two null docs + a real duplicate pair: the only span rows are the
    real pair's, identically for hash64 and literal keys."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_incremental,
        exact_substring_spans,
    )

    block = "a verbatim shared licence block across docs"
    docs = spark.createDataFrame(
        [
            (1, f"head {block}"),
            (2, f"{block} tail"),
            (3, None),
            (4, None),
        ],
        "doc_id long, text string",
    )
    for key in ("hash64", "literal"):
        got = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in exact_substring_spans(docs, length=12, key=key).collect()
        )
        assert [d for d, *_ in got] == [1, 2], key
    # incremental tier: null corpus docs and null batch docs are inert too
    corpus = spark.createDataFrame(
        [(1, block), (5, None)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(2, f"quote: {block}"), (6, None)], "doc_id long, text string"
    )
    rows = exact_substring_incremental(corpus, batch, length=12).collect()
    assert sorted(r.doc_id for r in rows) == [2]


def test_exact_substring_keys_agree_unicode(spark):
    """hash64-vs-literal key equivalence on NON-ASCII text: the rolling
    kernel hashes UTF-32 code points, so char positions must line up with
    substring()'s char semantics even for multi-byte chars."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_spans,
    )

    shared = "héllо wörld — ünïcode blöck"  # 27 chars incl. cyrillic 'о'
    docs = spark.createDataFrame(
        [
            (1, f"pre {shared} tail one"),
            (2, f"{shared} other ending"),
            (3, "ascii only body with no repeats at all"),
        ],
        "doc_id long, text string",
    )
    want = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in exact_substring_spans(docs, length=10, key="literal").collect()
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in exact_substring_spans(docs, length=10, key="hash64").collect()
    )
    assert got == want and len(want) == 2


# ------------------------------------------------------- semantic dedup

from fdp_dynamically_controlled_streams_spark.operators.dedup import semantic_dedup


def _sem(spark, rows, dim=8, **kw):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    return {r.vec_id: (r.cell, r.keep) for r in semantic_dedup(df, **kw).collect()}


def _axis(n, dim=8):
    # orthogonal-ish rows: one hot dim per id (mutual cosine 0)
    return [(i, [1.0 if d == i % dim else 0.0 for d in range(dim)]) for i in range(n)]


def test_semantic_exact_duplicate_drops_higher_id(spark):
    rows = _axis(6)
    rows.append((99, rows[0][1]))  # exact duplicate of id 0
    got = _sem(spark, rows, k=2, threshold=0.9)
    assert got[0][1] is True and got[99][1] is False
    # same semantic block by construction
    assert got[0][0] == got[99][0]


def test_semantic_orthogonal_rows_all_kept(spark):
    got = _sem(spark, _axis(8), k=2, threshold=0.5)
    assert all(keep for _, keep in got.values())
    assert len(got) == 8


def test_semantic_every_row_reported_once(spark):
    rows = _axis(10)
    rows[7] = (7, rows[3][1])
    got = _sem(spark, rows, k=3, threshold=0.9)
    assert sorted(got) == sorted(r[0] for r in rows)


def test_semantic_partition_invariance(spark):
    rows = _axis(12)
    rows[11] = (11, rows[1][1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    a = sorted(map(tuple, semantic_dedup(df, k=3, threshold=0.9).collect()))
    b = sorted(
        map(tuple, semantic_dedup(df.repartition(7), k=3, threshold=0.9).collect())
    )
    assert a == b


def test_semantic_dedup_arrow_engine_bit_identical(spark):
    """Law: engine='arrow' (numpy pair kernel + JVM exact-round filter)
    returns EXACTLY engine='sql''s rows, on a fixture with threshold-
    boundary pairs (near-0.3 cosines) and a cell big enough to exercise
    the 1024-row blocking path via a custom block... (block size is
    fixed; the fixture stays small — blocking is covered by rows<1024
    plus the code path being identical)."""
    import math
    import random

    random.seed(11)
    rows = []
    for i in range(150):
        base = [random.uniform(-1, 1) for _ in range(8)]
        rows.append((i, [round(x, 3) for x in base]))
        if i % 5 == 0:  # inject near-duplicates (cosine ~1) and near-threshold
            rows.append((1000 + i, [round(x * 1.001, 3) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for kw in (dict(k=3, threshold=0.3), dict(k=5, threshold=0.9, init="ids")):
        a = sorted(map(tuple, semantic_dedup(df, engine="sql", **kw).collect()))
        b = sorted(map(tuple, semantic_dedup(df, engine="arrow", **kw).collect()))
        assert a == b, kw


def test_exact_substring_recrawl_literal_tier_parity(spark):
    """The literal-key tier applies the SAME retire-first re-crawl
    self-exclusion as hash64 (r13 ADVICE: the two documented-equivalent
    key tiers must not diverge when batch ids overlap the corpus)."""
    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_incremental,
    )

    blk = "a verbatim shared licence block across docs"
    solo = spark.createDataFrame(
        [(1, f"seed doc with {blk} inside")], "doc_id long, text string"
    )
    recrawl = spark.createDataFrame(
        [(1, f"seed doc with {blk} inside")], "doc_id long, text string"
    )
    for key in ("hash64", "literal"):
        assert (
            exact_substring_incremental(
                solo, recrawl, length=12, key=key
            ).count()
            == 0
        ), key
    both = solo.unionByName(
        spark.createDataFrame(
            [(2, f"other doc quoting {blk} too")], "doc_id long, text string"
        )
    )
    for key in ("hash64", "literal"):
        spans = exact_substring_incremental(
            both, recrawl, length=12, key=key
        ).collect()
        assert len(spans) == 1 and spans[0].span_len >= len(blk), key
