"""Deduplication operators — exact and near-dup — over the ``documents`` table.

Scale design (the 100 TB story):
  * exact     — one hash-shuffle on the dup key; map-side partial agg free.
  * minhash   — per-doc signature is embarrassingly parallel (no shuffle);
                LSH banding turns all-pairs O(n²) into a self-join on
                (band_id, band_hash) buckets — shuffle on the band key, pairs
                only within buckets. Bands/rows tune recall vs bucket size.
  * simhash   — per-doc 16-bit majority signature, candidate pairs via equal
                signature prefix blocks (hamming-ball blocking).
  * ngram     — exact Jaccard verification on candidate pairs only (anchored
                on the min shingle hash so each doc lands in exactly one
                anchor bucket — no quadratic blowup).
  * embedding — cosine near-dup via sign-quantization LSH buckets.

Everything is built-in column expressions (md5/conv/array ops) → JVM codegen,
and every operator here has a DuckDB twin in the query catalog.
MinHash per Broder '97; banding per Leskovec/Rajaraman/Ullman MMDS ch.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.functions.exactround import (
    dratio,
    dratio_sql,
)
from fdp_dynamically_controlled_streams_spark.functions.hashing import (
    MINHASH_COEFFS,
    affine_hash,
    portable_hash64,
    shingle_rows,
)

# MinHash geometry: 16 hashes = 8 bands × 2 rows (s-curve threshold ≈ (1/8)^(1/2) ≈ 0.35).
N_HASHES = 16
N_BANDS = 8
ROWS_PER_BAND = 2


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id representative per exact key group; report group size.
    One shuffle on the key hash; partial agg runs map-side."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures via explode → groupBy.

    Shape matters for speed: shingles come from the codegen'd row form
    (functions.hashing.shingle_rows — no interpreted lambda HOFs), one md5
    per shingle, then k affine permutations as plain integer agg
    expressions — everything stays inside whole-stage codegen. The naive
    form (k seeded md5s inside a higher-order ``transform`` lambda) measured
    ~30× slower. One shuffle on the doc id (the groupBy; shingle
    construction itself is map-side); at 100 TB this is the signature
    materialization pass you would persist to a bucketed table.
    """
    exploded = shingle_rows(docs, id_col, text_col, shingle_n).select(
        "id", portable_hash64(F.col("s")).alias("h")
    )
    aggs = [
        F.min(affine_hash(F.col("h"), a, b)).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:n_hashes])
    ]
    grouped = exploded.groupBy("id").agg(*aggs)
    return grouped.select(
        "id", F.array(*[F.col(f"s{i}") for i in range(n_hashes)]).alias("sig")
    )


def minhash_bands(sig: Column, n_bands: int = N_BANDS, rows: int = ROWS_PER_BAND) -> Column:
    """array<struct<band_id int, band_hash bigint>> — one LSH bucket key per band."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                portable_hash64(
                    F.concat_ws(
                        ",", *[F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs (a < b) whose signatures collide in ≥1 LSH band, with the
    signature-agreement Jaccard estimate ≥ est_threshold.

    Plan: project signatures (narrow) → explode bands → self-join on
    (band_id, band_hash) → distinct pairs → verify on signature agreement.
    The self-join shuffles on the band key only; bucket sizes bound the pair
    count. At 100 TB add a salt on huge buckets (band_hash collisions on
    boilerplate text) before the join.

    The signature table is materialized once (localCheckpoint — one signature
    row per doc, tiny next to the corpus) so the shingle-hash pass runs once,
    not once per self-join side: exchange reuse alone is not guaranteed under
    AQE re-planning. At 100 TB the same move is persisting signatures to a
    table — which a production dedup pipeline does anyway (signatures are
    reused across runs as the corpus grows).
    """
    sigs = minhash_signatures(docs, id_col, text_col).localCheckpoint()
    exploded = sigs.select(
        "id", "sig", F.explode(minhash_bands(F.col("sig"))).alias("band")
    ).select("id", "sig", "band.band_id", "band.band_hash")

    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    est = agree / F.lit(float(N_HASHES))
    return (
        pairs.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= est_threshold)
    )


#: Rounds the last :func:`connected_components` call took to converge —
#: diagnostics only (asserted by the long-chain property test).
LAST_CC_ROUNDS = 0


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-dup pairs into connected components: (id, cluster_id)
    where cluster_id = min member id — the canonical-representative step of a
    dedup pipeline (pairs alone don't dedupe; A~B, B~C must collapse to one
    keeper even when A~C was never a candidate pair).

    Alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round rewires the
    edge set toward a star per component in O(log n) rounds TOTAL —
    independent of graph diameter. (The previous min-label propagation
    needed diameter rounds: fine for shallow near-dup clusters, but a
    chained-duplicate corpus A~B~C~...~Z — the classic crawl-boilerplate
    shape — degenerated to O(chain length) shuffles; the long-chain property
    test in tests/test_dedup_clusters.py pins the log bound.)

    Per round: large-star hangs every strictly-larger neighbor of u onto
    min(Γ(u) ∪ {u}); small-star (on edges oriented big→small) hangs all of
    u's smaller neighbors and u itself onto their minimum. Both are one
    groupBy + join over the EDGE set (not the corpus), all distributed; the
    driver loop is control-only and ``localCheckpoint`` cuts lineage per
    round. Convergence = the edge set reached a fixpoint, checked exactly
    with a left-anti join + counts (edge-set-sized, no full re-labeling).
    """
    global LAST_CC_ROUNDS
    # checkpoint the raw pair list FIRST: nodes and edges both derive from
    # it, and without the cut the (potentially expensive) upstream pair
    # pipeline — e.g. the whole MinHash-LSH candidate generation — would
    # execute twice
    raw = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint()
    # nodes stays LAZY (scanned once for the root labels at the end; the
    # upstream cut is raw's checkpoint)
    nodes = (
        raw.select(F.col("u").alias("id"))
        .union(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    # canonical orientation big→small (u > v), self-loops dropped
    edges = (
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    LAST_CC_ROUNDS = 0
    for _ in range(max_iter):
        # LARGE-STAR: symmetric neighborhoods; for each u emit (v, m) for
        # every neighbor v > u, where m = min(Γ(u) ∪ {u}). Each edge is
        # emitted exactly once (from its smaller endpoint's group), so the
        # output stays edge-set-sized. Invariant kept: first > second.
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # (no distinct here: duplicates — two groups hanging the same node
        # onto the same m — are degree-bounded and collapse in sm's
        # distinct; skipping the exchange saves a full shuffle per round)
        lg = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # SMALL-STAR: group by the larger endpoint u over its (all smaller)
        # neighbors N(u); m = min(N(u)); emit (v, m) for v in N(u)\{m} and
        # (u, m). Orientation big→small holds by construction.
        mins2 = lg.groupBy("u").agg(F.min("v").alias("m"))
        sm = (
            lg.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        LAST_CC_ROUNDS += 1
        # exact fixpoint check: sm == edges as sets (both are distinct).
        # The anti-join only runs when the cheap cardinality gate matches,
        # so non-final rounds pay one count on checkpointed partitions.
        n_sm = sm.count()
        if (
            n_sm == n_edges
            and sm.join(edges, ["u", "v"], "left_anti").count() == 0
        ):
            edges = sm
            break
        edges, n_edges = sm, n_sm
    # Fixpoint edge set is a star per component: (member, root). Roots (and
    # isolated nodes, e.g. self-paired ids) label themselves. The groupBy
    # min is a no-op at the fixpoint but keeps output well-formed if
    # max_iter cut the loop short.
    leaf = edges.groupBy(F.col("u").alias("id")).agg(
        F.min("v").alias("cluster_id")
    )
    root = nodes.join(
        leaf.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("cluster_id"))
    return leaf.unionByName(root)


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """(id, simhash int) — 16-bit SimHash: per-bit majority vote over distinct
    token hashes (Charikar 2002). Same explode → groupBy shape as MinHash so
    the whole pass is codegen'd aggregation: one md5 per token, then ``bits``
    conditional-sum aggregates."""
    toks = F.array_distinct(
        F.split(F.trim(F.col(text_col)), r"\s+")
    )
    exploded = docs.select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).select("id", portable_hash64(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    grouped = exploded.groupBy("id").agg(*votes)
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
    # 32-bit signatures exceed INT range; narrower ones keep the int type
    # the existing 16-bit entry hashes against
    sig_type = "long" if bits > 31 else "int"
    return grouped.select("id", out.cast(sig_type).alias("simhash"))


def simhash_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_dist: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_dist``, found
    COMPLETELY without an all-pairs join: split the signature into
    ``max_dist + 1`` bit-bands and equi-join on (band_id, band_value) —
    by pigeonhole, any pair within the radius agrees exactly on at least
    one band, so the blocked join misses nothing (the oracle brute-forces
    all pairs to prove exactly that). Candidates then filter on the exact
    popcount distance. One explode (map-side) + one equi self-join; never
    quadratic in the corpus.

    Precision is the RATIO max_dist/bits: on a homogeneous corpus (shared
    vocabulary pulls every signature toward the same votes) a loose ratio
    returns a dense pair set — measured here: radius 3 on 16 bits matched
    56% of ALL pairs, radius 1 on 32 bits (the default) 3.5%. Band width
    bits/(max_dist+1) also sets bucket cardinality, so wider signatures
    spread the blocking buckets (16-bit bands → 65k buckets)."""
    n_bands = max_dist + 1
    if bits % n_bands:
        raise ValueError("bits must divide evenly into max_dist + 1 bands")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    # signature aggregation runs once (both join sides read the checkpoint)
    sigs = simhash_signatures(docs, id_col, text_col, bits).localCheckpoint()
    bands = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()  # a pair can match on up to n_bands bands
    )
    dist = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int")
    return (
        cand.select("id_a", "id_b", dist.alias("hamming"))
        .where(F.col("hamming") <= max_dist)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.30,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, candidate-bounded by a shared
    min-shingle-hash anchor (each doc joins through exactly one anchor value,
    so candidates are linear in anchor-bucket sizes, never all-pairs)."""
    # One pass: shingle rows (codegen, map-side), hash each once, then
    # per-doc distinct-hash set + min-hash anchor behind a single groupBy
    # exchange. Jaccard then works on bigint sets (cheap compares, small
    # shuffle) and |A∪B| = |A| + |B| - |A∩B| avoids building union arrays.
    exploded = shingle_rows(docs, id_col, text_col, shingle_n).select(
        "id", portable_hash64(F.col("s")).alias("h")
    )
    anchored = exploded.groupBy("id").agg(
        F.collect_set("h").alias("shingles"), F.min("h").alias("anchor")
    )
    a, b = anchored.alias("a"), anchored.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    uni = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    # Double-quotient PREFILTER before the exact DECIMAL(38) ratio (r11
    # verdict task 4: dratio on EVERY candidate pair cost a 1.36x floor
    # regression): i/u in doubles has ~1e-16 relative error, so any pair
    # with i/u < threshold - 1e-4 provably fails the exact HALF_UP test
    # round(i/u, 6) >= threshold too — dratio then runs only on the
    # survivors, and the output value/filter stay the exact form
    # (hash-identical by construction; the slack only admits extra rows
    # into the exact re-check, never the output).
    return (
        a.join(b, (F.col("a.anchor") == F.col("b.anchor")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            inter.alias("__i"),
            uni.alias("__u"),
        )
        .where(
            F.col("__i").cast("double") / F.col("__u")
            >= F.lit(threshold - 1e-4)
        )
        .select(
            "id_a",
            "id_b",
            dratio(F.col("__i"), F.col("__u"), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _multi_doc_keys(rows: DataFrame, key_col: str, min_docs: int) -> DataFrame:
    """Keys of ``rows`` occurring in >= ``min_docs`` DISTINCT ``id``s.
    min_docs=2 (the whole dedup family's production setting) uses the
    min(id) != max(id) equivalence: two fixed 8-byte agg cells with full
    map-side combine, instead of countDistinct's per-key id set — the agg
    state no longer grows with a boilerplate shingle's document frequency,
    which is exactly the skewed key a 100 TB corpus guarantees (r9 verdict
    task 2's shingle-join fan-out bound). Identical output by construction."""
    if min_docs == 2:
        return (
            rows.groupBy(key_col)
            .agg(F.min("id").alias("__mn"), F.max("id").alias("__mx"))
            .where(F.col("__mn") != F.col("__mx"))
            .select(key_col)
        )
    return (
        rows.groupBy(key_col)
        .agg(F.countDistinct("id").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select(key_col)
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level exact-substring dedup at token-n-gram granularity (the
    "Deduplicating Training Data Makes Language Models Better" shape,
    approximated on token n-grams instead of a suffix array): per doc,
    how much of it is verbatim-shared with other docs, and the longest
    contiguous shared span — the signal a curation pipeline uses to cut
    boilerplate / licence blocks / mirrored passages out of training
    text.

    Semantics: an n-gram position is *duplicated* iff its exact token
    n-gram occurs in >= ``min_docs`` distinct documents. Contiguous
    duplicated positions merge into spans (gaps-and-islands);
    ``max_dup_span_tokens`` = longest span's token coverage
    (run_length + n - 1); ``dup_fraction`` = duplicated positions /
    total positions.

    Scale shape: one tokenize+slide pass (all codegen HOFs — transform/
    slice/concat_ws, no UDF), ONE groupBy(ngram) with map-side partial
    distinct-doc aggregation to build the duplicated-n-gram set, one
    shuffle join back, one per-doc window + groupBy. The n-gram key is
    the literal string here for oracle portability; at 100 TB the key
    would be portable_hash64(ngram) — 8 bytes instead of ~40 — with
    identical plan shape (the hash exists: functions/hashing.py).
    Never all-pairs, never a driver loop.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    )
    # int-explode + post-explode slice (round 10): measured ~2x faster at
    # sf1 than explode(transform(... struct(pos, concat_ws(slice)))) —
    # the struct form materializes every n-gram string into a per-doc
    # array before exploding; this form allocates an int array per doc and
    # builds each n-gram inside the post-explode codegen stage. Identical
    # (id, pos, ngram) relation.
    grams = toks.select(
        "id",
        "t",
        F.explode(
            F.expr(
                f"CASE WHEN size(t) >= {n} THEN sequence(1, size(t) - {n} + 1)"
                f" ELSE CAST(array() AS array<int>) END"
            )
        ).alias("pos"),
    ).select(
        "id", "pos", F.expr(f"concat_ws(' ', slice(t, pos, {n}))").alias("ngram")
    )
    dup_ngrams = _multi_doc_keys(grams, "ngram", min_docs)
    dup = grams.join(dup_ngrams, "ngram").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    runs = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = runs.groupBy("id", "grp").agg(
        F.count(F.lit(1)).alias("run_len"),
    )
    per_doc = spans.groupBy("id").agg(
        F.sum("run_len").cast("long").alias("n_dup_ngrams"),
        (F.max("run_len") + F.lit(n - 1)).cast("long").alias("max_dup_span_tokens"),
    )
    base = toks.select(
        "id",
        F.greatest(F.size("t") - F.lit(n - 1), F.lit(0))
        .cast("long")
        .alias("n_ngrams"),
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_ngrams",
            F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias("n_dup_ngrams"),
            F.coalesce("max_dup_span_tokens", F.lit(0))
            .cast("long")
            .alias("max_dup_span_tokens"),
            F.when(
                F.col("n_ngrams") > 0,
                dratio(F.coalesce("n_dup_ngrams", F.lit(0)), F.col("n_ngrams"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def duplicate_ngram_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> str:
    """DuckDB twin of :func:`duplicate_ngram_spans` (1-based inclusive
    list slice t[i : i+n-1] mirrors Spark's slice(t, i, n))."""
    return rf"""
WITH toks AS (
  SELECT {id_col} AS id, string_split_regex(trim({text_col}), '\s+') AS t
  FROM {table}
), grams AS (
  SELECT id, i AS pos, array_to_string(t[i : i + {n - 1}], ' ') AS ngram
  FROM toks, UNNEST(generate_series(1, len(t) - {n} + 1)) AS g(i)
), dupg AS (
  SELECT ngram FROM grams GROUP BY ngram
  HAVING count(DISTINCT id) >= {min_docs}
), dup AS (
  SELECT g.id, g.pos FROM grams g JOIN dupg USING (ngram)
), runs AS (
  SELECT id, pos,
         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
  FROM dup
), spans AS (
  SELECT id, grp, count(*) AS run_len FROM runs GROUP BY id, grp
), per_doc AS (
  SELECT id, CAST(sum(run_len) AS BIGINT) AS n_dup_ngrams,
         CAST(max(run_len) + {n - 1} AS BIGINT) AS max_dup_span_tokens
  FROM spans GROUP BY id
), base AS (
  SELECT id, CAST(greatest(len(t) - {n - 1}, 0) AS BIGINT) AS n_ngrams
  FROM toks
)
SELECT b.id AS {id_col}, b.n_ngrams,
       CAST(COALESCE(p.n_dup_ngrams, 0) AS BIGINT) AS n_dup_ngrams,
       CAST(COALESCE(p.max_dup_span_tokens, 0) AS BIGINT) AS max_dup_span_tokens,
       CASE WHEN b.n_ngrams > 0
            THEN {dratio_sql("COALESCE(p.n_dup_ngrams, 0)", "b.n_ngrams", 6)}
            ELSE 0.0 END AS dup_fraction
FROM base b LEFT JOIN per_doc p ON p.id = b.id
"""


#: Karp-Rabin base for the rolling-hash window key: odd (hence invertible
#: mod 2^64, which the vectorized kernel exploits) and large so short
#: windows spread. Collisions are possible in principle (mod-2^64 hashing
#: is not adversarially safe) and are ELIMINATED by the extend-and-verify
#: literal check in :func:`exact_substring_spans` — the hash only gates
#: which windows pay for verification.
_KR_BASE = 0x9E3779B97F4A7C15 | 1  # odd 64-bit multiplier (golden-ratio)


def _rolling_window_hashes(base: DataFrame, length: int) -> DataFrame:
    """(id, s) -> one row per char position: (id, pos, h) where ``h`` is
    the Karp-Rabin hash64 of ``substring(s, pos, length)`` — the 100 TB
    window key of :func:`exact_substring_spans`: ONE linear pass per
    document and an 8-byte key, instead of materializing an L-char string
    per position (L× the corpus through the explode and the shuffle).

    Arrow-vectorized mapInPandas kernel, no per-row Python: each batch is
    concatenated into ONE uint32 char array and hashed with wraparound
    uint64 arithmetic.  The position-free canonical form uses B odd =>
    invertible mod 2^64:  with prefix S(i) = Σ_{j<=i} c[j]·B^{-j},
    h(window at i, 0-based) = B^{i+L-1}·(S(i+L-1) − S(i−1))
                            = Σ_k c[i+k]·B^{L-1-k}   (the classic KR hash),
    so equal windows hash equal regardless of where they sit.  Windows
    crossing a document boundary are masked out.  `pos` is 1-based to
    match ``substring``.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    B = _KR_BASE

    def kernel(batches):
        import numpy as np
        import pandas as pd

        binv = pow(B, -1, 1 << 64)
        empty = pd.DataFrame(
            {
                "id": pd.Series([], dtype="int64"),
                "pos": pd.Series([], dtype="int32"),
                "h": pd.Series([], dtype="int64"),
            }
        )
        for pdf in batches:
            if not len(pdf):
                yield empty
                continue
            # NULL text -> zero windows (r11 ADVICE: .astype(str) alone
            # would turn SQL NULL into the literal 'None', hashing it and
            # emitting spurious candidates two null docs "share"; the
            # literal-key tier yields no windows for NULL, so mask here
            # to keep both key tiers symmetric at the source, not saved
            # downstream by the verify join's null-substring semantics)
            texts = pdf["s"].fillna("").astype(str)
            lens = texts.str.len().to_numpy(dtype=np.int64)
            total = int(lens.sum())
            if total < length:
                yield empty
                continue
            cat = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            # powers B^j and B^-j, j = 0..total-1 (uint64 wraparound)
            bp = np.full(total, B, dtype=np.uint64)
            bp[0] = 1
            np.cumprod(bp, out=bp)
            ip = np.full(total, binv, dtype=np.uint64)
            ip[0] = 1
            np.cumprod(ip, out=ip)
            S = np.cumsum(cat * ip, dtype=np.uint64)
            # h for window starting at global 0-based i:
            h = (S[length - 1 :] - np.concatenate(
                (np.zeros(1, dtype=np.uint64), S[: total - length])
            )) * bp[length - 1 :]
            # validity: window must not cross a doc boundary
            doc_idx = np.repeat(np.arange(len(lens)), lens)
            starts = np.repeat(np.cumsum(lens) - lens, lens)
            n_win = total - length + 1
            valid = doc_idx[:n_win] == doc_idx[length - 1 :]
            ids = pdf["id"].to_numpy(dtype=np.int64)[doc_idx[:n_win][valid]]
            pos = (
                np.arange(n_win, dtype=np.int64)[valid]
                - starts[:n_win][valid]
                + 1
            )
            yield pd.DataFrame(
                {
                    "id": ids,
                    "pos": pos.astype(np.int32),
                    "h": h[valid].view(np.int64),
                }
            )

    return base.mapInPandas(kernel, "id long, pos int, h long")


def exact_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    min_docs: int = 2,
    key: str = "hash64",
) -> DataFrame:
    """Character-level EXACT repeated-substring extraction — the
    suffix-array-style ExactSubstr tier of the dedup family ("Deduplicating
    Training Data Makes Language Models Better", the dedup the paper runs
    at byte granularity): every char position whose length-``length``
    window occurs verbatim in >= ``min_docs`` DISTINCT documents is
    duplicated, and overlapping-or-adjacent duplicated windows merge into
    maximal spans. Returns one row per span: (id, span_start, span_end,
    span_len), 1-based inclusive char offsets — exactly the byte ranges a
    curation pipeline cuts. This is EXACT for repeats of length >= L: a
    repeated substring of length m >= L is covered by its m-L+1 duplicated
    windows, which are position-contiguous and merge into the full span
    (zero-miss law vs a plain-Python brute force in tests/test_docs.py —
    the same proof shape as simhash's banded blocking).

    Relation to :func:`duplicate_ngram_spans`: that operator scores
    token-n-gram duplication per doc; this one extracts the literal CHAR
    span boundaries, the form span REMOVAL needs (cut text[start-1:end]).

    Scale shape (``key="hash64"``, the default since round 11): ONE
    Arrow-vectorized linear pass per document emits (id, pos, hash64 of
    the L-char window) — 8-byte keys, no L× substring materialization —
    then one groupBy(h) with the bounded min!=max detector, and an
    EXTEND-AND-VERIFY literal check confined to the candidate positions
    (hash-dup windows re-sliced via one join back to the text and
    re-detected on the literal string), so hash collisions are
    IMPOSSIBLE in the output, not just unlikely.  The candidate set is
    the true duplicates plus the (rare) colliding windows, so the
    verify join touches a small fraction of the corpus.  Then the same
    join-back + interval merge as before.  Never all-pairs, never a
    driver loop.

    ``key="literal"`` keeps the round-10 literal-string window key
    (codegen window explode, no Python boundary) — the
    oracle-portability tier the DuckDB twin mirrors and the A/B
    baseline.  Both keys return identical rows by the verify step's
    construction (law-tested in tests/test_dedup_clusters.py).

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    from fdp_dynamically_controlled_streams_spark.functions.parallelism import (
        spread_for_kernel,
    )

    # Corpus-scale per-char generation below (rolling-hash kernel or window
    # explode): a one-row-group local scan would run it on a single core
    # (29.9 -> 4.7 s at sf0.1 measured on the hash64 tier); no-op at scale
    # where the scan is already wider than the core count. Applied HERE and
    # not inside _rolling_window_hashes: the per-day maintenance paths hash
    # day-bounded batches where 32 spread tasks cost more than they win
    # (measured regression, see OPTIMIZATION_r14.md).
    base = spread_for_kernel(
        docs.select(F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s"))
    )
    if key == "hash64":
        winh = _rolling_window_hashes(base, length)
        dup_h = _multi_doc_keys(winh, "h", min_docs)
        cand = winh.join(dup_h, "h").select("id", "pos")
        ver = cand.join(base, "id").select(
            "id",
            "pos",
            F.expr(f"substring(s, pos, {length})").alias("w"),
        )
        vdup = _multi_doc_keys(ver, "w", min_docs)
        pos = ver.join(vdup, "w").select(
            "id", "pos", (F.col("pos") + F.lit(length - 1)).alias("end")
        )
    else:
        # Generation shape measured BOTH ways at sf1 (13.7M windows, round
        # 10): int-position explode + post-explode substring wins in
        # isolation (gen 13 s vs 17 s; gen+agg 28 s vs 34 s) but LOSES in
        # the full two-consumer pipeline (71-76 s vs 83-85 s), where the
        # detector agg and the join probe each re-evaluate the generation
        # subtree — the struct-array form computes every slice once per
        # consumer pass while the int form re-runs substring per consumer
        # per row downstream of a wider (id, s, pos) intermediate.
        # Entry-level wall time is what ships (the n-gram tier measured
        # the OPPOSITE at entry level — see duplicate_ngram_spans — which
        # is why both records are written down instead of one "rule").
        # A round-10 A/B also rejected an xxhash64-bucket PREFILTER on
        # literal windows (~12% slower: the explode dominates, not the
        # string shuffle) — which is exactly why the hash64 tier above
        # replaces the GENERATION, not just the key.
        wins = base.select(
            "id",
            F.explode(
                F.expr(
                    f"CASE WHEN length(s) >= {length} THEN"
                    f" transform(sequence(1, length(s) - {length} + 1),"
                    f"           i -> struct(i AS pos, substring(s, i, {length}) AS w))"
                    f" ELSE CAST(array() AS array<struct<pos:int,w:string>>) END"
                )
            ).alias("g"),
        ).select("id", F.col("g.pos").alias("pos"), F.col("g.w").alias("w"))
        dup = _multi_doc_keys(wins, "w", min_docs)
        pos = wins.join(dup, "w").select(
            "id", "pos", (F.col("pos") + F.lit(length - 1)).alias("end")
        )
    return _merge_position_spans(pos, id_col)


def _merge_position_spans(pos: DataFrame, id_col: str) -> DataFrame:
    """Merge duplicated window positions (id, pos, end) into maximal
    spans: the prev-max-end gaps-and-islands interval merge shared by
    the full and incremental ExactSubstr tiers."""
    w_ord = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = pos.withColumn(
        "ni",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    islands = marked.withColumn(
        "isl",
        F.sum("ni").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("id", "isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("end").cast("long").alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def exact_substring_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    key: str = "hash64",
) -> DataFrame:
    """Incremental ExactSubstr — the daily-crawl shape of
    :func:`exact_substring_spans` (round-10 verdict task 4): for each NEW
    (batch) document, the maximal char spans whose every ``length``-char
    window occurs VERBATIM somewhere in the EXISTING corpus.  An A×B
    join against the corpus window index, never a self-join: the corpus
    side reduces to its DISTINCT window keys (in production the
    persisted/bucketed index a daily batch joins shuffle-free, exactly
    like the MinHash incremental twin's band table), and span merging
    runs batch-side only — the corpus is never re-span-merged.

    Batch-internal repeats deliberately do NOT count (two new docs
    quoting each other surface on the next day's corpus, or via the full
    :func:`exact_substring_spans` run) — same contract as
    :func:`minhash_incremental_decisions`.

    RE-CRAWL contract (both key tiers, r13 ADVICE + r13 verdict task 4):
    when a batch id already exists in the corpus, that id's own stale
    corpus windows are RETIRED before the screen — a re-crawled document
    never matches its own old text, and no batch doc matches any
    re-crawled batch id's stale windows (they are about to be replaced
    by the day's upsert, so the screen sees upsert-consistent state).
    Implemented identically on ``key="hash64"`` and ``key="literal"`` as
    one broadcast anti-join on the day-bounded batch-id set, fused into
    the corpus-index scan.

    ``key="hash64"`` (default): both sides key on the Karp-Rabin rolling
    hash64 (:func:`_rolling_window_hashes`), and candidates are
    extend-and-verified literally — batch candidate positions re-slice
    their window, and ALL DISTINCT corpus window strings behind each
    candidate hash are re-sliced (not one witness: if two different
    corpus strings collide on a hash, a batch window equal to either
    must still match — see :func:`_incremental_positions_hash64`), and
    only literal equality survives, so hash collisions are impossible
    in the output.  The verify join only touches hash-matched
    positions.  ``key="literal"`` is the oracle-portability tier (and the
    DuckDB twin's form): literal L-char window keys end to end.

    Returns (id_col, span_start, span_end, span_len), batch docs only.
    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    cbase = corpus.select(
        F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s")
    )
    bbase = batch.select(
        F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s")
    )
    if key == "hash64":
        pos = _incremental_positions_hash64(
            bbase, cbase, _rolling_window_hashes(cbase, length), length
        )
    else:

        def lit_wins(b: DataFrame) -> DataFrame:
            return b.select(
                "id",
                F.explode(
                    F.expr(
                        f"CASE WHEN length(s) >= {length} THEN"
                        f" transform(sequence(1, length(s) - {length} + 1),"
                        f"           i -> struct(i AS pos, substring(s, i, {length}) AS w))"
                        f" ELSE CAST(array() AS array<struct<pos:int,w:string>>) END"
                    )
                ).alias("g"),
            ).select("id", F.col("g.pos").alias("pos"), F.col("g.w").alias("w"))

        # same retire-first re-crawl self-exclusion as the hash64 tier
        # (r13 ADVICE — the two documented-equivalent key tiers must not
        # diverge when batch ids overlap the corpus): corpus windows of
        # ids being re-crawled leave before the distinct/join
        pos = (
            lit_wins(bbase)
            .join(
                lit_wins(cbase)
                .join(F.broadcast(bbase.select("id")), "id", "left_anti")
                .select("w")
                .distinct(),
                "w",
            )
            .select(
                "id", "pos", (F.col("pos") + F.lit(length - 1)).alias("end")
            )
        )
    return _merge_position_spans(pos, id_col)


def exact_substring_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
) -> tuple[DataFrame, DataFrame]:
    """Build the REUSABLE corpus window index of the incremental
    ExactSubstr tier: (cbase, ch) = the trimmed corpus projection and its
    rolling-hash window table (id, pos, h).  In production this pair is
    the persisted/bucketed table a daily batch joins; the streaming twin
    localCheckpoints it once and reuses it across micro-batches."""
    cbase = corpus.select(
        F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s")
    )
    return cbase, _rolling_window_hashes(cbase, length)


def exact_substring_incremental_against_index(
    batch: DataFrame,
    cbase: DataFrame,
    ch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    bh: DataFrame | None = None,
) -> DataFrame:
    """:func:`exact_substring_incremental` against a PREBUILT
    :func:`exact_substring_index` — the per-micro-batch body of the
    streaming twin (each document is one row, so any batch partitioning
    of the docs yields exactly the batch operator's spans).  ``bh``
    optionally supplies the batch's own (checkpointed) window table so
    the rolling-hash kernel runs ONCE per day shared between screen and
    upsert (r12 verdict task 2) instead of once per consumer."""
    bbase = batch.select(
        F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s")
    )
    pos = _incremental_positions_hash64(bbase, cbase, ch, length, bh)
    return _merge_position_spans(pos, id_col)


def exact_substring_index_upsert(
    cbase: DataFrame,
    ch: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
) -> tuple[DataFrame, DataFrame]:
    """APPEND an accepted batch into the ExactSubstr corpus index — the
    maintenance half of the daily-crawl loop (r11 verdict task 1): after
    :func:`exact_substring_incremental_against_index` screens day k
    against the index of days < k, THIS folds day k's documents in so
    day k+1 screens against them too.

    Semantics are an idempotent upsert keyed on the document id — the
    same discipline as ``merge.py::upsert_sink``: batch rows REPLACE any
    existing index rows with the same id (a re-crawled document
    re-indexes its new text; its old windows leave), and re-applying the
    same batch is a no-op, so a replayed micro-batch rebuilds exactly
    the state it would have produced the first time.  Plan shape: one
    anti-join per index relation on the (bucketed, in production) id —
    shuffle-free against a bucketed index — plus the batch's own
    rolling-hash pass; nothing corpus-sized is rehashed or re-span-
    merged.  On a cluster with a transactional table format the pair
    becomes two MERGE INTOs; here the streaming twin localCheckpoints
    the returned pair per day (lineage truncation = the commit).

    Returns the new (cbase, ch) pair in :func:`exact_substring_index`'s
    shape.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    bbase = batch.select(
        F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s")
    )
    bh = _rolling_window_hashes(bbase, length)
    new_ids = bbase.select("id")
    return (
        cbase.join(new_ids, "id", "left_anti").unionByName(bbase),
        ch.join(new_ids, "id", "left_anti").unionByName(bh),
    )


def exact_substring_index_upsert_delta(
    cbase: DataFrame,
    ch: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    bbase: DataFrame | None = None,
    bh: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`exact_substring_index_upsert` with DELTA materialization —
    the form the streaming maintenance loop actually runs: only the
    BATCH's projection and window table are localCheckpointed (batch-
    sized), while the prior index — already materialized by earlier
    days — is composed lazily through a broadcast anti-join + union.
    Re-materializing the whole window index per day is O(corpus) daily;
    a production MERGE INTO writes exactly this delta. The composition
    chain grows one broadcast anti-join per day — compact (full
    re-checkpoint / table rewrite) on a cadence for long crawls. Same
    result rows as the non-delta upsert by construction.

    ``bbase``/``bh`` (optional, r12 verdict task 2): the batch's
    ALREADY-CHECKPOINTED projection and window table — when the caller's
    screen computed them first, passing them here means the rolling-hash
    kernel runs ONCE per day total, not once per consumer.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    if bbase is None:
        bbase = batch.select(
            F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s")
        ).localCheckpoint()
    if bh is None:
        bh = _rolling_window_hashes(bbase, length).localCheckpoint()
    new_ids = bbase.select("id")
    return (
        cbase.join(F.broadcast(new_ids), "id", "left_anti").unionByName(bbase),
        ch.join(F.broadcast(new_ids), "id", "left_anti").unionByName(bh),
    )


def exact_substring_maintenance_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    batch_pred: str = "doc_id % 5 = 0",
    day_expr: str = "(doc_id % 15) // 5",
) -> str:
    """DuckDB twin of the N-day ExactSubstr index-maintenance loop: docs
    matching ``batch_pred`` arrive in days ordered by ``day_expr``; a
    day-k doc's spans are those whose every ``length``-char window
    occurs verbatim in the seed corpus (NOT batch_pred) OR in an EARLIER
    day's batch docs.  Set-based replay of the sequential loop: corpus
    day = -1, and a batch window matches any window row with a strictly
    smaller day.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    return f"""
WITH d AS (
  SELECT {id_col} AS id, trim({text_col}) AS s,
         CASE WHEN {batch_pred} THEN CAST({day_expr} AS BIGINT)
              ELSE -1 END AS day
  FROM {table}
), wins AS (
  SELECT id, day, i AS pos, substring(s, i, {length}) AS w,
         i + {length - 1} AS e
  FROM d, UNNEST(generate_series(1, length(s) - {length} + 1)) AS g(i)
), pos AS (
  SELECT DISTINCT b.id, b.pos, b.e
  FROM wins b JOIN wins c ON b.w = c.w AND c.day < b.day
  WHERE b.day >= 0
), marked AS (
  SELECT id, pos, e,
         CASE WHEN max(e) OVER pw IS NULL OR pos > max(e) OVER pw + 1
              THEN 1 ELSE 0 END AS ni
  FROM pos
  WINDOW pw AS (PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
  SELECT id, pos, e,
         sum(ni) OVER (PARTITION BY id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM marked
)
SELECT id AS {id_col}, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_len
FROM isl GROUP BY id, g
"""


def _incremental_positions_hash64(
    bbase: DataFrame,
    cbase: DataFrame,
    ch: DataFrame,
    length: int,
    bh: DataFrame | None = None,
) -> DataFrame:
    """The batch-vs-corpus-index join of
    :func:`exact_substring_incremental` (hash64 key), factored so the
    corpus index ``ch`` — (id, pos, h) rolling-window hashes, the
    persisted table in production — can be built ONCE and reused across
    micro-batches by the streaming twin.  ``bh`` (optional): the
    batch's own precomputed window table, shared with the upsert so the
    kernel runs once per day.

    Join orientation (r13, r12 verdict task 2): the BATCH's distinct
    hash set is day-bounded (the screen contract — a daily batch is
    small relative to the corpus), so it BROADCASTS onto ONE map-side
    pass over the corpus window index, which yields the candidate
    corpus WINDOWS directly — the prefilter and the verify's corpus
    side come out of the same single scan, the corpus index is never
    shuffled and never a hash-map build side, and no separate
    distinct-hash membership pass is needed (r12's shuffle orientation
    joined the batch windows against a maintained distinct-hash table
    and then ch against the candidate hashes, each join shuffling the
    multi-million-row index once per day — measured as the loop's
    dominant cost, 1.7–1.9 s of a ~2.3 s day at sf0.1).  The production
    form of the broadcast is a bucket-co-located ch ⋈ bh join on h (a
    real crawl's day may be too big to broadcast; bucketing both sides
    on h gives the same zero-shuffle plan)."""
    if bh is None:
        bh = _rolling_window_hashes(bbase, length)
    bhd = bh.select("h").distinct()
    # RE-CRAWL SELF-EXCLUSION, retire-first form (r13 verdict task 4,
    # replacing the r13 countDistinct-witness aggregation that cost
    # +0.29 s on the entry's floor): the batch's ids' OWN stale index
    # rows are retired from the scan BEFORE candidate generation — one
    # extra broadcast semi/anti condition fused into the same map-side
    # corpus pass, zero extra aggregation.  This is exactly the state
    # the index will hold after the day's upsert (a re-crawled id's old
    # windows leave), so the screen sees upsert-consistent state: a
    # re-crawled id never matches its own stale windows (the r12 ADVICE
    # law, test_exact_substring_recrawl_never_self_matches), and no
    # batch doc matches ANY re-crawled batch id's stale windows — the
    # retire-first semantics, matching the batch-internal-repeats-don't-
    # count contract (the re-crawl's NEW text is batch-internal).
    batch_ids = bbase.select("id")
    # ONE corpus-index pass: the candidate corpus windows (id, pos, h)
    # whose hash occurs in the day's windows AND whose id is not being
    # re-crawled — day-bounded output, materialized once for its two
    # consumers (candh + the verify)
    chf = (
        ch.join(F.broadcast(batch_ids), "id", "left_anti")
        .join(F.broadcast(bhd), "h")
        .localCheckpoint()
    )
    candh = chf.select("h").distinct()
    # candidate batch positions: map-side filter of the day's windows
    cand = bh.join(F.broadcast(candh), "h")
    # literal verify, candidates only: every DISTINCT corpus window
    # string behind a candidate hash (not one witness — if two different
    # corpus strings collide on h, a batch window equal to either must
    # still match), sliced via a join back to the text — distinct, NOT
    # exploded per corpus doc, so the verify join stays one row per
    # window string.
    cw = (
        chf
        .join(cbase, "id")
        .select("h", F.expr(f"substring(s, pos, {length})").alias("cw"))
        .distinct()
    )
    bver = cand.join(bbase, "id").select(
        "id",
        "pos",
        "h",
        F.expr(f"substring(s, pos, {length})").alias("bw"),
    )
    return (
        bver.join(cw, "h")
        .where(F.col("bw") == F.col("cw"))
        .select("id", "pos", (F.col("pos") + F.lit(length - 1)).alias("end"))
    )


def exact_substring_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    min_docs: int = 2,
) -> str:
    """DuckDB twin of :func:`exact_substring_spans` (substring(s, i, L) is
    1-based in both engines; the interval merge replays the same
    prev-max-end gaps-and-islands)."""
    return f"""
WITH d AS (
  SELECT {id_col} AS id, trim({text_col}) AS s FROM {table}
), wins AS (
  SELECT id, i AS pos, substring(s, i, {length}) AS w, i + {length - 1} AS e
  FROM d, UNNEST(generate_series(1, length(s) - {length} + 1)) AS g(i)
), dup AS (
  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT id) >= {min_docs}
), pos AS (
  SELECT wins.id, wins.pos, wins.e FROM wins JOIN dup USING (w)
), marked AS (
  SELECT id, pos, e,
         CASE WHEN max(e) OVER pw IS NULL OR pos > max(e) OVER pw + 1
              THEN 1 ELSE 0 END AS ni
  FROM pos
  WINDOW pw AS (PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
  SELECT id, pos, e,
         sum(ni) OVER (PARTITION BY id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM marked
)
SELECT id AS {id_col}, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_len
FROM isl GROUP BY id, g
"""


def exact_substring_cut(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    min_docs: int = 2,
    key: str = "hash64",
) -> DataFrame:
    """APPLY the ExactSubstr cut — the terminal operation of the family
    (spans -> removal budget -> THIS): rebuild each document's text with
    every duplicated maximal span removed, returning (id_col, kept_text,
    kept_chars).  Docs with no duplicated span keep their (trimmed) text
    verbatim; a doc covered entirely by spans keeps ''.

    Plan shape: the spans pipeline, then per-doc segment assembly — the
    kept segments fall out of ONE lag() window over the sorted disjoint
    spans (head = before the first span, gaps = between consecutive
    spans, tail = after the last) plus one ordered-concat aggregation
    (collect_list + array_sort + array_join, the deterministic
    string-agg pattern used repo-wide), one join back to the corpus for
    the untouched docs.  Everything after the spans is proportional to
    the SPAN count, not the corpus; kept_chars here must equal the
    removal rollup's kept_chars by construction (cross-entry law,
    tests/test_dedup_clusters.py).

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    spans = exact_substring_spans(docs, id_col, text_col, length, min_docs, key)
    return exact_substring_cut_from_spans(docs, spans, id_col, text_col)


def exact_substring_cut_from_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`exact_substring_cut` against PRECOMPUTED spans — the
    production composition (spans are the persisted curation artifact;
    budget rollup and the cut both consume the same table rather than
    re-deriving it). Same rows as the inline form by construction."""
    base = docs.select(
        F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("s")
    )
    w = Window.partitionBy(id_col).orderBy("span_start")
    mid = spans.select(
        F.col(id_col).alias("id"),
        (F.coalesce(F.lag("span_end").over(w), F.lit(0)) + 1).alias("seg_start"),
        (F.col("span_start") - 1).alias("seg_end"),
    )
    tail = (
        spans.groupBy(F.col(id_col).alias("id"))
        .agg((F.max("span_end") + 1).alias("seg_start"))
        .join(base, "id")
        .select("id", "seg_start", F.length("s").cast("long").alias("seg_end"))
    )
    segs = (
        mid.unionByName(tail)
        .where(F.col("seg_end") >= F.col("seg_start"))
        .join(base, "id")
        .select(
            "id",
            "seg_start",
            F.expr("substring(s, seg_start, seg_end - seg_start + 1)").alias(
                "seg"
            ),
        )
    )
    kept = segs.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_start", "seg"))),
                lambda x: x["seg"],
            ),
            "",
        ).alias("kept_text")
    )
    has_spans = spans.select(F.col(id_col).alias("id")).distinct().select(
        "id", F.lit(True).alias("has_spans")
    )
    return (
        base.join(has_spans, "id", "left")
        .join(kept, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("has_spans").isNull(), F.col("s"))
            .otherwise(F.coalesce("kept_text", F.lit("")))
            .alias("kept_text"),
        )
        .withColumn("kept_chars", F.length("kept_text").cast("long"))
    )


def exact_substring_cut_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    min_docs: int = 2,
) -> str:
    """DuckDB twin of :func:`exact_substring_cut`: the same lag-window
    segment assembly over the spans CTE, ordered string_agg."""
    spans = exact_substring_spans_sql(table, id_col, text_col, length, min_docs)
    return f"""
WITH spans AS ({spans}),
d AS (SELECT {id_col} AS id, trim({text_col}) AS s FROM {table}),
mid AS (
  SELECT {id_col} AS id,
         COALESCE(lag(span_end) OVER (PARTITION BY {id_col}
                                      ORDER BY span_start), 0) + 1 AS seg_start,
         span_start - 1 AS seg_end
  FROM spans
),
tl AS (
  SELECT sp.{id_col} AS id, max(sp.span_end) + 1 AS seg_start,
         CAST(length(any_value(d.s)) AS BIGINT) AS seg_end
  FROM spans sp JOIN d ON d.id = sp.{id_col}
  GROUP BY sp.{id_col}
),
segs AS (
  SELECT * FROM mid UNION ALL SELECT * FROM tl
),
kept AS (
  SELECT g.id,
         string_agg(substring(d.s, CAST(g.seg_start AS INT),
                              CAST(g.seg_end - g.seg_start + 1 AS INT)),
                    '' ORDER BY g.seg_start) AS kept_text
  FROM (SELECT * FROM segs WHERE seg_end >= seg_start) g
       JOIN d ON d.id = g.id
  GROUP BY g.id
),
hs AS (SELECT DISTINCT {id_col} AS id FROM spans)
SELECT d.id AS {id_col},
       CASE WHEN hs.id IS NULL THEN d.s
            ELSE COALESCE(k.kept_text, '') END AS kept_text,
       CAST(length(CASE WHEN hs.id IS NULL THEN d.s
                        ELSE COALESCE(k.kept_text, '') END) AS BIGINT)
         AS kept_chars
FROM d LEFT JOIN hs ON hs.id = d.id
       LEFT JOIN kept k ON k.id = d.id
"""


def exact_substring_incremental_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 24,
    batch_pred: str = "doc_id % 5 = 0",
) -> str:
    """DuckDB twin of :func:`exact_substring_incremental`: batch windows
    semi-joined against the corpus's DISTINCT literal windows, then the
    same batch-side interval merge."""
    return f"""
WITH cb AS (
  SELECT trim({text_col}) AS s FROM {table} WHERE NOT ({batch_pred})
), bb AS (
  SELECT {id_col} AS id, trim({text_col}) AS s FROM {table} WHERE {batch_pred}
), cw AS (
  SELECT DISTINCT substring(s, i, {length}) AS w
  FROM cb, UNNEST(generate_series(1, length(s) - {length} + 1)) AS g(i)
), bw AS (
  SELECT id, i AS pos, substring(s, i, {length}) AS w, i + {length - 1} AS e
  FROM bb, UNNEST(generate_series(1, length(s) - {length} + 1)) AS g(i)
), pos AS (
  SELECT bw.id, bw.pos, bw.e FROM bw JOIN cw USING (w)
), marked AS (
  SELECT id, pos, e,
         CASE WHEN max(e) OVER pw IS NULL OR pos > max(e) OVER pw + 1
              THEN 1 ELSE 0 END AS ni
  FROM pos
  WINDOW pw AS (PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
  SELECT id, pos, e,
         sum(ni) OVER (PARTITION BY id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM marked
)
SELECT id AS {id_col}, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_len
FROM isl GROUP BY id, g
"""


def _pair_dot_arrow_fn(lo: float):
    """applyInPandas kernel for semantic_dedup's within-cell pair dots:
    for one cell's (id, normalized-vec) rows sorted by id, emit
    (higher_id, dot) for every i<j pair whose dot clears ``lo`` (the
    caller's threshold minus slack — the exact rounded comparison stays
    JVM-side on the returned value). The accumulation is a sequential
    per-dimension fold of float64 outer products, so each pair's dot is
    bit-identical to the JVM zip_with/aggregate fold. Rows are processed
    in blocks of 1024 against the whole cell, bounding memory at
    1024 x |cell| doubles even for a degenerate giant cell."""
    import numpy as np
    import pandas as pd

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame(
                {"id": pd.Series([], dtype="int64"),
                 "dotv": pd.Series([], dtype="float64")}
            )
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        n, dim = V.shape
        out_ids: list = []
        out_dots: list = []
        for i0 in range(0, n, 1024):
            i1 = min(i0 + 1024, n)
            acc = np.zeros((i1 - i0, n))
            for d in range(dim):  # sequential fold in d (bit parity)
                acc += V[i0:i1, d : d + 1] * V[None, :, d]
            # upper triangle only (ia < ib by the id sort) + candidate cut
            cols = np.arange(n)[None, :]
            rows = np.arange(i0, i1)[:, None]
            mask = (cols > rows) & (acc >= lo)
            bi, bj = np.nonzero(mask)
            out_ids.append(ids[bj + 0])
            out_dots.append(acc[bi, bj])
        return pd.DataFrame(
            {"id": np.concatenate(out_ids), "dotv": np.concatenate(out_dots)}
        )

    return fn


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
    init: str = "kmeanspp",
    engine: str = "sql",
) -> DataFrame:
    """SemDeDup-shape semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means clusters act as SEMANTIC BLOCKS, pairwise
    cosine runs only within a cluster, and of any near-duplicate pair the
    lower id is kept. Returns (id, cell, keep) for every input row.

    Scale shape: clustering is the repo's deterministic k-means
    (operators/clustering.py — map-side assignment from one broadcast
    centroid literal), so the blocking pass adds NO shuffle beyond the
    k×dim centroid agg; the pair join shuffles once on the cell key and
    expands only within blocks — the paper's point is exactly that
    cluster-blocking makes embedding dedup sub-quadratic (at 100 TB, k
    grows with the corpus to keep E[cluster]² bounded, and the corpus is
    written cell-partitioned so re-runs are shuffle-free). The keep rule
    is pairwise lowest-id-wins (one boolean per row, no transitive
    closure) — chain-transitive clustering is `connected_components`'s
    job if needed downstream; determinism comes from the 1e-6-rounded
    score and exact id compare, so the result value-hashes against the
    unrolled SQL twin.

    Pair-kernel economy: vectors are NORMALIZED ONCE per row (O(n·dim))
    so the per-pair score is a single dot fold instead of
    dot + two norms — 3× less lambda work on the O(pairs·dim) hot path
    (measured 9.8 → ~4 s at the bench SF). The oracle applies the
    identical normalize-then-dot operation order, so the 1e-6-rounded
    scores stay engine-exact.

    ``k`` MUST grow with the corpus (k ≈ n / target_cell) or the
    within-cell pair join is quadratic in n — the r8 sf1 probe measured
    a ×51 wall factor on 10× data at fixed k=4 before the catalog entry
    switched to corpus-scaled k. ``init`` selects the k-means seeding:
    'kmeanspp' (default, the quality init) or 'ids' (centroid j =
    embedding j — the convention whose oracle supports a DATA-DEPENDENT
    k expression, see clustering.kmeans_oracle_sql)."""
    from fdp_dynamically_controlled_streams_spark.functions.vectors import dot, norm
    from fdp_dynamically_controlled_streams_spark.operators.clustering import (
        kmeans_assign,
    )

    assigned = kmeans_assign(
        embeddings, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        seed=seed, init=init, engine=engine,
    ).select(F.col(id_col).alias("id"), "cell")
    # norm materialized as its own column first: a lambda that refolds the
    # norm per element would do O(dim²) work per row.
    vecs = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("_v"),
            norm(F.col(vec_col)).alias("_n"),
        )
        .select(
            "id",
            F.transform(
                F.col("_v"), lambda x: x.cast("double") / F.col("_n")
            ).alias("vec"),
        )
    )
    base = assigned.join(vecs, "id").localCheckpoint()  # reused 3x below
    if engine == "arrow":
        # One declared applyInPandas boundary per cell: the blockwise
        # numpy kernel accumulates pair dots ONE DIMENSION AT A TIME
        # (bit-identical to the JVM zip_with fold — same float64 products
        # added in the same order), emits only candidates above
        # threshold-1e-6 (a safe superset: round(x,6) >= t needs
        # x >= t-5e-7), and the EXACT BigDecimal-rounding filter still
        # runs JVM-side on the returned dot — so the decision boundary is
        # byte-for-byte the SQL path's. Law-tested equal to engine='sql'.
        id_type = base.schema["id"].dataType.simpleString()
        cand = (
            base.select("cell", "id", "vec")
            .groupBy("cell")
            .applyInPandas(
                _pair_dot_arrow_fn(threshold - 1e-6),
                schema=f"id {id_type}, dotv double",
            )
        )
        dup_ids = (
            cand.where(F.round(F.col("dotv"), 6) >= threshold)
            .select("id")
            .distinct()
        )
    else:
        a = base.select("cell", F.col("id").alias("ia"), F.col("vec").alias("va"))
        b = base.select("cell", F.col("id").alias("ib"), F.col("vec").alias("vb"))
        dup_ids = (
            a.join(b, "cell")
            .where(F.col("ia") < F.col("ib"))
            .where(F.round(dot(F.col("va"), F.col("vb")), 6) >= threshold)
            .select(F.col("ib").alias("id"))
            .distinct()
        )
    return (
        base.join(dup_ids.withColumn("_dup", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.col("_dup").isNull().alias("keep"),
        )
    )


def semantic_dedup_sql(
    kmeans_sql: str,
    threshold: float = 0.3,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`semantic_dedup`; ``kmeans_sql`` is the full
    kmeans_oracle_sql text (nested as a CTE). Mirrors the operator's
    normalize-once-then-dot operation order exactly."""
    from fdp_dynamically_controlled_streams_spark.functions.vectors import (
        dot_sql,
        norm_sql,
    )

    return f"""
WITH assign AS ({kmeans_sql}),
vn AS (
  SELECT a.vec_id AS id, a.cell, e.embedding AS emb,
         {norm_sql("e.embedding")} AS nn
  FROM assign a JOIN {table} e ON e.vec_id = a.vec_id
),
v AS (
  SELECT id, cell,
         list_transform(emb, x -> CAST(x AS DOUBLE) / nn) AS vec
  FROM vn
),
dup AS (
  SELECT DISTINCT b.id
  FROM v a JOIN v b ON a.cell = b.cell AND a.id < b.id
  WHERE round({dot_sql("a.vec", "b.vec")}, 6) >= {threshold}
)
SELECT v.id AS vec_id, v.cell, (d.id IS NULL) AS keep
FROM v LEFT JOIN dup d ON d.id = v.id
"""


def minhash_incremental_decisions(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.3,
) -> DataFrame:
    """Incremental ingest dedup — the production crawl shape: a NEW batch
    of documents is screened against the EXISTING corpus (A×B blocked
    join, not a self-join; the corpus never pairs with itself). Returns
    one decision row per batch doc: (id, n_matches, best_est, is_new).

    Scale shape: both sides run the identical signature pipeline
    (minhash_signatures — in production the corpus side is the persisted
    signature table from previous runs, so only the batch pays the
    shingle pass), bands explode map-side, and the ONLY cross-set work is
    an equi-join on (band_id, band_hash) whose probe side is batch-sized.
    The corpus-sized band table is what you bucket at rest; a daily batch
    then joins against it shuffle-free. Decision aggregation is one
    groupBy(batch id) with map-side partials; batch docs with no
    collision survive via the left join (is_new = true)."""
    sig_c = minhash_signatures(corpus, id_col, text_col).localCheckpoint()
    sig_b = minhash_signatures(batch, id_col, text_col).localCheckpoint()
    return minhash_decisions_against_sigs(sig_b, sig_c, id_col, est_threshold)


def minhash_index(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build the REUSABLE MinHash signature index — the (id, sig) table a
    daily crawl screens against (in production: the persisted/bucketed
    signature table; the streaming maintenance twin localCheckpoints it
    once per day). The band table derives map-side per consumer, so the
    signature table IS the whole index artifact.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    return minhash_signatures(corpus, id_col, text_col)


def minhash_index_upsert(
    sig_c: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPEND an accepted batch into the MinHash signature index — the
    maintenance half of the MinHash daily-crawl loop, the LSH sibling of
    :func:`exact_substring_index_upsert` (same merge.py::upsert_sink
    discipline): batch docs REPLACE same-id index rows (a re-crawled doc
    re-signs its new text; a doc shrunk below shingle length simply
    leaves), and re-applying a batch is a no-op.  One anti-join on the
    (bucketed, in production) id + the batch's own signature pass —
    nothing corpus-sized is re-shingled.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    sig_b = minhash_signatures(batch, id_col, text_col)
    new_ids = batch.select(F.col(id_col).alias("id"))
    return sig_c.join(new_ids, "id", "left_anti").unionByName(sig_b)


def minhash_index_upsert_sigs(
    sig_c: DataFrame, new_ids: DataFrame, sig_b: DataFrame
) -> DataFrame:
    """:func:`minhash_index_upsert` over PRE-COMPUTED batch signatures —
    the delta form the maintenance loop runs (r12 verdict task 2): the
    screen already paid the batch's shingle+minhash pass and
    checkpointed ``sig_b``; re-running it inside the upsert doubles the
    per-day kernel cost for nothing.  ``new_ids`` must be the BATCH's
    ids (not sig_b's — a doc shrunk below shingle length still retires
    its old signature).  The prior index composes lazily through a
    broadcast anti-join (the MERGE-INTO delta a production crawl
    writes); re-materializing the whole signature table per day is
    O(corpus) daily — compact on a cadence instead: the maintenance
    loops materialize the composed index themselves (a
    ``localCheckpoint`` in ``replay_in_driver``, the snapshot write in
    the restart-safe pipeline).

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    return sig_c.join(F.broadcast(new_ids), "id", "left_anti").unionByName(
        sig_b
    )


def minhash_decisions_against_index(
    batch: DataFrame,
    sig_c: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.3,
) -> DataFrame:
    """:func:`minhash_incremental_decisions` against a PREBUILT
    :func:`minhash_index` — the per-micro-batch body of the streaming
    maintenance twin (one row per doc, so any batch chunking of the docs
    yields exactly the batch operator's decisions).

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    sig_b = minhash_signatures(batch, id_col, text_col).localCheckpoint()
    return minhash_decisions_against_sigs(sig_b, sig_c, id_col, est_threshold)


def minhash_decisions_against_sigs(
    sig_b: DataFrame,
    sig_c: DataFrame,
    id_col: str = "doc_id",
    est_threshold: float = 0.3,
) -> DataFrame:
    """The band-blocked A×B decision join of
    :func:`minhash_incremental_decisions`, factored over prebuilt
    signature tables so the corpus side can be a maintained index.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """

    def bands_of(sigs: DataFrame, side: str) -> DataFrame:
        return sigs.select(
            F.col("id").alias(f"{side}_id"),
            F.col("sig").alias(f"{side}_sig"),
            F.explode(minhash_bands(F.col("sig"))).alias("band"),
        ).select(
            f"{side}_id", f"{side}_sig", "band.band_id", "band.band_hash"
        )

    cand = (
        bands_of(sig_b, "b")
        .join(bands_of(sig_c, "c"), ["band_id", "band_hash"])
        # re-crawl consistency (r12 ADVICE): a re-crawled id never
        # matches its own (stale) index row — same self-exclusion as
        # similarity.embedding_decisions_against_index
        .where(F.col("b_id") != F.col("c_id"))
        .dropDuplicates(["b_id", "c_id"])
    )
    agree = F.size(
        F.filter(F.zip_with("b_sig", "c_sig", lambda x, y: x == y), lambda v: v)
    )
    est = F.round(agree / F.lit(float(N_HASHES)), 6)
    matches = (
        cand.select("b_id", est.alias("est"))
        .where(F.col("est") >= est_threshold)
        .groupBy("b_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max("est").alias("best_est"),
        )
    )
    return (
        sig_b.select(F.col("id").alias(id_col))
        .join(matches, F.col(id_col) == matches.b_id, "left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
            F.coalesce("best_est", F.lit(0.0)).alias("best_est"),
            F.col("n_matches").isNull().alias("is_new"),
        )
    )
