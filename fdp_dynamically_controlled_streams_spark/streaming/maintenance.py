"""The daily-crawl index-maintenance loop as a RESTART-SAFE Structured
Streaming pipeline (r12 verdict task 4).

The replay entries compose batch upserts day-by-day with DRIVER-memory
state (a dict holding the localCheckpointed index) — correct under the
hermetic availableNow replay, but a crashed driver loses the index and a
re-delivered micro-batch would double-apply.  This module is the
production form: **the streaming query's only state is the PERSISTED
index artifact**, written as one snapshot per micro-batch epoch, so the
pipeline survives exactly the two failure modes foreachBatch exposes:

* **restart** — a new run over the same checkpointLocation resumes with
  the batches Spark knows are uncommitted; the batch body reconstructs
  its screening index by reading the newest persisted snapshot with
  epoch < its batch id (seed if none), NOT from driver memory;
* **re-delivery** — foreachBatch is at-least-once per epoch; both writes
  (the day's decisions and the index snapshot) go to epoch-addressed
  directories with mode=overwrite, so re-running a batch rewrites the
  identical artifacts instead of appending duplicates (the
  merge.py::upsert_sink idempotence discipline applied to the stream).

Reference lineage: the reference keeps ALL its streaming state in the
engine checkpoint (SparkStructuredController.scala:30 `checkpointLocation`
— SURVEY §2.5 O4); this extends that discipline to a state object the
engine cannot checkpoint for us (a whole index table).

[ABSENT in reference: SURVEY §2.7 — engine extension.]
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.functions.parallelism import (
    overlap_jobs,
)
from fdp_dynamically_controlled_streams_spark.operators import dedup as dedup_ops
from fdp_dynamically_controlled_streams_spark.streaming.drain import drain


def _is_committed(path: str, parts: tuple[str, ...] = ()) -> bool:
    """A snapshot is committed iff its parquet _SUCCESS marker exists —
    for a multi-relation snapshot (``parts``), iff EVERY relation's
    marker exists: a crash between relation writes leaves a partial
    epoch dir that is ignored and rewritten whole on re-delivery."""
    if not parts:
        return os.path.exists(os.path.join(path, "_SUCCESS"))
    return all(
        os.path.exists(os.path.join(path, part, "_SUCCESS"))
        for part in parts
    )


def _committed_epochs(
    root: str, parts: tuple[str, ...] = (), prefix: str = "e"
) -> list[tuple[int, str]]:
    """All committed epoch dirs under ``root``, ascending by epoch."""
    out = []
    for p in glob.glob(os.path.join(root, f"{prefix}*")):
        name = os.path.basename(p)
        try:
            ep = int(name[len(prefix):])
        except ValueError:
            continue
        if _is_committed(p, parts):
            out.append((ep, p))
    return sorted(out)


def _latest_snapshot(
    sig_root: str, before_epoch: int, parts: tuple[str, ...] = ()
) -> str | None:
    """Newest COMMITTED index snapshot with epoch < ``before_epoch``.
    A snapshot is committed iff its parquet _SUCCESS marker exists (all
    of them, for multi-relation snapshots) — a crash mid-write leaves
    no marker and the snapshot is ignored, so a torn write can never be
    screened against."""
    best = None
    for ep, p in _committed_epochs(sig_root, parts):
        if ep < before_epoch and (best is None or ep > best[0]):
            best = (ep, p)
    return best[1] if best else None


def reclaim_epoch_snapshots(
    root: str, keep_last: int = 2, parts: tuple[str, ...] = ()
) -> list[str]:
    """SNAPSHOT RETENTION (r13 verdict task 3): delete committed index
    snapshots older than the newest ``keep_last`` committed ones — the
    stale-reclaim law of the compaction operators applied to the epoch
    dirs, bounding a long crawl's storage at keep_last × index instead
    of epochs × index.

    ``keep_last`` MUST be >= 2 for restart safety: foreachBatch can
    re-deliver exactly the NEWEST epoch (a crash between its snapshot
    write and the engine's checkpoint commit), and the re-run
    reconstructs from the newest snapshot with epoch < its id — the
    second-newest.  Older epochs can never be re-delivered (the engine
    checkpoint has committed them), so reclaiming them can never change
    an answer (law: tests/test_streaming.py — any keep_last >= 2 yields
    identical decisions).  Crash-safe: each reclaimed snapshot drops its
    _SUCCESS marker(s) FIRST, so a crash mid-delete leaves an
    uncommitted (ignored) dir, never a half-readable one.  Returns the
    reclaimed paths."""
    if keep_last < 2:
        raise ValueError("keep_last must be >= 2 (re-delivery safety)")
    import shutil

    committed = _committed_epochs(root, parts)
    reclaimed = []
    for _, p in committed[:-keep_last] if len(committed) > keep_last else []:
        if parts:
            for part in parts:
                marker = os.path.join(p, part, "_SUCCESS")
                if os.path.exists(marker):
                    os.remove(marker)
        else:
            os.remove(os.path.join(p, "_SUCCESS"))
        shutil.rmtree(p, ignore_errors=True)
        reclaimed.append(p)
    return reclaimed


def compaction_due(
    depth: int,
    retired_frac: float = 0.0,
    max_depth: int = 8,
    max_retired_frac: float = 0.5,
) -> bool:
    """The WHEN-TO-COMPACT policy as code, not a docstring (r13 verdict
    task 3): compact when the composition/accumulation DEPTH (delta
    upserts since the last compaction, or epoch output dirs since the
    last decisions roll-up) reaches ``max_depth``, or when the RETIRED
    FRACTION of a maintained index (rows superseded by re-crawl upserts
    that a compaction would physically reclaim) reaches
    ``max_retired_frac``.  Depth bounds read amplification (every read
    unions depth pieces / replays depth anti-joins); retired fraction
    bounds storage amplification — two independent failure axes, so the
    rule is an OR.  Pure integer/float comparison, so the pipelines'
    cadence choices are testable (and the law is that ANY choice yields
    identical answers — compaction is semantics-invisible)."""
    return depth >= max_depth or retired_frac >= max_retired_frac


def compact_epoch_outputs(spark: SparkSession, out_root: str, ddl: str) -> str | None:
    """DECISIONS COMPACTION (r13 verdict task 3): roll every committed
    epoch decision dir (``e*``, plus any prior roll-up ``c*``) into ONE
    ``c<max_epoch>`` dir, then reclaim the covered dirs — so a
    long-running crawl's decisions stay readable as O(1) directories
    instead of one per epoch (read_epoch_outputs unions N dirs).

    Crash-safe ordering: the roll-up is WRITTEN (and _SUCCESS-gated)
    before anything is deleted; :func:`read_epoch_outputs` ignores
    ``e*`` dirs at or below the newest roll-up's epoch, so a crash
    between write and reclaim double-lists nothing.  Re-delivery of a
    compacted epoch just recreates an ``e*`` dir the reader ignores.
    Returns the roll-up path (None if there was nothing to compact)."""
    import shutil

    rolls = _committed_epochs(out_root, prefix="c")
    upto = rolls[-1][0] if rolls else -1
    epochs = [(ep, p) for ep, p in _committed_epochs(out_root) if ep > upto]
    if not epochs:
        return None
    hi = max(ep for ep, _ in epochs)
    paths = [p for _, p in epochs] + ([rolls[-1][1]] if rolls else [])
    target = os.path.join(out_root, f"c{hi}")
    spark.read.schema(ddl).parquet(*paths).write.mode("overwrite").parquet(
        target
    )
    for _, p in epochs + rolls:
        marker = os.path.join(p, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)
        shutil.rmtree(p, ignore_errors=True)
    return target


def maybe_compact_outputs(
    spark: SparkSession, out_root: str, ddl, max_depth: int
) -> str | None:
    """Apply the :func:`compaction_due` policy to a decisions root: roll
    up when the committed-epoch-dir count since the last roll-up
    reaches ``max_depth``.  (The retired-fraction axis is 0 for
    decision outputs — they are append-only facts, never superseded —
    so depth is the only live trigger here.)"""
    rolls = _committed_epochs(out_root, prefix="c")
    upto = rolls[-1][0] if rolls else -1
    depth = sum(1 for ep, _ in _committed_epochs(out_root) if ep > upto)
    if compaction_due(depth, max_depth=max_depth):
        return compact_epoch_outputs(spark, out_root, ddl)
    return None


def _run_epochs(
    spark: SparkSession,
    data_path: str,
    schema: str,
    work_dir: str,
    seed_path: str,
    step,
    dec_ddl: str,
    files_per_trigger: int,
    keep_snapshots: int | None,
    compact_outputs_depth: int | None,
    parts: tuple[str, ...] = (),
    snap_dir: str = "idx",
) -> str:
    """The durable epoch loop the four pipelines share: drain the files
    in ``data_path`` (one micro-batch per ``files_per_trigger`` files)
    and, per micro-batch ``bid``, checkpoint the batch, find the newest
    committed snapshot with epoch < ``bid`` (``seed_path`` if none), and
    call ``step(bdf, bid, prior, out_dir, snap_dir)``.  The step writes
    the epoch's decisions to ``out_dir`` (``work_dir/out/e<bid>``) and
    the next snapshot — one relation per name in ``parts``, or a single
    one — to ``snap_dir`` (``work_dir/<snap_dir>/e<bid>``), both
    mode=overwrite, so a re-delivered batch rewrites identical
    artifacts.  Then retention and decisions compaction run.  The
    streaming checkpoint is ``work_dir/chk``; returns the decisions
    root."""
    from fdp_dynamically_controlled_streams_spark.sources.registry import (
        replay_dir,
    )

    snap_root = os.path.join(work_dir, snap_dir)
    out_root = os.path.join(work_dir, "out")
    os.makedirs(snap_root, exist_ok=True)

    def _proc(bdf: DataFrame, bid: int) -> None:
        bdf = bdf.localCheckpoint()
        prior = _latest_snapshot(snap_root, bid, parts) or seed_path
        step(
            bdf,
            bid,
            prior,
            os.path.join(out_root, f"e{bid}"),
            os.path.join(snap_root, f"e{bid}"),
        )
        if keep_snapshots is not None:
            reclaim_epoch_snapshots(snap_root, keep_snapshots, parts)
        if compact_outputs_depth is not None:
            maybe_compact_outputs(spark, out_root, dec_ddl, compact_outputs_depth)

    drain(
        replay_dir(spark, data_path, schema, files_per_trigger),
        _proc,
        os.path.join(work_dir, "chk"),
    )
    return out_root


def minhash_maintenance_pipeline(
    spark: SparkSession,
    data_path: str,
    schema: str,
    seed_sig_path: str,
    work_dir: str,
    est_threshold: float = 0.3,
    files_per_trigger: int = 1,
    keep_snapshots: int | None = 2,
    compact_outputs_depth: int | None = None,
) -> str:
    """Run the MinHash screen-then-upsert loop over the files in
    ``data_path`` (one micro-batch per ``files_per_trigger`` files) with
    persisted-artifact state under ``work_dir``:

    * ``work_dir/sig/e<epoch>/``  — index snapshot AFTER epoch's upsert
    * ``work_dir/out/e<epoch>/``  — epoch's decision rows
    * ``work_dir/chk``            — the streaming checkpoint

    Returns the decisions root (``work_dir/out``).  Calling it again
    with the same ``work_dir`` after more files appear in ``data_path``
    RESUMES: already-committed epochs are skipped by the streaming
    checkpoint, and new epochs screen against the newest persisted
    snapshot (law-tested in tests/test_streaming.py: an interrupted run
    + a resumed run produce exactly the one-shot run's decisions, and
    re-running a batch body is a no-op).  A run that does not drain in
    time is stopped and raises (streaming/drain.py).

    ``keep_snapshots`` (r13 verdict task 3): retain only the newest K
    committed index snapshots (K >= 2 — re-delivery can only touch the
    newest epoch, which reconstructs from the second-newest), bounding
    a long crawl's storage; None disables.  ``compact_outputs_depth``:
    roll epoch decision dirs into one ``c<epoch>`` dir whenever
    :func:`compaction_due` fires on the dir count; None disables.  Both
    are answer-invariant by law (tests/test_streaming.py)."""

    def _step(bdf, _bid, prior, out_dir, snap):
        sig_c = spark.read.parquet(prior)
        sig_b = dedup_ops.minhash_signatures(bdf).localCheckpoint()
        # the decisions write and the snapshot write are INDEPENDENT
        # jobs once sig_b is checkpointed (different epoch-addressed
        # overwrite sinks — commit order is irrelevant to re-delivery);
        # overlapping them back-fills each job's straggler tail
        dec = dedup_ops.minhash_decisions_against_sigs(
            sig_b, sig_c, est_threshold=est_threshold
        )
        ups = dedup_ops.minhash_index_upsert_sigs(
            sig_c, bdf.select(F.col("doc_id").alias("id")), sig_b
        )
        overlap_jobs(
            lambda: dec.write.mode("overwrite").parquet(out_dir),
            lambda: ups.write.mode("overwrite").parquet(snap),
        )

    return _run_epochs(
        spark, data_path, schema, work_dir, seed_sig_path, _step,
        "doc_id long, n_matches long, best_est double, is_new boolean",
        files_per_trigger, keep_snapshots, compact_outputs_depth,
        snap_dir="sig",
    )


def embedding_maintenance_pipeline(
    spark: SparkSession,
    data_path: str,
    schema: str,
    seed_index_path: str,
    work_dir: str,
    threshold: float = 0.25,
    files_per_trigger: int = 1,
    keep_snapshots: int | None = 2,
    compact_outputs_depth: int | None = None,
) -> str:
    """The EMBEDDING modality of the restart-safe loop — same persisted
    epoch-snapshot state discipline as
    :func:`minhash_maintenance_pipeline`, composed with the r13
    derived-parameter rule: each epoch re-derives the sign-LSH plane
    count from the CURRENT persisted index's size
    (similarity.derived_bits) and re-buckets the snapshot map-side
    before screening, so the durable pipeline carries the
    occupancy-pinned scale shape too.  Rebucketing unconditionally (one
    map-side projection over rows the epoch reads anyway) keeps the
    pipeline STATELESS beyond the snapshots themselves: no bits value
    to persist or reconcile on restart — the snapshot's own row count
    determines it, bit-identically on any replay."""
    from fdp_dynamically_controlled_streams_spark.operators import (
        similarity as sim_ops,
    )

    def _step(bdf, _bid, prior, out_dir, snap):
        idx = spark.read.parquet(prior)
        bits = sim_ops.derived_bits(idx.count())
        idx = sim_ops.embedding_index_rebucket(idx, bits).localCheckpoint()
        # decisions write ∥ snapshot write: independent epoch-addressed
        # overwrite sinks off the shared checkpointed index (see
        # minhash_maintenance_pipeline)
        dec = sim_ops.embedding_decisions_against_index(
            bdf, idx, threshold=threshold, bits=bits
        )
        ups = sim_ops.embedding_index_upsert(idx, bdf, bits=bits)
        overlap_jobs(
            lambda: dec.write.mode("overwrite").parquet(out_dir),
            lambda: ups.write.mode("overwrite").parquet(snap),
        )

    return _run_epochs(
        spark, data_path, schema, work_dir, seed_index_path, _step,
        "vec_id long, n_matches long, best_cos double, is_new boolean",
        files_per_trigger, keep_snapshots, compact_outputs_depth,
    )


def exact_substring_maintenance_pipeline(
    spark: SparkSession,
    data_path: str,
    schema: str,
    seed_index_path: str,
    work_dir: str,
    length: int = 24,
    files_per_trigger: int = 1,
    keep_snapshots: int | None = 2,
    compact_outputs_depth: int | None = None,
) -> str:
    """The EXACTSUBSTR modality of the restart-safe loop (r13 verdict
    task 1 — the heaviest dedup maintenance modality joins the
    persisted-snapshot family): same epoch-snapshot state discipline as
    :func:`minhash_maintenance_pipeline`, over the family's TWO-relation
    index — ``e<epoch>/cbase`` (trimmed corpus projection) and
    ``e<epoch>/ch`` (rolling-hash window table).  A snapshot is
    committed iff BOTH relations' _SUCCESS markers exist, so a crash
    between the two writes leaves an ignored partial epoch that
    re-delivery rewrites whole.  ``seed_index_path`` must hold the seed
    pair under ``cbase/`` and ``ch/`` (the exact_substring_index
    fixture layout).  Per epoch: the day's rolling-hash kernel runs
    ONCE (screen and upsert share the checkpointed window table — the
    r12 single-kernel discipline), the screen is the single-scan
    broadcast orientation with retire-first re-crawl self-exclusion,
    and the upsert writes the full next-index snapshot (the durable
    counterpart of the replay entry's lazy delta — a MERGE INTO on a
    transactional table in production)."""

    def _step(bdf, _bid, prior, out_dir, snap):
        cbase = spark.read.parquet(os.path.join(prior, "cbase"))
        ch = spark.read.parquet(os.path.join(prior, "ch"))
        bbase = bdf.select(
            F.col("doc_id").alias("id"), F.trim(F.col("text")).alias("s")
        )
        bh = dedup_ops._rolling_window_hashes(bbase, length).localCheckpoint()
        # decisions write ∥ cbase snapshot ∥ ch snapshot: all three read
        # only the prior snapshot's parquet plus the checkpointed
        # bdf/bh, and each goes to its own epoch-addressed overwrite
        # sink (a partial epoch stays uncommitted until BOTH relation
        # markers exist regardless of write order)
        dec = dedup_ops.exact_substring_incremental_against_index(
            bdf, cbase, ch, length=length, bh=bh
        )
        new_ids = bbase.select("id")
        overlap_jobs(
            lambda: dec.write.mode("overwrite").parquet(out_dir),
            lambda: cbase.join(F.broadcast(new_ids), "id", "left_anti")
            .unionByName(bbase)
            .write.mode("overwrite")
            .parquet(os.path.join(snap, "cbase")),
            lambda: ch.join(F.broadcast(new_ids), "id", "left_anti")
            .unionByName(bh)
            .write.mode("overwrite")
            .parquet(os.path.join(snap, "ch")),
        )

    return _run_epochs(
        spark, data_path, schema, work_dir, seed_index_path, _step,
        "doc_id long, span_start long, span_end long, span_len long",
        files_per_trigger, keep_snapshots, compact_outputs_depth,
        parts=("cbase", "ch"),
    )


def bm25_maintenance_pipeline(
    spark: SparkSession,
    data_path: str,
    schema: str,
    seed_index_path: str,
    work_dir: str,
    k: int = 10,
    panel_mod: int = 100,
    files_per_trigger: int = 1,
    keep_snapshots: int | None = 2,
    compact_outputs_depth: int | None = None,
    fold_every: int | None = None,
) -> str:
    """The RETRIEVAL modality of the restart-safe loop (r13 verdict
    task 1): the raw BM25 index's THREE relations —
    ``e<epoch>/tdc_dl`` (postings), ``e<epoch>/df_t`` (vocabulary df),
    ``e<epoch>/stats`` (1-row n/sumdl) — ride the same _SUCCESS-gated
    epoch-snapshot discipline (committed iff all three markers exist).
    Per epoch: the day's panel docs (``doc_id % panel_mod == 0``) are
    BM25-screened against the prior snapshot, then the day is
    delta-UPSERTED (bm25_raw_index_upsert(delta=True): the batch
    postings checkpoint once; df/stats move by exact integer deltas)
    and the composed relations are written as the next snapshot —
    which is ALSO the compaction (:func:`bm25_raw_index_compact`'s
    semantics performed by the parquet write: the anti-join/union
    composition materializes and retired rows physically leave), so
    the pipeline's snapshot depth is 1 by construction.

    ``fold_every`` (r13 verdict task 1's cadence clause): every N
    epochs ALSO bake the current corpus globals into READ-optimized
    postings (bm25_fold_postings) under ``work_dir/fold/e<epoch>`` —
    the write-path artifact periodically publishing the read-path
    index, exactly the maintained→folded serving split of
    retrieval_bm25_topk_from_maintained, now inside the durable loop
    (fold snapshots ride the same retention)."""
    from fdp_dynamically_controlled_streams_spark.operators import (
        retrieval as retr_ops,
    )

    fold_root = os.path.join(work_dir, "fold")

    def _step(bdf, bid, prior, out_dir, snap):
        tdc_dl = spark.read.parquet(os.path.join(prior, "tdc_dl"))
        df_t = spark.read.parquet(os.path.join(prior, "df_t"))
        stats = spark.read.parquet(os.path.join(prior, "stats"))
        scr = retr_ops.bm25_screen_against_raw(
            bdf.where(F.col("doc_id") % panel_mod == 0),
            tdc_dl, df_t, stats, k=k,
        )
        t2, d2, s2 = retr_ops.bm25_raw_index_upsert(
            tdc_dl, df_t, stats, bdf, delta=True
        )
        # screen ∥ postings ∥ df ∥ stats: the upsert's three relations
        # are mutually independent compositions over the prior
        # snapshot's parquet plus the checkpointed batch postings, and
        # the screen reads only the prior snapshot — four independent
        # epoch-addressed overwrite sinks.  The postings composition no
        # longer localCheckpoints per epoch (that double-materialized
        # the corpus-sized relation on every NON-fold epoch); fold
        # epochs instead read back the snapshot the same batch just
        # wrote — bit-identical rows, one composition pass total.
        overlap_jobs(
            lambda: scr.write.mode("overwrite").parquet(out_dir),
            lambda: t2.write.mode("overwrite").parquet(
                os.path.join(snap, "tdc_dl")
            ),
            lambda: d2.write.mode("overwrite").parquet(
                os.path.join(snap, "df_t")
            ),
            lambda: s2.write.mode("overwrite").parquet(
                os.path.join(snap, "stats")
            ),
        )
        if fold_every is not None and (bid + 1) % fold_every == 0:
            folded = retr_ops.bm25_fold_postings(
                spark.read.parquet(os.path.join(snap, "tdc_dl")),
                spark.read.parquet(os.path.join(snap, "df_t")),
                spark.read.parquet(os.path.join(snap, "stats")),
            )
            folded.write.mode("overwrite").parquet(
                os.path.join(fold_root, f"e{bid}")
            )
            if keep_snapshots is not None:
                reclaim_epoch_snapshots(fold_root, keep_snapshots)

    return _run_epochs(
        spark, data_path, schema, work_dir, seed_index_path, _step,
        "query_id long, doc_id long, rank int, score double",
        files_per_trigger, keep_snapshots, compact_outputs_depth,
        parts=("tdc_dl", "df_t", "stats"),
    )


def read_epoch_outputs(spark: SparkSession, out_root: str, ddl: str) -> DataFrame:
    """Union the committed decision directories under ``out_root``
    (empty typed frame if none) — the read half of the epoch-addressed
    sink layout: the newest committed roll-up (``c<upto>``, written by
    :func:`compact_epoch_outputs`) plus every committed epoch dir with
    epoch > upto.  ``e*`` dirs at or below the roll-up's epoch are
    IGNORED (they are either reclaim stragglers or re-delivered
    rewrites of already-rolled-up epochs — counting them would
    double-list), so compaction and re-delivery are both invisible to
    the reader."""
    rolls = _committed_epochs(out_root, prefix="c")
    upto = rolls[-1][0] if rolls else -1
    paths = ([rolls[-1][1]] if rolls else []) + [
        p for ep, p in _committed_epochs(out_root) if ep > upto
    ]
    if not paths:
        return spark.createDataFrame([], ddl)
    return spark.read.schema(ddl).parquet(*paths)
