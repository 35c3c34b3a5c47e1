"""The daily-crawl index-maintenance loop, written once per modality and
run by two loops that differ only in where the index lives between
micro-batches.

Each modality (MinHash, embedding, ExactSubstr, BM25) has one
:class:`Step`: ``step.run(bdf, prior) -> (decisions, next)`` screens a
micro-batch against the index relations ``prior`` and builds the index
after the batch's upsert, ``next``, as lazy frames.  A step checkpoints
only batch-sized frames (a kernel both outputs share, or BM25's
k-rows-per-panel-doc screen); it never writes and never decides when
the index materializes.  Its two clients:

* :func:`replay_in_driver` (the ``*_index_maintenance_replay`` catalog
  entries) keeps ``next`` in DRIVER memory as a lazily composed frame
  and materializes it with ``localCheckpoint`` whenever
  :func:`compaction_due` fires on the number of upserts composed since
  the last (the modality's ``max_depth``).  Cheap, but a crashed driver
  loses the index and a re-delivered micro-batch would double-apply.
* :func:`_run_epochs` (the ``*_maintenance_pipeline`` functions) is
  RESTART-SAFE: **the streaming query's only state is the PERSISTED
  index artifact**, written as one snapshot per micro-batch epoch, so
  the pipeline survives exactly the two failure modes foreachBatch
  exposes:

  * **restart** — a new run over the same checkpointLocation resumes
    with the batches Spark knows are uncommitted; the batch body reads
    its ``prior`` from the newest persisted snapshot with epoch < its
    batch id (seed if none), NOT from driver memory;
  * **re-delivery** — foreachBatch is at-least-once per epoch; both
    writes (the day's decisions and the index snapshot) go to
    epoch-addressed directories with mode=overwrite, so re-running a
    batch rewrites the identical artifacts instead of appending
    duplicates (the merge.py::upsert_sink idempotence discipline
    applied to the stream).

Reference lineage: the reference keeps ALL its streaming state in the
engine checkpoint (SparkStructuredController.scala:30 `checkpointLocation`
— SURVEY §2.5 O4); the durable loop extends that discipline to a state
object the engine cannot checkpoint for us (a whole index table), and
the step is the one stream processor both state placements share.

[ABSENT in reference: SURVEY §2.7 — engine extension.]
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.functions.parallelism import (
    overlap_jobs,
)
from fdp_dynamically_controlled_streams_spark.operators import dedup as dedup_ops
from fdp_dynamically_controlled_streams_spark.operators import (
    retrieval as retr_ops,
)
from fdp_dynamically_controlled_streams_spark.operators import (
    similarity as sim_ops,
)
from fdp_dynamically_controlled_streams_spark.sources.registry import replay_dir
from fdp_dynamically_controlled_streams_spark.streaming.drain import (
    _read_replay_out,
    drain,
)


def _relation_paths(path: str, parts: tuple[str, ...] = ()) -> dict[str, str]:
    """Where each relation of an epoch (or seed) dir lives: a lone
    relation — or an unnamed one — is the dir itself, the relations of
    a multi-relation snapshot (``parts``) get one subdir each."""
    if len(parts) > 1:
        return {p: os.path.join(path, p) for p in parts}
    return {p: path for p in parts or ("",)}


def _markers(path: str, parts: tuple[str, ...] = ()) -> list[str]:
    """The parquet _SUCCESS marker of each relation of an epoch dir."""
    return [
        os.path.join(p, "_SUCCESS") for p in _relation_paths(path, parts).values()
    ]


def _is_committed(path: str, parts: tuple[str, ...] = ()) -> bool:
    """A snapshot is committed iff its parquet _SUCCESS marker exists —
    for a multi-relation snapshot (``parts``), iff EVERY relation's
    marker exists: a crash between relation writes leaves a partial
    epoch dir that is ignored and rewritten whole on re-delivery."""
    return all(os.path.exists(m) for m in _markers(path, parts))


def _drop_epoch(path: str, parts: tuple[str, ...] = ()) -> None:
    """Delete an epoch dir, its marker(s) FIRST: a crash mid-delete
    leaves an uncommitted (ignored) dir, never a half-readable one."""
    for marker in _markers(path, parts):
        if os.path.exists(marker):
            os.remove(marker)
    shutil.rmtree(path, ignore_errors=True)


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
    older = [p for ep, p in _committed_epochs(sig_root, parts) if ep < before_epoch]
    return older[-1] if older else None


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
    reclaimed = [p for _, p in _committed_epochs(root, parts)[:-keep_last]]
    for p in reclaimed:
        _drop_epoch(p, parts)
    return reclaimed


def compaction_due(depth: int, max_depth: int = 8) -> bool:
    """The WHEN-TO-COMPACT policy as code, not a docstring (r13 verdict
    task 3): compact when the composition/accumulation DEPTH (delta
    upserts since the last compaction, or epoch output dirs since the
    last decisions roll-up) reaches ``max_depth``.  Depth bounds read
    amplification (every read unions depth pieces / replays depth
    anti-joins).  A pure integer comparison, so the loops' cadence
    choices are testable (and the law is that ANY choice yields
    identical answers — compaction is semantics-invisible)."""
    return depth >= max_depth


def _live_outputs(
    out_root: str,
) -> tuple[list[tuple[int, str]], list[tuple[int, str]]]:
    """The committed roll-ups (``c*``) of a decisions root and the
    committed epoch dirs above the newest of them, each ascending: the
    newest roll-up plus those epochs are the live decisions."""
    rolls = _committed_epochs(out_root, prefix="c")
    upto = rolls[-1][0] if rolls else -1
    return rolls, [(ep, p) for ep, p in _committed_epochs(out_root) if ep > upto]


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
    rolls, epochs = _live_outputs(out_root)
    if not epochs:
        return None
    target = os.path.join(out_root, f"c{epochs[-1][0]}")
    spark.read.schema(ddl).parquet(
        *(p for _, p in epochs + rolls[-1:])
    ).write.mode("overwrite").parquet(target)
    for _, p in epochs + rolls:
        _drop_epoch(p)
    return target


def maybe_compact_outputs(
    spark: SparkSession, out_root: str, ddl, max_depth: int
) -> str | None:
    """Apply the :func:`compaction_due` policy to a decisions root: roll
    up when the committed-epoch-dir count since the last roll-up
    reaches ``max_depth``."""
    if compaction_due(len(_live_outputs(out_root)[1]), max_depth=max_depth):
        return compact_epoch_outputs(spark, out_root, ddl)
    return None


# An index: each relation name of a Step's ``parts`` to its frame.
Index = dict[str, DataFrame]


class Step(NamedTuple):
    """One modality's per-micro-batch body and what its two loops need
    to know about it."""

    # (bdf, prior) -> (decisions, next)
    run: Callable[[DataFrame, Index], tuple[DataFrame, Index]]
    parts: tuple[str, ...]  # the index relations, in snapshot layout order
    ddl: str  # the decisions' schema
    # upserts the driver-state loop composes lazily before it
    # materializes the index (None: never)
    max_depth: int | None


# The driver-state cadences: the minhash and bm25 chains materialize
# after the second day's upsert (three days in all); the embedding index
# is checkpointed every day, because the next day counts it to derive
# its plane count; the ExactSubstr window index stays a lazy composition
# over the parquet seed (an eager materialization of the seed measured
# slower than three days of vectorized parquet re-decode, SCALE.md r13).
MINHASH_MAX_DEPTH = 2
EMBEDDING_MAX_DEPTH = 1
EXACT_SUBSTRING_MAX_DEPTH = None
BM25_MAX_DEPTH = 2

MINHASH_DDL = "doc_id long, n_matches long, best_est double, is_new boolean"
EMBEDDING_DDL = "vec_id long, n_matches long, best_cos double, is_new boolean"
EXACT_SUBSTRING_DDL = "doc_id long, span_start long, span_end long, span_len long"
BM25_DDL = "query_id long, doc_id long, rank int, score double"

BM25_PARTS = ("tdc_dl", "df_t", "stats")


def minhash_step(est_threshold: float = 0.3) -> Step:
    """Band-blocked MinHash decisions against the signature index, then
    the signature delta upsert."""

    def run(bdf, prior):
        # the day's shingle+minhash kernel runs ONCE: the screen and the
        # upsert share the checkpointed batch signatures
        sig_b = dedup_ops.minhash_signatures(bdf).localCheckpoint()
        dec = dedup_ops.minhash_decisions_against_sigs(
            sig_b, prior["sig"], est_threshold=est_threshold
        )
        return dec, {
            "sig": dedup_ops.minhash_index_upsert_sigs(
                prior["sig"], bdf.select(F.col("doc_id").alias("id")), sig_b
            )
        }

    return Step(run, ("sig",), MINHASH_DDL, MINHASH_MAX_DEPTH)


def embedding_step(threshold: float = 0.25) -> Step:
    """Sign-LSH cosine decisions against the vector index, then the
    vector upsert, with the plane count derived from the prior index's
    own row count (similarity.derived_bits): the map-side rebucket to it
    is this family's compaction, and no bits value exists to carry
    between batches or reconcile on restart."""

    def run(bdf, prior):
        bits = sim_ops.derived_bits(prior["idx"].count())
        idx = sim_ops.embedding_index_rebucket(prior["idx"], bits)
        dec = sim_ops.embedding_decisions_against_index(
            bdf, idx, threshold=threshold, bits=bits
        )
        return dec, {"idx": sim_ops.embedding_index_upsert(idx, bdf, bits=bits)}

    return Step(run, ("idx",), EMBEDDING_DDL, EMBEDDING_MAX_DEPTH)


def exact_substring_step(length: int = 24) -> Step:
    """Verbatim-span screen against the two-relation window index
    (``cbase`` trimmed corpus projection, ``ch`` rolling-hash windows) —
    the single-scan broadcast orientation with retire-first re-crawl
    self-exclusion — then the delta upsert."""

    def run(bdf, prior):
        bbase = bdf.select(
            F.col("doc_id").alias("id"), F.trim(F.col("text")).alias("s")
        )
        # the day's rolling-hash kernel runs ONCE: screen and upsert
        # share the checkpointed window table; the trimmed projection
        # stays lazy (eagerly materializing the text measured as a pure
        # extra barrier per day)
        bh = dedup_ops._rolling_window_hashes(bbase, length).localCheckpoint()
        dec = dedup_ops.exact_substring_incremental_against_index(
            bdf, prior["cbase"], prior["ch"], length=length, bh=bh
        )
        cbase, ch = dedup_ops.exact_substring_index_upsert_delta(
            prior["cbase"], prior["ch"], bdf, length=length, bbase=bbase, bh=bh
        )
        return dec, {"cbase": cbase, "ch": ch}

    return Step(
        run, ("cbase", "ch"), EXACT_SUBSTRING_DDL, EXACT_SUBSTRING_MAX_DEPTH
    )


def bm25_step(k: int = 10, panel_mod: int = 100) -> Step:
    """Top-``k`` BM25 screen of the batch's panel docs
    (``doc_id % panel_mod == 0``) against the raw index
    (``tdc_dl`` postings, ``df_t`` vocabulary df, 1-row ``stats``),
    then the delta upsert of the WHOLE batch (bm25_raw_index_upsert:
    the batch postings checkpoint once; df/stats move by exact integer
    deltas)."""

    def run(bdf, prior):
        t, d, s = (prior[p] for p in BM25_PARTS)
        # the panel bounds the screen: with a small vocabulary every
        # corpus doc is a candidate for every query, so an unbounded
        # panel is query-count × corpus (the bound retrieval_bm25_topk
        # applies too)
        scr = retr_ops.bm25_screen_against_raw(
            bdf.where(F.col("doc_id") % panel_mod == 0), t, d, s, k=k
        )
        # the delta upsert checkpoints the batch postings and retired
        # rows eagerly; the screen reads only the prior index, so its
        # batch-sized result (k rows per panel doc) is materialized
        # beside them instead of after them
        out: dict[str, object] = {}
        overlap_jobs(
            lambda: out.update(scr=scr.localCheckpoint()),
            lambda: out.update(
                nxt=retr_ops.bm25_raw_index_upsert(t, d, s, bdf, delta=True)
            ),
        )
        return out["scr"], dict(zip(BM25_PARTS, out["nxt"]))

    return Step(run, BM25_PARTS, BM25_DDL, BM25_MAX_DEPTH)


def _read_snapshot(spark: SparkSession, path: str, parts: tuple[str, ...]) -> Index:
    return {p: spark.read.parquet(q) for p, q in _relation_paths(path, parts).items()}


def replay_in_driver(
    spark: SparkSession, data_path: str, schema: str, seed_path: str, step: Step
) -> DataFrame:
    """The driver-state client of ``step``: drain the files in
    ``data_path`` one per micro-batch under 8 state partitions from the
    index at ``seed_path``, appending each batch's decisions to
    ``{tmp}/out`` while — when :func:`compaction_due` fires on the
    upserts composed so far — ``next`` is ``localCheckpoint``ed.  Returns
    a lazy read of the decisions."""
    tmp = tempfile.mkdtemp(prefix="dcs-maint-")
    out = os.path.join(tmp, "out")
    state = {"index": _read_snapshot(spark, seed_path, step.parts), "depth": 0}

    def _proc(bdf: DataFrame, _bid: int) -> None:
        dec, nxt = step.run(bdf.localCheckpoint(), state["index"])
        depth = state["depth"] + 1
        due = step.max_depth is not None and compaction_due(
            depth, max_depth=step.max_depth
        )
        state["depth"] = 0 if due else depth

        def _advance() -> None:
            state["index"] = (
                {p: f.localCheckpoint() for p, f in nxt.items()} if due else nxt
            )

        # dec was built off the prior index, so re-pointing the state
        # while it is written races nothing
        overlap_jobs(lambda: dec.write.mode("append").parquet(out), _advance)

    drain(replay_dir(spark, data_path, schema), _proc, f"{tmp}/chk", partitions=8)
    return _read_replay_out(spark, step.ddl, out)


def _run_epochs(
    spark: SparkSession,
    data_path: str,
    schema: str,
    work_dir: str,
    seed_path: str,
    step: Step,
    files_per_trigger: int,
    keep_snapshots: int | None,
    compact_outputs_depth: int | None,
    snap_dir: str = "idx",
    on_commit: Callable[[int, dict[str, str]], None] | None = None,
) -> str:
    """The durable client of ``step``: drain the files in ``data_path``
    (one micro-batch per ``files_per_trigger`` files) and, per
    micro-batch ``bid``, checkpoint the batch, read ``prior`` from the
    newest committed snapshot with epoch < ``bid`` (``seed_path`` if
    none) and run the step.  The epoch's decisions go to
    ``work_dir/out/e<bid>`` and every ``next`` relation to
    ``work_dir/<snap_dir>/e<bid>``, all mode=overwrite, so a
    re-delivered batch rewrites identical artifacts.  Then
    ``on_commit(bid, {relation: path})``, retention and decisions
    compaction run.  The streaming checkpoint is ``work_dir/chk``;
    returns the decisions root."""
    snap_root = os.path.join(work_dir, snap_dir)
    out_root = os.path.join(work_dir, "out")
    os.makedirs(snap_root, exist_ok=True)

    def _proc(bdf: DataFrame, bid: int) -> None:
        prior = _latest_snapshot(snap_root, bid, step.parts) or seed_path
        dec, nxt = step.run(
            bdf.localCheckpoint(), _read_snapshot(spark, prior, step.parts)
        )
        snap = _relation_paths(os.path.join(snap_root, f"e{bid}"), step.parts)
        # decisions ∥ every snapshot relation: independent epoch-addressed
        # overwrite sinks (an epoch stays uncommitted until every
        # relation's marker exists, whatever the write order), so each
        # back-fills the others' straggler tails
        overlap_jobs(
            partial(dec.write.mode("overwrite").parquet, f"{out_root}/e{bid}"),
            *(
                partial(nxt[p].write.mode("overwrite").parquet, path)
                for p, path in snap.items()
            ),
        )
        if on_commit is not None:
            on_commit(bid, snap)
        if keep_snapshots is not None:
            reclaim_epoch_snapshots(snap_root, keep_snapshots, step.parts)
        if compact_outputs_depth is not None:
            maybe_compact_outputs(spark, out_root, step.ddl, compact_outputs_depth)

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
    """Run the MinHash screen-then-upsert loop (:func:`minhash_step`)
    over the files in ``data_path`` (one micro-batch per
    ``files_per_trigger`` files) with persisted-artifact state under
    ``work_dir``:

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
    return _run_epochs(
        spark, data_path, schema, work_dir, seed_sig_path,
        minhash_step(est_threshold), files_per_trigger, keep_snapshots,
        compact_outputs_depth, snap_dir="sig",
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
    """The EMBEDDING modality of the restart-safe loop
    (:func:`embedding_step`) — same persisted epoch-snapshot state
    discipline as :func:`minhash_maintenance_pipeline`, composed with
    the r13 derived-parameter rule: each epoch re-derives the sign-LSH
    plane count from the CURRENT persisted index's size
    (similarity.derived_bits) and re-buckets the snapshot map-side
    before screening, so the durable pipeline carries the
    occupancy-pinned scale shape too.  Rebucketing unconditionally (one
    map-side projection over rows the epoch reads anyway) keeps the
    pipeline STATELESS beyond the snapshots themselves: no bits value
    to persist or reconcile on restart — the snapshot's own row count
    determines it, bit-identically on any replay."""
    return _run_epochs(
        spark, data_path, schema, work_dir, seed_index_path,
        embedding_step(threshold), files_per_trigger, keep_snapshots,
        compact_outputs_depth,
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
    fixture layout).  Per epoch (:func:`exact_substring_step`): the
    day's rolling-hash kernel runs ONCE (screen and upsert share the
    checkpointed window table — the r12 single-kernel discipline), and
    the upsert's composition is written as the full next-index snapshot
    (the durable counterpart of the replay entry's lazy delta — a MERGE
    INTO on a transactional table in production)."""
    return _run_epochs(
        spark, data_path, schema, work_dir, seed_index_path,
        exact_substring_step(length), files_per_trigger, keep_snapshots,
        compact_outputs_depth,
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
    Per epoch (:func:`bm25_step`): the day's panel docs
    (``doc_id % panel_mod == 0``) are BM25-screened against the prior
    snapshot, then the day is delta-UPSERTED and the composed relations
    are written as the next snapshot — which is ALSO the compaction
    (:func:`bm25_raw_index_compact`'s semantics performed by the
    parquet write: the anti-join/union composition materializes and
    retired rows physically leave), so the pipeline's snapshot depth is
    1 by construction.

    ``fold_every`` (r13 verdict task 1's cadence clause): every N
    epochs ALSO bake the current corpus globals into READ-optimized
    postings (bm25_fold_postings) under ``work_dir/fold/e<epoch>`` —
    the write-path artifact periodically publishing the read-path
    index, exactly the maintained→folded serving split of
    retrieval_bm25_topk_from_maintained, now inside the durable loop
    (fold snapshots ride the same retention)."""
    fold_root = os.path.join(work_dir, "fold")

    def _fold(bid: int, snap: dict[str, str]) -> None:
        if (bid + 1) % fold_every:
            return
        # read back the snapshot this batch just wrote: bit-identical
        # rows, and the postings composition is materialized once, by
        # that write
        retr_ops.bm25_fold_postings(
            *(spark.read.parquet(snap[p]) for p in BM25_PARTS)
        ).write.mode("overwrite").parquet(os.path.join(fold_root, f"e{bid}"))
        if keep_snapshots is not None:
            reclaim_epoch_snapshots(fold_root, keep_snapshots)

    return _run_epochs(
        spark, data_path, schema, work_dir, seed_index_path,
        bm25_step(k, panel_mod), files_per_trigger, keep_snapshots,
        compact_outputs_depth,
        on_commit=None if fold_every is None else _fold,
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
    rolls, epochs = _live_outputs(out_root)
    paths = [p for _, p in rolls[-1:] + epochs]
    if not paths:
        return spark.createDataFrame([], ddl)
    return spark.read.schema(ddl).parquet(*paths)
