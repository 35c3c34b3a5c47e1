"""Doc/artifact freshness gates (r4 verdict task 1 + 3).

Three rounds in a row a hardcoded count chased the catalog, and round 4's
last-minute entry shipped outside every checked-in self-check artifact.
These tests make both failure modes a red `pytest` instead of a judge
finding:

- README's "N catalog queries" must equal ``len(catalog())``.
- The newest ``CORRECTNESS_SELF_r*.json`` must cover the catalog exactly
  (every entry checked, no stale entries), and every record must be green.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _catalog_names() -> set[str]:
    from fdp_dynamically_controlled_streams_spark.queries import catalog

    return set(catalog())


def test_readme_catalog_count_matches_registry():
    text = (REPO / "README.md").read_text()
    counts = {int(m) for m in re.findall(r"(\d+) catalog queries", text)}
    assert counts, "README no longer states the catalog count"
    assert counts == {len(_catalog_names())}, (
        f"README says {counts} catalog queries; registry has "
        f"{len(_catalog_names())} — regenerate the README count"
    )


def _latest_selfcheck() -> Path:
    arts = sorted(REPO.glob("CORRECTNESS_SELF_r[0-9][0-9].json"))
    assert arts, "no CORRECTNESS_SELF artifact checked in"
    return arts[-1]


def test_selfcheck_artifact_covers_catalog_exactly():
    art = _latest_selfcheck()
    records = json.loads(art.read_text())
    missing = _catalog_names() - set(records)
    stale = set(records) - _catalog_names()
    assert not missing, f"{art.name} missing catalog entries: {sorted(missing)}"
    assert not stale, f"{art.name} has stale entries: {sorted(stale)}"


def test_sf01_tier_artifact_covers_full_catalog_exactly():
    """r9 verdict task 1: the sf0.1 tier is the FULL catalog as of round
    10 — the newest sf0.1 artifact must cover every entry and be green,
    the same law the sf0.01 artifact has carried since r4."""
    from tests.test_sf01_selfcheck import TIER

    arts = sorted(REPO.glob("CORRECTNESS_SELF_r[0-9][0-9]_sf01.json"))
    assert arts, "no sf0.1-tier artifact checked in"
    records = json.loads(arts[-1].read_text())
    missing = set(TIER) - set(records)
    stale = set(records) - set(TIER)
    assert not missing, f"{arts[-1].name} missing tier entries: {sorted(missing)}"
    assert not stale, f"{arts[-1].name} stale tier entries: {sorted(stale)}"
    bad = {
        n: r for n, r in records.items()
        if r.get("err") not in (None, "no_oracle") or r.get("hash_match") is False
    }
    assert not bad, f"{arts[-1].name} non-green: {sorted(bad)}"


def test_sf1_tier_artifact_covers_full_catalog_exactly():
    """r10 verdict task 1: the sf1 tier is the FULL catalog as of round
    11 (minus the documented SF1_EXCLUSIONS, currently none) — the newest
    sf1 artifact must cover every tier entry and be green, the same law
    the sf0.01 and sf0.1 artifacts carry."""
    from tests.test_sf1_selfcheck import SF1_ENTRIES

    arts = sorted(REPO.glob("CORRECTNESS_SELF_r[0-9][0-9]_sf1.json"))
    assert arts, "no sf1-tier artifact checked in"
    records = json.loads(arts[-1].read_text())
    missing = set(SF1_ENTRIES) - set(records)
    stale = set(records) - set(SF1_ENTRIES)
    assert not missing, f"{arts[-1].name} missing tier entries: {sorted(missing)}"
    assert not stale, f"{arts[-1].name} stale tier entries: {sorted(stale)}"
    bad = {
        n: r for n, r in records.items()
        if r.get("err") not in (None, "no_oracle") or r.get("hash_match") is False
    }
    assert not bad, f"{arts[-1].name} non-green: {sorted(bad)}"


def test_selfcheck_artifact_is_green():
    art = _latest_selfcheck()
    bad = {
        name: rec
        for name, rec in json.loads(art.read_text()).items()
        if rec.get("err") not in (None, "no_oracle")
        or rec.get("hash_match") is False
        or rec.get("rows_match") is False
        or rec.get("schema_match") is False
    }
    assert not bad, f"{art.name} non-green records: {sorted(bad)}"


def test_sf01_tier_superset_of_sf1_probe():
    """Tier containment law (r8 verdict task 6): every sf1-probed entry is
    also in the sf0.1 hash tier, so a probe's scaling factor always has a
    hash-verified numerator AND denominator. Ungated pure-list check (the
    tier runs themselves stay env-gated)."""
    from tests.sf1_probe import PROBE_ENTRIES
    from tests.test_sf01_selfcheck import TIER

    missing = sorted(set(PROBE_ENTRIES) - set(TIER))
    assert not missing, f"sf1-probed entries absent from sf0.1 tier: {missing}"


def test_one_stream_runner():
    """Every availableNow drain in the package goes through
    streaming/drain.py, which stops and raises on a stall: no other
    package module may start an availableNow query or wait on one
    itself. (``write_stream_kafka``'s processing-time trigger is a
    long-running query, not a drain.)"""
    pkg = REPO / "fdp_dynamically_controlled_streams_spark"
    runner = pkg / "streaming" / "drain.py"
    offenders = sorted(
        f"{path.relative_to(REPO)}: {needle}"
        for path in pkg.rglob("*.py")
        if path != runner
        for needle in ("trigger(availableNow=True)", "awaitTermination(")
        if needle in path.read_text()
    )
    assert not offenders, offenders
    text = runner.read_text()
    assert text.count("trigger(availableNow=True)") == 1
    assert text.count("awaitTermination(") == 1


def test_one_step_per_maintenance_modality():
    """Each index-maintenance modality's screen and upsert are written
    once, in its step in streaming/maintenance.py, which both the
    driver-state replay and the restart-safe pipeline run: outside
    ``operators/`` (where the operators are defined and compose), each
    of these operators has exactly one package call site, there."""
    import ast
    from collections import Counter

    ops = (
        "minhash_decisions_against_sigs",
        "minhash_index_upsert_sigs",
        "exact_substring_index_upsert_delta",
        "embedding_decisions_against_index",
        "embedding_index_upsert",
        "bm25_screen_against_raw",
    )
    pkg = REPO / "fdp_dynamically_controlled_streams_spark"
    sites = Counter(
        (name, str(path.relative_to(pkg)))
        for path in pkg.rglob("*.py")
        if "operators" not in path.relative_to(pkg).parts
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        for name in [getattr(node.func, "id", getattr(node.func, "attr", None))]
        if name in ops
    )
    assert sites == Counter(
        {(name, "streaming/maintenance.py"): 1 for name in ops}
    ), sorted(sites.items())


def test_one_closed_form_per_codec_tier():
    """Each codec tier's closed form in the id is written once, in its
    ``*_for_id`` in operators/multimodal.py, which the attach loop, the
    binaryFile ingest fixture and the oracle's replay all agree with:
    outside that module no package code calls a codec encoder."""
    import ast

    encoders = {
        "encode_fake_image",
        "encode_bmp",
        "encode_wav",
        "encode_png",
        "encode_avi",
        "encode_jpeg",
        "encode_fake_video",
    }
    pkg = REPO / "fdp_dynamically_controlled_streams_spark"
    sites = sorted(
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in pkg.rglob("*.py")
        if path.relative_to(pkg).as_posix() != "operators/multimodal.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) in encoders
    )
    assert sites == [], sites


def test_one_builder_per_fixture_key():
    """Every cached replay or index input is defined once: no two
    ``cached_fixture`` call sites in the package pass the same literal
    key. An entry that reads an input another entry already builds calls
    that input's builder instead of restating it under the same key (the
    copies drift — one already had a different column order)."""
    import ast
    from collections import Counter

    pkg = REPO / "fdp_dynamically_controlled_streams_spark"
    keys = Counter(
        node.args[0].value
        for path in pkg.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None))
        == "cached_fixture"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
    )
    assert keys, "no cached_fixture call sites found"
    shared = sorted(k for k, n in keys.items() if n > 1)
    assert not shared, shared
