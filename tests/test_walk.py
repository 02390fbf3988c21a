"""The driver's walk order (dumpr_spark/queries/walk.py): fingerprints are
stable across interpreters, a helper edit re-queues exactly the builders
that reach it, and queries() puts every stale name ahead of the fresh ones."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from dumpr_spark.queries import REGISTRY, queries
from dumpr_spark.queries import walk

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def fps():
    return walk.fingerprints()


@pytest.fixture
def records(fps, tmp_path, monkeypatch):
    """Point the walk at a scratch verified.json holding every current
    fingerprint, so nothing starts stale."""
    recs = {n: [1, fp] for n, fp in fps.items()}
    monkeypatch.setattr(walk, "VERIFIED", str(tmp_path / "verified.json"))
    walk.save(recs)
    return recs


def test_fingerprints_identical_across_hash_seeds():
    code = ("import json, dumpr_spark.queries; from dumpr_spark.queries import walk; "
            "print(json.dumps(walk.fingerprints(), sort_keys=True))")
    outs = []
    for seed in ("1", "2"):
        env = {**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": REPO}
        out = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                             capture_output=True, text=True, check=True)
        outs.append(json.loads(out.stdout))
    assert len(outs[0]) == len(REGISTRY)
    assert outs[0] == outs[1]


def test_import_computes_no_fingerprint_and_keeps_registration_order():
    code = ("import sys, dumpr_spark.queries as q; "
            "assert 'dumpr_spark.queries.walk' not in sys.modules; "
            "before = list(q.REGISTRY); q.queries(); assert list(q.REGISTRY) == before")
    subprocess.run([sys.executable, "-c", code], env={**os.environ, "PYTHONPATH": REPO},
                   cwd=REPO, check=True)


def _stale_after_edit(monkeypatch, fps, module, helper):
    """Perturb the source the walk reads for one helper; return the names
    whose fingerprint moved."""
    target = getattr(sys.modules[module], helper)
    read = walk.read_source
    monkeypatch.setattr(walk, "read_source",
                        lambda o: read(o) + ("# edited\n" if o is target else ""))
    now = walk.fingerprints()
    return sorted(n for n in REGISTRY if now[n] != fps[n])


@pytest.mark.parametrize("module, helper, requeued", [
    ("dumpr_spark.functions.dedup", "minhash_signature", [
        "dedup_clusters", "dedup_cross_corpus", "dedup_jaccard_containment",
        "dedup_lsh_scaled", "dedup_minhash_accuracy", "dedup_minhash_lsh",
    ]),
    # shared by every query: past the WALK_BUDGET fan-in cap
    ("dumpr_spark.sources.files", "read_parquet", []),
])
def test_helper_edit_requeues_exactly_its_dependents(records, fps, monkeypatch,
                                                     module, helper, requeued):
    stale = _stale_after_edit(monkeypatch, fps, module, helper)
    assert stale == requeued
    assert sorted(list(queries())[:len(stale)]) == stale


def test_helper_reached_by_local_import_requeues_its_dependents(records, fps, monkeypatch):
    # dedup_lsh_scaled reaches fan_out only through a function-local import
    stale = _stale_after_edit(monkeypatch, fps, "dumpr_spark.operators.scale", "fan_out")
    assert "dedup_lsh_scaled" in stale
    assert 0 < len(stale) <= walk.WALK_BUDGET


def test_queries_is_a_stale_first_permutation_of_the_registry(records):
    names = sorted(REGISTRY)
    never, red = names[-1], names[-2]
    del records[never]
    records = walk.fold({red: {"hash_match": False}}, 2, records)
    walk.save(records)
    order = list(queries())
    assert sorted(order) == names
    assert set(order[:2]) == {never, red}


def test_fold_records_green_drops_red_keeps_unchecked(fps):
    a, b, c = sorted(REGISTRY)[:3]
    before = {a: [3, "old"], b: [3, "old"], c: [3, "old"]}
    after = walk.fold({a: {"hash_match": True}, b: {"hash_match": False}}, 7, before)
    assert after == {a: [7, fps[a]], c: [3, "old"]}


def test_shipped_records_name_only_registered_queries():
    assert set(walk.load()) <= set(REGISTRY)
