"""Contract pins for scripts/check_window.py — the driver-window
invariant tooling (SURVEY §5 item 9). No Spark needed."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import check_window  # noqa: E402


def test_hashes_cover_every_registered_query():
    cur = check_window._current_hashes()
    from statcan_etl_pipeline_spark.registry import QUERIES

    assert set(cur) == set(QUERIES)
    assert all(len(h) == 32 for h in cur.values())


def test_window_is_first_fifty_unique_registered():
    win = check_window._window()
    from statcan_etl_pipeline_spark.registry import QUERIES

    assert len(win) == 50
    assert len(set(win)) == 50
    assert all(name in QUERIES for name in win)


def test_v2_hash_covers_referenced_module_helpers():
    """The r10 hole: dedup_embedding_lsh delegates to the module-level
    helper _embedding_lsh_pairs, so a helper rewrite must move the
    query's v2 hash even though its own body is one line. Pin that the
    closure (a) finds that helper and (b) differentiates v2 from v1."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    fn = QUERIES["dedup_embedding_lsh"]
    closure = check_window._referenced_closure(fn)
    assert "_embedding_lsh_pairs" in closure
    v1 = check_window._current_hashes(version=1)
    v2 = check_window._current_hashes(version=2)
    assert v1["dedup_embedding_lsh"] != v2["dedup_embedding_lsh"]
    # referenced constants ride along too (imported tuning knobs)
    assert "--const" in closure


def test_v3_hash_covers_dict_constants(monkeypatch):
    """pipeline_declarative_demo is one call on the module-level dict
    `_DEMO_SPEC`: editing the spec must move its v3 hash (v2 hashed
    scalar constants only, so it missed the edit)."""
    from statcan_etl_pipeline_spark.queries import etl

    v2 = check_window._current_hashes(version=2)["pipeline_declarative_demo"]
    v3 = check_window._current_hashes(version=3)["pipeline_declarative_demo"]
    monkeypatch.setitem(etl._DEMO_SPEC, "source", "orders")
    assert check_window._current_hashes(version=2)["pipeline_declarative_demo"] == v2
    assert check_window._current_hashes(version=3)["pipeline_declarative_demo"] != v3


def test_v3_hash_does_not_depend_on_hash_seed():
    """Set constants (e.g. functions.text.STOPWORDS) are hashed in
    sorted order, so two interpreters with different string-hash seeds
    agree on every v3 hash."""
    script = (
        "import json, sys; sys.path.insert(0, 'scripts'); import check_window; "
        "print(json.dumps(check_window._current_hashes(3), sort_keys=True))"
    )
    outs = [
        subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True,
            text=True,
            cwd=REPO,
            env={**os.environ, "PYTHONHASHSEED": seed},
            check=True,
        ).stdout
        for seed in ("1", "2")
    ]
    assert outs[0] == outs[1]


def test_manifest_schema_and_clean_tree_passes():
    """The committed manifest has the {version, queries} shape, and
    running the checker in the current tree exits 0 or 1 (never the
    no-manifest exit 2) — if this tree has query edits the checker
    must say they're in the window (exit 0) for the round to be
    shippable, so assert exit 0. The closure alone decides what moved:
    no module-file WARNING is printed."""
    with open(check_window.MANIFEST) as f:
        snap = json.load(f)
    assert set(snap) == {"version", "queries"}
    assert snap["version"] in (2, check_window.HASH_VERSION)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_window.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "WARNING" not in proc.stdout



def test_clean_tree_passes_from_another_checkout_path(tmp_path):
    """The planted oracles embed an absolute fixture path, so their blobs
    depend on where the repo lives; the checker hashes them with the repo
    root replaced by a token. A copy of the tree at another path must
    pass exactly as this one does."""
    copy = tmp_path / "elsewhere"
    ignore = shutil.ignore_patterns("__pycache__", "*.pyc")
    for d in ("statcan_etl_pipeline_spark", "scripts"):
        shutil.copytree(os.path.join(REPO, d), copy / d, ignore=ignore)
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), copy)
    proc = subprocess.run(
        [sys.executable, os.path.join("scripts", "check_window.py")],
        capture_output=True,
        text=True,
        cwd=copy,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_snapshotted_query_that_is_no_longer_registered_fails(
    tmp_path, monkeypatch, capsys
):
    """A query in the manifest that the registry no longer has (a move
    that dropped a function) fails the check, even though no registered
    query's hash moved."""
    cur = check_window._current_hashes()
    cur["no_such_query"] = "0" * 32
    manifest = tmp_path / "query_hashes.json"
    manifest.write_text(
        json.dumps({"version": check_window.HASH_VERSION, "queries": cur})
    )
    monkeypatch.setattr(check_window, "MANIFEST", str(manifest))
    monkeypatch.setattr(sys, "argv", ["check_window.py"])
    assert check_window.main() == 1
    assert "no_such_query" in capsys.readouterr().out

def test_check_first_names_are_unique_and_registered():
    """r13: _CHECK_FIRST is the driver-window ordering — a duplicate
    silently shrinks the effective window (dict-comprehension dedup),
    and an unknown name silently drops a slot (`if k in QUERIES`), so
    both must fail loudly here instead. (A duplicated r6 block briefly
    existed during the r13 rotation edit; this pins the invariant.)"""
    import importlib.util

    from statcan_etl_pipeline_spark.registry import QUERIES

    spec = importlib.util.spec_from_file_location(
        "spark_entry_for_test", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = mod._CHECK_FIRST
    assert len(names) == len(set(names)), "duplicate names in _CHECK_FIRST"
    unknown = [n for n in names if n not in QUERIES]
    assert not unknown, f"_CHECK_FIRST names not in registry: {unknown}"
    # and the window must hold the full 50 the driver checks
    assert len(names) >= 50
