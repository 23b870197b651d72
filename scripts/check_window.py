"""Driver-window invariant check (SURVEY §5): any query whose
implementation OR oracle changed since the last snapshot MUST sit inside
the driver's 50-query correctness window (`queries()` dict order,
first 50) so the change gets driver hash evidence in the same round.

The r8 retro that motivates this: six survey2 queries were modified
(broadcast-hint drops) without rotating them into the window, so the
engine carried modified-but-never-driver-verified code for a full round.
The r10 retro that motivates manifest v2: `_embedding_lsh_pairs` (a
module-level helper shared by two queries) was rewritten, but neither
consumer's body changed, so their per-query hashes did not move and the
helper-only module WARNING was suppressed because SIBLING query bodies
in the same file changed — modified-but-unverified code shipped. v2
hashes therefore fold in the source of every module-level helper the
query (transitively) references, plus referenced module-level constants,
so helper rewrites move every consumer's hash.

Hashes do not depend on where the repo is checked out: the planted
queries' oracles embed an absolute fixture path (queries/planted.py,
GATE_PLANTED_DIR), so the repo root is replaced by a fixed token in
every blob before hashing. A query named in the manifest but no longer
registered fails the check, so a move that drops a function cannot
pass.

Usage:
    python scripts/check_window.py --snapshot   # at end of round: record
        per-query hashes (v2: body + referenced helpers/constants +
        oracle) into scripts/query_hashes.json
    python scripts/check_window.py              # before snapshot/commit:
        exit 1 if any changed/new query is outside the window
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import inspect
import json
import os
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_hashes.json")

HASH_VERSION = 2
REPO_TOKEN = "<repo>"


def _referenced_closure(fn) -> str:
    """Source of every module-level helper `fn` transitively references
    (same module only) plus the repr of referenced module-level
    constants (any module — catches imported tuning constants like
    N_HASHES). This is what makes a helper rewrite move the hash of
    every query that calls it, even when the query body is untouched."""
    pieces: list[str] = []
    seen: set[tuple[str, str]] = set()

    def visit(f) -> None:
        try:
            src = textwrap.dedent(inspect.getsource(f))
            tree = ast.parse(src)
        except (OSError, TypeError, SyntaxError):
            return
        names = sorted({n.id for n in ast.walk(tree) if isinstance(n, ast.Name)})
        g = getattr(f, "__globals__", {})
        for nm in names:
            key = (getattr(f, "__module__", ""), nm)
            if key in seen or nm not in g:
                continue
            seen.add(key)
            obj = g[nm]
            if inspect.isfunction(obj) and obj.__module__ == fn.__module__:
                try:
                    pieces.append(
                        f"--helper {nm}--\n" + inspect.getsource(obj)
                    )
                except (OSError, TypeError):
                    pieces.append(f"--helper {nm}=<unsourceable>--")
                visit(obj)
            elif isinstance(obj, (str, int, float, bool, tuple, frozenset)):
                pieces.append(f"--const {nm}={obj!r}--")
    visit(fn)
    return "\n".join(pieces)


def _current_hashes(
    version: int = HASH_VERSION,
) -> tuple[dict[str, str], dict[str, str], dict[str, list[str]]]:
    """(per-query hash, per-module file hash, module -> query names).

    v1 hashes cover the registered function's own source plus its
    oracle. v2 additionally covers the transitive same-module helper
    closure and referenced constants (see _referenced_closure). The
    module file hash remains the belt-and-braces residue detector for
    anything the closure misses (e.g. decorator-time oracle builders)."""
    from statcan_etl_pipeline_spark.registry import ORACLES, QUERIES

    out, mod_files, mod_queries = {}, {}, {}
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):  # builtins/lambdas: hash the repr
            src = repr(fn)
        blob = src + "\n--oracle--\n" + ORACLES.get(name, "")
        if version >= 2:
            blob += "\n--closure--\n" + _referenced_closure(fn)
        blob = blob.replace(REPO, REPO_TOKEN)
        out[name] = hashlib.md5(blob.encode()).hexdigest()
        mod = getattr(fn, "__module__", None)
        if mod:
            mod_queries.setdefault(mod, []).append(name)
            if mod not in mod_files:
                try:
                    path = inspect.getfile(fn)
                    with open(path, "rb") as f:
                        mod_files[mod] = hashlib.md5(f.read()).hexdigest()
                except (OSError, TypeError):
                    pass
    return out, mod_files, mod_queries


def _window() -> list[str]:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.queries())[:50]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--snapshot", action="store_true",
                    help="record the current per-query hashes as the baseline")
    args = ap.parse_args()

    if args.snapshot:
        cur, mod_files, _ = _current_hashes()
        with open(MANIFEST, "w") as f:
            json.dump(
                {"version": HASH_VERSION, "queries": cur, "modules": mod_files},
                f, indent=0, sort_keys=True,
            )
        print(f"snapshot: {len(cur)} v{HASH_VERSION} query hashes -> {MANIFEST}")
        return 0

    if not os.path.exists(MANIFEST):
        print(f"no manifest at {MANIFEST}; run --snapshot first", file=sys.stderr)
        return 2

    with open(MANIFEST) as f:
        snap = json.load(f)
    base = snap.get("queries", snap)  # tolerate the pre-module format
    base_mods = snap.get("modules", {})
    snap_version = snap.get("version", 1)
    if snap_version != HASH_VERSION:
        print(
            f"note: manifest is v{snap_version}; comparing with the "
            f"v{snap_version} algorithm (next --snapshot upgrades to "
            f"v{HASH_VERSION})"
        )
    cur, mod_files, mod_queries = _current_hashes(version=snap_version)
    changed = sorted(
        name for name, h in cur.items() if base.get(name) != h
    )
    vanished = sorted(set(base) - set(cur))
    win = set(_window())
    outside = [name for name in changed if name not in win]
    print(f"changed/new queries since snapshot: {len(changed)}")
    for name in changed:
        mark = "OK (in window)" if name in win else "VIOLATION (outside window)"
        print(f"  {name}: {mark}")
    changed_set = set(changed)
    for mod, h in sorted(mod_files.items()):
        if base_mods.get(mod, h) == h:
            continue
        # r10 fix: the module WARNING fires for every unchanged-body
        # query left OUTSIDE the window whenever the file hash moved —
        # no longer suppressed when sibling bodies changed in the same
        # file (the exact hole _embedding_lsh_pairs shipped through).
        unverified = sorted(
            q for q in mod_queries[mod]
            if q not in changed_set and q not in win
        )
        if unverified:
            print(
                f"WARNING: {mod} changed on disk but these queries' "
                f"hashes did not move and they sit OUTSIDE the window: "
                f"{unverified} — triage (shared-helper edit?) or rotate "
                f"them in"
            )
    for name in vanished:
        print(f"  {name}: VIOLATION (in the manifest but no longer registered)")
    if vanished:
        print(
            f"\nFAIL: {len(vanished)} snapshotted queries are no longer "
            "registered — restore them, or re-snapshot if the removal is "
            "deliberate.",
            file=sys.stderr,
        )
    if outside:
        print(
            f"\nFAIL: {len(outside)} changed queries are outside the driver "
            "window — reorder _CHECK_FIRST in __spark_entry__.py so they are "
            "inside the first 50.",
            file=sys.stderr,
        )
    if outside or vanished:
        return 1
    print("OK: every changed query is inside the driver window.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
