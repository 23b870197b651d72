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
so helper rewrites move every consumer's hash. v3 also folds in
same-module classes and dict/list/set constants (a declarative pipeline
spec, a stopword set), so the closure alone decides which queries moved
and no per-module file hash is kept.

Hashes do not depend on where the repo is checked out: the planted
queries' oracles embed an absolute fixture path (queries/planted.py,
GATE_PLANTED_DIR), so the repo root is replaced by a fixed token in
every blob before hashing. A query named in the manifest but no longer
registered fails the check, so a move that drops a function cannot
pass.

Usage:
    python scripts/check_window.py --snapshot   # at end of round: record
        per-query hashes (v3: body + referenced helpers/classes/
        constants + oracle) into scripts/query_hashes.json
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

HASH_VERSION = 3
REPO_TOKEN = "<repo>"


def _canonical(obj) -> str:
    """repr of a constant with every set sorted (so the text does not
    depend on PYTHONHASHSEED) and callables named, not addressed."""
    if isinstance(obj, (set, frozenset)):
        return "{" + ", ".join(sorted(_canonical(x) for x in obj)) + "}"
    if isinstance(obj, dict):
        return "{" + ", ".join(
            f"{_canonical(k)}: {_canonical(v)}" for k, v in obj.items()
        ) + "}"
    if isinstance(obj, (list, tuple)):
        return type(obj).__name__ + "(" + ", ".join(_canonical(x) for x in obj) + ")"
    if isinstance(obj, (str, int, float, bool, type(None))):
        return repr(obj)
    return f"<{type(obj).__qualname__} {getattr(obj, '__qualname__', '')}>"


def _referenced_closure(fn, version: int = HASH_VERSION) -> str:
    """Source of every module-level helper `fn` transitively references
    (same module only) plus the repr of referenced module-level
    constants (any module — catches imported tuning constants like
    N_HASHES). This is what makes a helper rewrite move the hash of
    every query that calls it, even when the query body is untouched.
    v3 adds same-module classes (source, followed like helpers) and
    dict/list/set constants (`_canonical`); v2 kept scalars, tuples and
    frozensets only."""
    pieces: list[str] = []
    seen: set[tuple[str, str]] = set()

    def visit(f) -> None:
        try:
            src = textwrap.dedent(inspect.getsource(f))
            tree = ast.parse(src)
        except (OSError, TypeError, SyntaxError):
            return
        names = sorted({n.id for n in ast.walk(tree) if isinstance(n, ast.Name)})
        g = getattr(f, "__globals__", None) or vars(sys.modules[f.__module__])
        for nm in names:
            key = (getattr(f, "__module__", ""), nm)
            if key in seen or nm not in g:
                continue
            seen.add(key)
            obj = g[nm]
            same_module = getattr(obj, "__module__", None) == fn.__module__
            if same_module and (
                inspect.isfunction(obj) or (version >= 3 and inspect.isclass(obj))
            ):
                try:
                    pieces.append(
                        f"--helper {nm}--\n" + inspect.getsource(obj)
                    )
                except (OSError, TypeError):
                    pieces.append(f"--helper {nm}=<unsourceable>--")
                visit(obj)
            elif version >= 3 and isinstance(
                obj, (str, int, float, bool, tuple, frozenset, set, list, dict)
            ):
                pieces.append(f"--const {nm}={_canonical(obj)}--")
            elif isinstance(obj, (str, int, float, bool, tuple, frozenset)):
                pieces.append(f"--const {nm}={obj!r}--")
    visit(fn)
    return "\n".join(pieces)


def _current_hashes(version: int = HASH_VERSION) -> dict[str, str]:
    """Per-query hash. v1 covers the registered function's own source
    plus its oracle; v2 and v3 add the transitive closure of
    `_referenced_closure` at that version."""
    from statcan_etl_pipeline_spark.registry import ORACLES, QUERIES

    out = {}
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):  # builtins/lambdas: hash the repr
            src = repr(fn)
        blob = src + "\n--oracle--\n" + ORACLES.get(name, "")
        if version >= 2:
            blob += "\n--closure--\n" + _referenced_closure(fn, version)
        blob = blob.replace(REPO, REPO_TOKEN)
        out[name] = hashlib.md5(blob.encode()).hexdigest()
    return out


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
        cur = _current_hashes()
        with open(MANIFEST, "w") as f:
            json.dump(
                {"version": HASH_VERSION, "queries": cur},
                f, indent=0, sort_keys=True,
            )
        print(f"snapshot: {len(cur)} v{HASH_VERSION} query hashes -> {MANIFEST}")
        return 0

    if not os.path.exists(MANIFEST):
        print(f"no manifest at {MANIFEST}; run --snapshot first", file=sys.stderr)
        return 2

    with open(MANIFEST) as f:
        snap = json.load(f)
    base = snap["queries"]
    snap_version = snap["version"]
    if snap_version != HASH_VERSION:
        print(
            f"note: manifest is v{snap_version}; comparing with the "
            f"v{snap_version} algorithm (next --snapshot upgrades to "
            f"v{HASH_VERSION})"
        )
    cur = _current_hashes(version=snap_version)
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
