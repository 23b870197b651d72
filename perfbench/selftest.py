"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Run it from the repository root. For each workload it checks that an
untraced and a traced run print every named metric with its unit and
fail nothing, and that a run against a deliberately corrupted reference
hash counts failures. It exits 0 when every check holds.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import workloads  # noqa: E402


def check(workload: str) -> list[str]:
    problems = []

    def expect(ok: bool, what: str) -> None:
        print(f"  {'ok  ' if ok else 'FAIL'} {workload}: {what}", flush=True)
        if not ok:
            problems.append(f"{workload}: {what}")

    for trace, names in zip((False, True), run.declared_metrics()):
        line, provenance = run.run(workload, seed=3, seconds=1, trace=trace, size="tiny")
        metrics = line["metrics"]
        expect(set(metrics) == set(names), f"trace={int(trace)} prints every named metric")
        expect(all(m["unit"] == names[k] for k, m in metrics.items()),
               f"trace={int(trace)} prints each metric with its unit")
        expect(line["correct"] and line["failed"] == 0,
               f"trace={int(trace)} matches the reference ({provenance['failures']})")
        if not trace:
            expect(metrics["success_rate"]["value"] == 1.0, "success_rate is 1 (error rate 0)")

    line, _ = run.run(workload, seed=3, seconds=1, trace=False, size="tiny",
                      corrupt_reference=True)
    expect(not line["correct"] and line["failed"] > 0
           and line["metrics"]["success_rate"]["value"] < 1.0,
           "a corrupted reference hash lowers success_rate below 1")
    return problems


def main() -> int:
    problems = []
    for workload in workloads.WORKLOADS:
        problems += check(workload)
    print("selftest:", "FAILED " + "; ".join(problems) if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
