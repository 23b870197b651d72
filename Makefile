# The tier-1 command from ROADMAP.md. `test` is the default tier
# (pytest.ini deselects the `full` marker); `test-full` adds the
# 280-query sf0.01 parity sweep, the all-queries smoke and the
# registry-wide plan audits. `selftest` checks the benchmark harness
# (perfbench/) at a tiny size. `sweep` runs every registered query
# against its DuckDB oracle at sf0.01 with the driver's exact check —
# the gate for edits outside a query's own module (catalog, operators/,
# functions/), which the driver-window hash cannot see. `window` runs
# scripts/check_window.py: every query whose code or oracle changed
# since scripts/query_hashes.json must sit in the driver's first 50.
# `lines` runs scripts/code_lines.py over the package outside queries/:
# code lines per file and in total, without blanks, comments or
# docstrings (the size figure a simplification is judged by), then the
# same total over queries/.
PYTEST = export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

.PHONY: test test-full selftest sweep window lines

test:
	$(PYTEST)

test-full:
	$(PYTEST) -m ""

selftest:
	python3 perfbench/selftest.py

sweep:
	python scripts/oracle_sweep.py --sf-dir /root/testdata/sf0.01

window:
	python scripts/check_window.py

lines:
	python scripts/code_lines.py $$(find statcan_etl_pipeline_spark -name '*.py' -not -path '*/queries/*' | sort)
	@python scripts/code_lines.py statcan_etl_pipeline_spark/queries | awk 'END { print $$1, "total in queries/" }'
