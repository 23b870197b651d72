# The tier-1 command from ROADMAP.md. `test` is the default tier
# (pytest.ini deselects the `full` marker); `test-full` adds the
# 280-query sf0.01 parity sweep, the all-queries smoke and the
# registry-wide plan audits.
PYTEST = export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

.PHONY: test test-full

test:
	$(PYTEST)

test-full:
	$(PYTEST) -m ""
