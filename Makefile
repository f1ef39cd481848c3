.PHONY: test parity-gate parity-sweep parity-aqe-off bench loc

# The ROADMAP Tier-1 command: every test, cores from nproc.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# The driver's correctness gate compares Spark vs DuckDB at sf0.01.
# Run this before every round snapshot — sf0.001-only green can hide
# sf-dependent divergence (group cardinality, quantile ties).
parity-gate:
	PYSTREAMS_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

# Partitioning-independence sweep: the whole parity suite under a
# different shuffle-partition count — any query whose result depends on
# partitioning fails the oracle compare.
parity-sweep:
	PYSTREAMS_TEST_SHUFFLE=5 PYSTREAMS_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

# AQE-independence sweep (r12-ext): the whole parity suite with
# adaptive execution DISABLED — any query whose result depends on AQE
# replanning (runtime coalesce/skew-split) fails the oracle compare.
parity-aqe-off:
	SPARK_GRAFT_EXTRA_CONFS="spark.sql.adaptive.enabled=false" PYSTREAMS_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

bench:
	python bench.py

# Tracked line totals of the package and the tests (ROADMAP aim 2).
loc:
	@printf 'pystreams_spark %s\n' "$$(git ls-files pystreams_spark | xargs cat | wc -l)"
	@printf 'tests %s\n' "$$(git ls-files tests | xargs cat | wc -l)"
