PY ?= python
SF001 ?= /root/testdata/sf0.001
SF01  ?= /root/testdata/sf0.01
SF1   ?= /root/testdata/sf0.1

.PHONY: test verify-scale bench

# The Tier-1 command (ROADMAP.md): every test, no early stop, under the
# suite's wall-time budget.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# One-command scale-parity harness (round-4 verdict item 2): replay the
# full DuckDB-oracle correctness gate — every queries() entry — at
# sf0.01 AND sf0.1. Larger scales are hostile to fixture-tuned
# constants (different skew, cardinalities, bucket occupancy); this
# sweep has caught real bugs twice (SCALE.md). Takes ~2 min at sf0.01
# and ~10 min at sf0.1 on local[8].
verify-scale:
	SPARK_GRAFT_TEST_SF=$(SF01) $(PY) -m pytest tests/test_oracle_parity.py -q
	SPARK_GRAFT_TEST_SF=$(SF1)  $(PY) -m pytest tests/test_oracle_parity.py -q

bench:
	$(PY) bench.py
