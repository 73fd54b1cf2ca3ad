# One-command targets for the checks the round ledgers cite, so every
# recorded count is copy-paste reproducible (r8 verdict ask on the
# gate-scale oracle sweep's env var).

.PHONY: test verify selftest oracle-gate oracle-sf1 bench ab

# full suite (what "686 passed"-style ledger lines run)
test:
	python -m pytest tests/ -x -q

# the tier-1 gate, exactly as ROADMAP.md writes it
verify:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the benchmark's own checks: generators, oracles, BENCHMARK.json vs spec
selftest:
	python3 perfbench/selftest.py

# the DRIVER-scale oracle sweep: every registry row vs its DuckDB oracle
# at sf0.01 — the exact comparison CORRECTNESS_r{N}.json gates on
oracle-gate:
	DP3_ORACLE_SF=/root/testdata/sf0.01 python -m pytest tests/test_oracle.py -q

# the 10x-rows answer sweep (opt-in; ~35 min)
oracle-sf1:
	DP3_SF1=1 python -m pytest tests/test_oracle_sf1.py -q

# headline bench at sf0.1 (writes bench_full.json; final stdout line is
# the driver-facing compact JSON)
bench:
	python bench.py

# interleaved A/B of one benchmark workload, HEAD (or BASE=<rev>) against
# the working tree; prints per-side medians, quartiles and pairs won for
# each end-to-end metric
PAIRS ?= 10
SEED ?= 1
ab:
	tools/ab_perfbench.sh $(WORKLOAD) $(PAIRS) $(SEED)
