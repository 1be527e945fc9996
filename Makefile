# Developer entry points.  `make check` is the quick pre-commit gate;
# `make verify` is the FULL gate (every registered query vs its oracle
# at driver scale + the whole test suite) — run before every
# end-of-round snapshot.

.PHONY: test oracle-smoke oracle-full bench ab plans check verify

test:
	python -m pytest tests/ -q

# every registered query vs its DuckDB oracle at sf0.001 (~2 min):
# fails if ANY query loses its oracle match — run before every commit
# that touches query logic
oracle-smoke:
	python tools/check_correctness.py /root/testdata/sf0.001

# the driver-scale gate (sf0.01, what CORRECTNESS_r{N}.json samples)
oracle-full:
	python tools/check_correctness.py /root/testdata/sf0.01

bench:
	python bench.py

# alternating parent/change pairs of the repository benchmark (perfbench)
# for one workload: medians, quartiles, wins and BENCHMARK.json bounds
PARENT ?= HEAD~1
W ?= corpus_dedup
SEEDS ?= 31-36,41-44
ab:
	python3 tools/ab_pairs.py --parent $(PARENT) --workload $(W) --seeds $(SEEDS)

# regenerate PLANS.md (static + final-AQE plan audit)
plans:
	python tools/plan_audit.py

check: test oracle-smoke

# the snapshot gate: full registry vs oracles at sf0.01 (what the
# judge re-runs) AND the whole pytest suite — a red entry anywhere in
# the 100+-query registry fails this even though the driver only
# samples 50
verify: oracle-full test
