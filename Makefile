# Round workflow helpers (VERDICT r9 "Next round" #4).

.PHONY: round-start test verify test-all test-slow bench bench-ext window-check

# FIRST command of every round: refresh grading telemetry so the
# committed GRADE_WINDOW.json can never lag the driver's newest
# CORRECTNESS file (tests/test_grade_window.py::test_grade_window_json_fresh
# is red until this runs), then show the debt summary.
round-start:
	python grade_window.py
	python -m pytest tests/test_grade_window.py -q -m ""

# Fast profile (what the round driver runs): `slow`-marked soak/chain
# tests are deselected by pytest.ini addopts — see tests/conftest.py
# SLOW_TESTS for the list and the fast sibling each one leaves active.
test:
	python -m pytest tests/ -q

# The Tier-1 verify command of ROADMAP.md, verbatim: the fast profile on
# every CPU of the host, inside its time budget.
verify:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# The whole suite including the slow set (builder runs this once per round).
test-all:
	python -m pytest tests/ -q -m "not round_start"

# Only the slow set.
test-slow:
	python -m pytest tests/ -q -m "slow"

# Never run these while another Spark job is active on the host — the
# load guard only checks at START (bench_common.py).
bench:
	python bench.py

bench-ext:
	python bench_ext.py

# Strict-compare the current 50-query grading window at the driver's SF.
# Runs the freshness tripwire first (same marker override as round-start).
window-check:
	python -m pytest tests/test_grade_window.py -q -m ""
	python driver_sim.py
