# Convenience targets; all knobs are env vars with the same defaults
# the driver uses.

SF_DIR ?= /root/testdata/sf0.1
ORACLE_SF ?= /root/testdata/sf0.01
KAFKA_BOOTSTRAP ?= localhost:9092

.PHONY: test oracle bench perf kafka-live

test:
	python -m pytest tests/ -x -q

oracle:
	python tools/check_oracle.py --sf $(ORACLE_SF)

bench:
	SPARK_GRAFT_SF_DIR=$(SF_DIR) python bench.py

# The repo benchmark (BENCHMARK.json): perfbench unit tests, then one
# untraced run of each workload.
perf:
	python3 -m pytest perfbench/test_perfbench.py -q
	python3 perfbench/run.py --workload stream_dgim --seed 1 --seconds 18
	python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 18

# Live-broker Kafka round-trip (docs/KAFKA_RUNBOOK.md): requires a
# reachable broker AND the spark-sql-kafka connector jar.  The same
# test runs its wire-shaped seam assertions everywhere; the env var
# additionally opens the real socket.
kafka-live:
	KAFKA_BOOTSTRAP=$(KAFKA_BOOTSTRAP) python -m pytest \
	  tests/test_streaming.py::test_kafka_stream_seams_end_to_end -x -q
