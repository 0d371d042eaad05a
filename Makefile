# Packaging + dev targets for refimage_spark.
#
# `make zip` builds the --py-files artifact the CLI entrypoints expect:
#   spark-submit --py-files refimage_spark.zip scripts/build_index_cli.py ...

.PHONY: zip test oracles bench digest clean

zip:
	rm -f refimage_spark.zip
	zip -r refimage_spark.zip refimage_spark -x '*/__pycache__/*' -x '*.pyc'

# the ROADMAP tier-1 command: every test runs, collection errors included
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the DuckDB oracle gate (scripts/check_oracles.py) under the tier-1 env;
# Spark's Python workers import refimage_spark only via PYTHONPATH.
# Select entries with ARGS, e.g. make oracles ARGS="dedup_exact dedup_minhash"
oracles:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local PYTHONPATH="$(CURDIR)"; \
	python scripts/check_oracles.py $(ARGS)

bench:
	python bench.py

# byte-level digest of an index (segment file hashes, manifest rows,
# stats.json): `make digest IDX=/path/to/index`; diff two to compare
digest:
	@test -n "$(IDX)" || { echo "usage: make digest IDX=<index dir>"; exit 2; }
	@PYTHONPATH="$(CURDIR)" python scripts/segment_digest.py "$(IDX)"

clean:
	rm -f refimage_spark.zip
	find refimage_spark -name __pycache__ -type d -exec rm -rf {} +
