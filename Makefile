# Packaging + dev targets for refimage_spark.
#
# `make zip` builds the --py-files artifact the CLI entrypoints expect:
#   spark-submit --py-files refimage_spark.zip scripts/build_index_cli.py ...

.PHONY: zip test bench clean

zip:
	rm -f refimage_spark.zip
	zip -r refimage_spark.zip refimage_spark -x '*/__pycache__/*' -x '*.pyc'

# the ROADMAP tier-1 command: every test runs, collection errors included
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

clean:
	rm -f refimage_spark.zip
	find refimage_spark -name __pycache__ -type d -exec rm -rf {} +
