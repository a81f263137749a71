.PHONY: help install develop test test-fast bench perfbench zip clean

help: ## Show targets
	@awk 'BEGIN {FS = ":.*?## "} /^[a-zA-Z_-]+:.*?## / {printf "  %-12s %s\n", $$1, $$2}' $(MAKEFILE_LIST)

install: ## Install the package (pip; needs the 'wheel' package present)
	pip install .

develop: ## Editable install without wheel (legacy setup.py path)
	python setup.py develop

zip: ## Build the spark-submit --py-files artifact (dist/mysql_data_quality_spark.zip)
	python scripts/build_pyfiles_zip.py

test: ## Run the full suite
	python -m pytest tests/ -q

test-fast: ## Fail-fast suite run
	python -m pytest tests/ -x -q

bench: ## Run the benchmark harness (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored)
	python bench.py

WORKLOAD ?= crawl_filter
SEED ?= 1
TRACE ?= 0

perfbench: ## Run the repo benchmark (WORKLOAD=crawl_filter|stream_ingest SEED=N TRACE=0|1)
	python3 perfbench/run.py --workload $(WORKLOAD) --seed $(SEED) --seconds 8 --trace $(TRACE)

clean: ## Remove build artifacts
	rm -rf dist build *.egg-info mysql_data_quality_spark.egg-info
