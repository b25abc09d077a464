.PHONY: test test-full parity parity-driver-scale parity-full-scale parity-adversarial vacuity bench smoke preflight live-smoke

# Gate runs tee RAW pytest output to .preflight-logs/ (VERDICT r8 #6:
# an r8 flake's name was lost to a grep pipe on a background run — the
# log file survives output filters, so a flake can be root-caused).
SHELL := /bin/bash
LOGDIR := .preflight-logs
TEE = mkdir -p $(LOGDIR) && set -o pipefail &&

test:            ## fast tier (default -m "not slow": parity + plan pins + unit logic, <10 min)
	$(TEE) python -m pytest tests/ -q 2>&1 | tee $(LOGDIR)/test.log

test-full:       ## FULL battery including @slow (hypothesis/scale-truth depth suites)
	$(TEE) python -m pytest tests/ -q -m "" 2>&1 | tee $(LOGDIR)/test-full.log

parity:          ## oracle parity at smoke scale (fast)
	$(TEE) python -m pytest tests/test_parity.py -q 2>&1 | tee $(LOGDIR)/parity.log

parity-driver-scale:  ## oracle parity at the driver's sf0.01 gate scale
	$(TEE) SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 python -m pytest tests/test_parity.py -q 2>&1 | tee $(LOGDIR)/parity-driver-scale.log

parity-full-scale:    ## oracle parity at bench scale (sf0.1) — catches SF-dependent vacuity
	$(TEE) SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1 python -m pytest tests/test_parity.py -q 2>&1 | tee $(LOGDIR)/parity-full-scale.log

parity-adversarial:   ## parity at hostile parallelism (3 cpus / 5 partitions) — partition-independence sweep
	$(TEE) SPARK_GRAFT_TEST_CPUS=3 SPARK_GRAFT_TEST_PARTITIONS=5 python -m pytest tests/test_parity.py -q 2>&1 | tee $(LOGDIR)/parity-adversarial.log

vacuity:         ## DuckDB-only: every oracle non-empty at every SF, sf0.1 included (minutes, no Spark)
	$(TEE) python -m pytest tests/test_vacuity.py -q -m "" 2>&1 | tee $(LOGDIR)/vacuity.log

preflight: test-full parity-driver-scale parity-adversarial vacuity  ## the end-of-round gate battery (full suite, not the fast tier)

bench:           ## headline bench (one JSON line; sf from SPARK_GRAFT_SF_DIR)
	python bench.py

smoke:           ## driver-contract smoke: entry() on a plain session
	python -c "from pyspark.sql import SparkSession; \
	s = SparkSession.builder.master('local[8]').config('spark.ui.enabled','false').getOrCreate(); \
	import __spark_entry__ as e; print(len(e.entry(s).collect()), 'rows')"

audit:           ## data-quality battery on $SPARK_GRAFT_SF_DIR (or sf0.1)
	python jobs/run_audit.py --input $${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}

catalog:         ## regenerate docs/operators.md from the registry
	python -m kube_etl_spark.catalog_doc

live-smoke:      ## OPT-IN real-cluster smoke (needs KUBECONFIG; degrades to a clear skip)
	python jobs/live_smoke.py
