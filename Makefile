# Packaging + verification entry points.
# `make dist` produces the --py-files artifact for spark-submit (the
# cmd/builder analog: one deployable bundle of the whole engine).

DIST := dist
PKG  := opentelemetry_collector_spark

.PHONY: dist test selfcheck bench clean

dist:
	mkdir -p $(DIST)
	rm -f $(DIST)/$(PKG).zip
	zip -qr $(DIST)/$(PKG).zip $(PKG) -x '*__pycache__*'
	cp submit_pipeline.py $(DIST)/
	@echo "spark-submit --py-files $(DIST)/$(PKG).zip $(DIST)/submit_pipeline.py <pages_dir> <out_root> --config <config.yaml>"

# the tier-1 command of ROADMAP.md
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

selfcheck:
	python tools/selfcheck.py /root/testdata/sf0.01

bench:
	python bench.py

clean:
	rm -rf $(DIST) .bench_cache
