# spark-kg — entry points (analog of the reference's Makefile targets)

PY ?= python
SF ?= /root/testdata/sf0.1

.PHONY: test bench scaling demo clean

# the tier-1 gate exactly as ROADMAP.md states it: every core of this box,
# not the 32-core session default
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	SPARK_GRAFT_SF_DIR=$(SF) $(PY) bench.py

scaling:
	$(PY) bench_scaling.py

# full spark-submit --py-files demo: synth corpus -> triples, from a zip
demo:
	rm -rf /tmp/kg_demo && mkdir -p /tmp/kg_demo
	zip -qr /tmp/kg_demo/kg.zip rdf_i2b2_converter_spark
	cp submit.py /tmp/kg_demo/
	cd /tmp/kg_demo && spark-submit --master local[8] --py-files kg.zip submit.py \
		synth --n-docs 10000 --partitions 32 --out corpus
	cd /tmp/kg_demo && spark-submit --master local[8] --py-files kg.zip submit.py \
		pipeline --pages corpus/pages --gazetteer corpus/gazetteer \
		--ontology corpus/ontology --alias-edges corpus/alias_edges \
		--out triples --parts 32

# ---- Iceberg (needs network for --packages; the sandbox image has no jar,
# so tests/test_iceberg.py is collected-skipped until one of these runs)
# Pick the runtime matching your Spark minor version, e.g.
#   Spark 4.0.x -> org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0
ICEBERG_PKG ?= org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0

iceberg-test:
	PYSPARK_SUBMIT_ARGS="--packages $(ICEBERG_PKG) pyspark-shell" \
		$(PY) -m pytest tests/test_iceberg.py -q

# spark-submit recipe with an Iceberg hadoop catalog wired in
iceberg-demo:
	rm -rf /tmp/kg_iceberg && mkdir -p /tmp/kg_iceberg
	zip -qr /tmp/kg_iceberg/kg.zip rdf_i2b2_converter_spark
	cp submit.py /tmp/kg_iceberg/
	cd /tmp/kg_iceberg && spark-submit --master local[8] --py-files kg.zip \
		--packages $(ICEBERG_PKG) \
		--conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
		--conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \
		--conf spark.sql.catalog.local.type=hadoop \
		--conf spark.sql.catalog.local.warehouse=/tmp/kg_iceberg/wh \
		submit.py synth --n-docs 10000 --partitions 32 --out corpus

clean:
	rm -rf /tmp/kg_demo /tmp/kgsub /tmp/kg_iceberg
