# Developer workflows (see .claude/skills/verify/SKILL.md for details)

.PHONY: test verify verify-all bench plans gallery

# the ROADMAP tier-1 command
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

verify:
	python tools/verify_oracle.py

verify-all:
	python tools/verify_oracle.py /root/testdata/sf0.001
	python tools/verify_oracle.py /root/testdata/sf0.01
	python tools/verify_oracle.py /root/testdata/sf0.1

bench:
	python bench.py

plans:
	python tools/explain_plans.py

gallery:
	python tools/run_gallery.py
