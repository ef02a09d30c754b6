#!/usr/bin/env bash
# Regenerates perfbench/digests.json, the query-suite's expected outputs.
# Run from the repository root:  bash perfbench/make_digests.sh
#
# 1. graft.Verify dumps every registered query's result over the committed
#    sf0.1 corpus;
# 2. scripts/check.py compares each result with its DuckDB oracle (every
#    query in QuerySuite.suite must print "ok");
# 3. the digests (row count + order-insensitive content hash) are read back
#    from the dump's parquet.
set -euo pipefail
DATA=perfbench/data/sf0.1
DUMP=perfbench/out/verify_sf0.1
rm -rf "$DUMP"
SPARK_GRAFT_CPUS="$(nproc)" sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $DATA $DUMP"
python3 scripts/check.py "$DATA" "$DUMP" || echo "check.py reported failures: review them before committing"
python3 perfbench/run.py --make-digests "$DUMP"
