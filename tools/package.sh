#!/usr/bin/env bash
# Build the --py-files artifact and show the spark-submit invocation the
# north rule prescribes (multi-executor clusters at N and 4N executors).
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p build
rm -f build/python_prtree_spark.zip
zip -qr build/python_prtree_spark.zip python_prtree_spark -x '*__pycache__*'
echo "built build/python_prtree_spark.zip"
cat <<'EOF'
# cluster run (N executors):
spark-submit --master yarn --deploy-mode cluster \
  --num-executors "$N" --executor-cores 4 --executor-memory 8g \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.shuffle.partitions=$((N * 8)) \
  --py-files build/python_prtree_spark.zip \
  bench.py
# rerun with --num-executors $((N * 4)) for the 4N point; the closed
# local-cluster scaling evidence is in BENCH.md (bench/scaling_attempts.jsonl).
EOF
