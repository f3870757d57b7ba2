#!/usr/bin/env bash
# Re-record src/main/resources/query_mix_expected.tsv, the fingerprints the
# query_mix workload checks its results against.
#
#   bash perfbench/record_expected.sh OUT_DIR
#
# 1. writes the query_mix tables (fixed generator seed, sf0.1 shape) under
#    OUT_DIR/tables as single parquet files;
# 2. dumps every listed key's result with graft.Verify;
# 3. checks the dumps against DuckDB with tools/check_oracle.py, and stops
#    unless every oracled key passes;
# 4. prints the new query_mix_expected.tsv to standard output: each oracled
#    key's fingerprint (equal to that of its checked dump) and each
#    rows-only twin's row count.
#
# Run it from the repository root after `python3 perfbench/run.py ...` has
# built the harness. Keys are read from the current expected file, so edit
# its key column first to change the subset.
set -euo pipefail
out=${1:?usage: record_expected.sh OUT_DIR}
here=$(cd "$(dirname "$0")" && pwd)
root=$(dirname "$here")
cp=$(cat "$here/target/perfbench/classpath")
opens=$(python3 -c "import sys; sys.path.insert(0, '$here'); import run; \
print(' '.join(f'--add-opens {p}=ALL-UNNAMED' for p in run.ADD_OPENS))")
keys=$(grep -v '^#' "$here/src/main/resources/query_mix_expected.tsv" | cut -f1)
jvm=(java -Xmx6g $opens -Dspark.ui.enabled=false -cp "$cp")

mkdir -p "$out"
cd "$out"
"${jvm[@]}" graft.perfbench.Record tables "$out/tables" >&2
SPARK_GRAFT_CPUS=4 "${jvm[@]}" graft.Verify "$out/tables" "$out/verify" \
  "$(echo $keys | tr ' ' ',')" >&2
python3 "$root/tools/check_oracle.py" "$out/tables" "$out/verify" >&2
echo "$keys" | "${jvm[@]}" graft.perfbench.Record expected "$out/tables" "$out/verify"
