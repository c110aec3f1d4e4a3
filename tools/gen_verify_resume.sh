#!/bin/bash
# Regenerate the stop/resume checkpoint-recovery artifacts
# (VERIFY_RESUME.json, VERIFY_RESUME_ROCKSDB.json): every streaming twin
# replayed by Queries.runStream under GRAFT_STREAM_RESUME=1 (batches
# 1..n-1, hard stop, fresh query recovering state+offsets from the
# checkpoint, final batch), then
# DuckDB-oracle-compared — once on the default HDFS-backed state store,
# once composed with RocksDB. Run at a round boundary whenever the
# streaming scheme changes (the r16 one-sentinel change is why r17
# re-ran it). Dev-side tooling: uses the driver's duckdb, like
# tools/oracle_check.py.
#
# Usage: tools/gen_verify_resume.sh   (from the repo root; ~10 min)
set -euo pipefail
TWINS=$(grep -o '"q_stream_[a-z0-9_]*"' src/main/scala/graft/Queries.scala \
  | sort -u | tr -d '"' | paste -sd,)
SF=/root/testdata/sf0.01

run_and_compare() {  # $1 = extra env (string), $2 = outdir, $3 = artifact, $4 = label
  local extra="$1" outdir="$2" artifact="$3" label="$4"
  rm -rf "$outdir"
  env GRAFT_STREAM_RESUME=1 GRAFT_ONLY="$TWINS" $extra \
    sbt -batch "runMain graft.Verify $SF $outdir" > "$outdir.log" 2>&1
  python3 - "$outdir" "$artifact" "$label" <<'EOF'
import duckdb, json, sys
outdir, artifact, label = sys.argv[1], sys.argv[2], sys.argv[3]
con = duckdb.connect(); sf = '/root/testdata/sf0.01'
for t in ['region','nation','customer','supplier','part','orders',
          'lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f'{outdir}/oracle_sql.json'))
import re, pathlib
twins = sorted(set(re.findall(r'"(q_stream_[a-z0-9_]*)"',
    pathlib.Path('src/main/scala/graft/Queries.scala').read_text())))
res = {}
for name in twins:
    s = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
    o = con.sql(oracle[name]).df()
    s = s[sorted(s.columns)].sort_values(by=sorted(s.columns)).reset_index(drop=True)
    o = o[sorted(o.columns)].sort_values(by=sorted(o.columns)).reset_index(drop=True)
    res[name] = {"match": bool(s.equals(o)), "rows": len(s)}
out = {"label": label, "n": len(res),
       "n_match": sum(1 for v in res.values() if v["match"]),
       "queries": res}
json.dump(out, open(artifact, 'w'), indent=1)
print(artifact, f"{out['n_match']}/{out['n']}")
EOF
}

run_and_compare "" /tmp/vresume17 VERIFY_RESUME.json \
  "all 26 streaming twins through stop/resume checkpoint recovery, sf0.01"
run_and_compare "GRAFT_STATE_STORE=rocksdb" /tmp/vresume17r VERIFY_RESUME_ROCKSDB.json \
  "all 26 streaming twins: checkpoint recovery composed with the RocksDB state store, sf0.01"
