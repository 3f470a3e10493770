#!/usr/bin/env bash
# Correctness gate at two core counts. Runs graft.Verify with
# SPARK_GRAFT_CPUS=8 and then 32 on one scale factor, checks each dump
# against its DuckDB oracles with scripts/check.py, and exits non-zero
# on any oracle mismatch, any query Verify could not run, any empty
# rows-only result, or any difference between the two runs' query
# sets. A result must not depend on the partition layout a core count
# implies.
#
# Usage: scripts/gate_two_cores.sh <sfDir> [outRoot]
#   outRoot defaults to a fresh temporary directory; each run leaves
#   verify_c<N>/ (the dump), verify_c<N>.log and check_c<N>.json there.
set -u
sf="${1:?usage: scripts/gate_two_cores.sh <sfDir> [outRoot]}"
root="${2:-$(mktemp -d)}"
mkdir -p "$root"
root="$(cd "$root" && pwd)"
cd "$(dirname "$0")/.."

status=0
for cpus in 8 32; do
  out="$root/verify_c$cpus"
  rm -rf "$out" "$root/check_c$cpus.json"
  echo "== Verify at $cpus cores -> $out"
  if ! SPARK_GRAFT_CPUS=$cpus sbt --batch "runMain graft.Verify $sf $out" \
      > "$root/verify_c$cpus.log" 2>&1; then
    echo "FAIL Verify exited non-zero at $cpus cores"
    status=1
  fi
  python3 scripts/check.py "$sf" "$out" "$root/check_c$cpus.json" \
    > "$root/check_c$cpus.txt" 2>&1
  tail -n 2 "$root/check_c$cpus.txt" | head -n 1
done

python3 - "$root" <<'EOF'
import json, os, re, sys

root = sys.argv[1]
ok = True
names = {}
for cpus in (8, 32):
    log = open(os.path.join(root, f"verify_c{cpus}.log")).read()
    failed = sorted(set(re.findall(r"\[verify\] (\S+) failed:", log)))
    path = os.path.join(root, f"check_c{cpus}.json")
    if not os.path.exists(path):
        print(f"FAIL {cpus} cores: no check result (Verify wrote no oracle_sql.json?)")
        ok = False
        continue
    statuses = json.load(open(path))["queries"]
    good = {n for n, s in statuses.items() if s in ("pass", "rows_only")}
    bad = sorted(set(statuses) - good)
    total = len(set(statuses) | set(failed))
    names[cpus] = set(statuses) | set(failed)
    print(f"{cpus} cores: {len(good - set(failed))}/{total}")
    for n in failed:
        print(f"  missing (Verify failed): {n}")
    for n in bad:
        print(f"  {statuses[n]}: {n}")
    ok = ok and not failed and not bad
if len(names) == 2 and names[8] != names[32]:
    print(f"FAIL query sets differ: {sorted(names[8] ^ names[32])}")
    ok = False
sys.exit(0 if ok else 1)
EOF
[ $? -eq 0 ] || status=1
[ $status -eq 0 ] && echo "GATE OK" || echo "GATE FAILED"
exit $status
