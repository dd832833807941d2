#!/bin/bash
# The close check: every gate hash-exact against the DuckDB oracle at two
# scale factors, plus the plan-census diff, in one artifact.
#
#   tools/close.sh TESTDATA_DIR [OUT_JSON]
#
# TESTDATA_DIR holds the sf0.01 and sf0.1 fixture dirs. For each tier it
# runs graft.Verify (each gate's result to parquet) and
# tools/check_oracle.py (exact and pandas compare with the DuckDB oracle);
# then graft.PlanCensus at sf0.01 against PLAN_CENSUS_BASELINE.json. It
# writes OUT_JSON (default CORRECTNESS_<commit>.json in the repo root;
# <commit> is `git describe --always --dirty`) with, per tier, every
# gate's compare row plus a hash of its result rows, the step timings and
# the failures, and exits non-zero on any failure: a gate Verify could
# not run, a gate the oracle compare failed or never saw, a census diff
# violation or a step that crashed. SPARK_GRAFT_CPUS (default: nproc)
# sets the cores of every step.
set -uo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 1 ] || [ ! -d "$1/sf0.01" ] || [ ! -d "$1/sf0.1" ]; then
  echo "usage: tools/close.sh TESTDATA_DIR [OUT_JSON]  (TESTDATA_DIR/sf0.01 and /sf0.1 must exist)" >&2
  exit 2
fi
DATA="$(cd "$1" && pwd)"
COMMIT="$(git describe --always --dirty)"
OUT="${2:-CORRECTNESS_$COMMIT.json}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
WORK="$(mktemp -d -t graft-close-XXXXXX)"
trap 'rm -rf "$WORK"' EXIT

# the tree of src/ this run verified: equals `git rev-parse <commit>:src`
# of the commit that holds this tree
SRC_TREE="$(GIT_INDEX_FILE="$WORK/index" sh -c \
  'git read-tree HEAD && git add -A src && git write-tree --prefix=src/')"

echo "[close] compiling" >&2
if ! sbt -batch compile > "$WORK/compile.log" 2>&1; then
  tail -40 "$WORK/compile.log" >&2
  echo "[close] compile failed" >&2
  exit 1
fi

# step NAME CMD...: runs CMD with its output in $WORK/NAME.log, records
# NAME's exit code and wall seconds in $WORK/steps.tsv
step() {
  local name="$1"; shift
  echo "[close] $name" >&2
  local t0; t0="$(date +%s%N)"
  "$@" > "$WORK/$name.log" 2>&1
  local rc=$?
  printf '%s\t%s\t%s\n' "$name" "$rc" \
    "$(( ($(date +%s%N) - t0) / 1000000 ))" >> "$WORK/steps.tsv"
  return $rc
}

for TIER in sf0.01 sf0.1; do
  step "verify_$TIER" tools/run_main.sh graft.Verify "$DATA/$TIER" "$WORK/out_$TIER"
  step "oracle_$TIER" python3 tools/check_oracle.py "$DATA/$TIER" \
    "$WORK/out_$TIER" --json "$WORK/oracle_$TIER.json"
done
step census env SPARK_GRAFT_SF_DIR="$DATA/sf0.01" \
  tools/run_main.sh graft.PlanCensus PLAN_CENSUS_BASELINE.json

python3 - "$WORK" "$OUT" "$COMMIT" "$SRC_TREE" "$DATA" <<'EOF'
import hashlib, json, os, re, sys, datetime
sys.dont_write_bytecode = True
sys.path.insert(0, "tools")
import duckdb
from check_oracle import norm_rows

work, out, commit, src_tree, data = sys.argv[1:]
steps = {}
for line in open(f"{work}/steps.tsv"):
    name, rc, ms = line.rstrip("\n").split("\t")
    steps[name] = {"exit": int(rc), "seconds": round(int(ms) / 1000, 1)}
failures = [f"step {n} exited {s['exit']}" for n, s in steps.items()
            if s["exit"] != 0 and not n.startswith("oracle_")]

def rows_hash(qdir):
    """sha256 of the result's columns and rows, normalized and sorted as
    check_oracle.py compares them."""
    rel = duckdb.sql(f"SELECT * FROM '{qdir}/*.parquet'")
    cols, rows = norm_rows(rel.columns, rel.fetchall())
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]

tiers = {}
for tier in ("sf0.01", "sf0.1"):
    res_dir = f"{work}/out_{tier}"
    log = open(f"{work}/verify_{tier}.log", errors="replace").read()
    verify_failed = sorted(set(re.findall(r"\[verify\] (\S+) failed", log)))
    gates = []
    if os.path.exists(f"{res_dir}/oracle_sql.json"):
        gates = sorted(json.load(open(f"{res_dir}/oracle_sql.json")))
    oracle = {}
    if os.path.exists(f"{work}/oracle_{tier}.json"):
        oracle = json.load(open(f"{work}/oracle_{tier}.json"))
    for name, row in oracle.items():
        if os.path.isdir(f"{res_dir}/{name}"):
            try:
                row["hash"] = rows_hash(f"{res_dir}/{name}")
            except Exception:
                row["hash"] = None
    passed = sorted(n for n, r in oracle.items() if r.get("hash_match"))
    not_passed = sorted(set(gates) - set(passed))
    failures += [f"{tier}: {n} failed in Verify" for n in verify_failed]
    failures += [f"{tier}: {n} did not pass the oracle compare"
                 for n in not_passed if n not in verify_failed]
    if not gates:
        failures.append(f"{tier}: Verify wrote no oracle_sql.json")
    tiers[tier] = {
        "gates": len(gates), "pass": len(passed),
        "verify_failed": verify_failed, "not_passed": not_passed,
        "verify_s": steps.get(f"verify_{tier}", {}).get("seconds"),
        "oracle_s": steps.get(f"oracle_{tier}", {}).get("seconds"),
        "results": oracle,
    }

census_log = open(f"{work}/census.log", errors="replace").read()
violations = re.findall(r"\[census-diff\] (.*)", census_log)
clean = any(v.startswith("clean") for v in violations)
census = {"sf": "sf0.01", "baseline": "PLAN_CENSUS_BASELINE.json",
          "clean": clean and steps["census"]["exit"] == 0,
          "violations": [v for v in violations if not v.startswith("clean")],
          "seconds": steps["census"]["seconds"]}
m = re.search(r'^\{"metric":"plan_census".*$', census_log, re.M)
if m:
    base = json.load(open("PLAN_CENSUS_BASELINE.json"))["queries"]
    cur = json.loads(m.group(0))["queries"]
    census["rows"] = len(cur)
    census["rows_differing_from_baseline"] = sorted(
        q for q in cur if base.get(q) != cur[q])
if not census["clean"]:
    failures.append("census diff not clean")

report = {
    "commit": commit, "src_tree": src_tree,
    "finished": datetime.datetime.now(datetime.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ"),
    "cores": int(os.environ["SPARK_GRAFT_CPUS"]), "nproc": os.cpu_count(),
    "data": {t: f"{data}/{t}" for t in tiers},
    "ok": not failures, "failures": failures,
    "steps": steps, "census": census, "tiers": tiers,
}
with open(out, "w") as f:
    json.dump(report, f, indent=1, sort_keys=True)
for t, r in tiers.items():
    print(f"[close] {t}: {r['pass']}/{r['gates']} pass "
          f"(verify {r['verify_s']} s, oracle {r['oracle_s']} s)")
print(f"[close] census: {'clean' if census['clean'] else 'NOT clean'}")
print(f"[close] wrote {out}: {'ok' if not failures else 'FAILED'}")
for f in failures:
    print(f"[close]   {f}")
sys.exit(0 if not failures else 1)
EOF
