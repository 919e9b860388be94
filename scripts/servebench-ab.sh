#!/bin/bash
# A/B pairs of the serving benchmark: a parent revision against the current
# checkout (working tree included), on one workload and seed.
#
#   scripts/servebench-ab.sh <parent-rev> <workload> <seed> <pairs>
#
# The parent is cloned (`git clone`) into a temporary directory under
# ${TMPDIR:-/tmp} and removed on exit. Each pair runs
# `servebench/run.py` once on each side for BENCHMARK.json's run_seconds,
# after one unrecorded warm-up run per side; pair 1 runs the parent first
# and the order flips every pair. Each run's
# JSON result line goes to <dir>/runs.jsonl (the directory is printed).
# For every end-to-end metric of BENCHMARK.json the summary gives each side's
# median and quartiles, the change's wins over the parent (ties count for
# neither), the median difference against the parent's quartile spread, and
# a verdict:
#   gain        the change wins at least 0.9 of the pairs and its median is
#               better than the parent's by more than the parent's IQR
#   WORSE       the change's median is worse than the parent's by more than
#               the metric's BENCHMARK.json bound (a fraction of the parent's
#               median)
#   unresolved  neither, and the parent's IQR is wider than that bound
#   flat        neither, within the bound
# Each run's `correct` and `failed` values are printed too, and the script
# exits 1 if any run on either side failed a statement or answered one
# wrongly, so a median cannot hide a wrong answer.
# Nothing under servebench/ is written.
set -euo pipefail
if [ $# -ne 4 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed> <pairs>" >&2
  exit 2
fi
REV="$1"; WORKLOAD="$2"; SEED="$3"; PAIRS="$4"
ROOT="$(git rev-parse --show-toplevel)"
SECONDS_RUN="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$ROOT/BENCHMARK.json")"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/servebench-ab.XXXXXX")"
PARENT="$WORK/parent"
trap 'rm -rf "$PARENT"' EXIT
git clone --quiet "$ROOT" "$PARENT" >&2
git -C "$PARENT" checkout --quiet --detach "$(git -C "$ROOT" rev-parse "$REV^{commit}")" >&2
# one unrecorded short run per side builds it and makes its corpus and
# class-data archive, which a build's first run alone pays for
for d in "$PARENT" "$ROOT"; do
  (cd "$d" && python3 servebench/run.py --workload "$WORKLOAD" --seed "$SEED" \
    --seconds 1 --trace 0 >/dev/null 2>>"$WORK/stderr.log")
done

run() { # <side> <checkout> <pair>
  local line
  line="$(cd "$2" && python3 servebench/run.py --workload "$WORKLOAD" --seed "$SEED" \
    --seconds "$SECONDS_RUN" --trace 0 2>>"$WORK/stderr.log" | tail -n 1)"
  python3 -c 'import json,sys; r=json.loads(sys.argv[1]); r.update(side=sys.argv[2], pair=int(sys.argv[3])); print(json.dumps(r))' \
    "$line" "$1" "$3" >> "$WORK/runs.jsonl"
  echo "pair $3 $1 done" >&2
}
for p in $(seq 1 "$PAIRS"); do
  if [ $((p % 2)) -eq 1 ]; then
    run parent "$PARENT" "$p"; run change "$ROOT" "$p"
  else
    run change "$ROOT" "$p"; run parent "$PARENT" "$p"
  fi
done

echo "runs: $WORK/runs.jsonl" >&2
python3 - "$ROOT/BENCHMARK.json" "$WORK/runs.jsonl" "$WORKLOAD" "$SEED" <<'EOF'
import json, statistics, sys
bench = json.load(open(sys.argv[1]))
runs = [json.loads(l) for l in open(sys.argv[2])]
def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]
pairs = sorted({r["pair"] for r in runs})
side = lambda s, p: next(r for r in runs if r["side"] == s and r["pair"] == p)
print(f"workload={sys.argv[3]} seed={sys.argv[4]} pairs={len(pairs)}")
for p in pairs:
    print(f"pair {p}: " + "  ".join(
        f"{s} correct={json.dumps(side(s, p)['correct'])} failed={side(s, p)['failed']}"
        for s in ("parent", "change")))
print(f"{'metric':18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>6} {'diff':>10} {'parent iqr':>10}  verdict")
for m in bench["end_to_end"]:
    name, higher = m["name"], m["better"] == "higher"
    par = [side("parent", p)["metrics"][name]["value"] for p in pairs]
    chg = [side("change", p)["metrics"][name]["value"] for p in pairs]
    wins = sum((c > a) if higher else (c < a) for a, c in zip(par, chg))
    pq, cq = quartiles(par), quartiles(chg)
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    iqr, better = pq[2] - pq[0], (cq[1] - pq[1]) * (1 if higher else -1)
    if wins >= 0.9 * len(pairs) and better > iqr:
        verdict = "gain"
    elif -better > m["bound"] * abs(pq[1]):
        verdict = "WORSE"
    elif iqr > m["bound"] * abs(pq[1]):
        verdict = "unresolved"
    else:
        verdict = "flat"
    print(f"{name:18} {fmt(pq):>30} {fmt(cq):>30} {wins:>3}/{len(pairs):<2} "
          f"{cq[1] - pq[1]:>+10.4g} {iqr:>10.4g}  {verdict}")
bad = [r for r in runs if r["failed"] or not r["correct"]]
for r in bad:
    print(f"WRONG: {r['side']} pair {r['pair']} correct={json.dumps(r['correct'])} "
          f"failed={r['failed']}")
sys.exit(1 if bad else 0)
EOF
