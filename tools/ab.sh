#!/usr/bin/env bash
# Paired A/B of two revisions on one perfbench workload.
#
# Usage: tools/ab.sh <parent-rev> <change-rev> <workload> <seeds> [pairs]
#   <seeds>  comma list (301,302) or range (301-310); pair i runs seed
#            i mod len(seeds), so 10 pairs over 301-310 is one pair a seed
#   [pairs]  default 10
#
# Each rev is `git archive`d once into $AB_WORK/<rev> (default: .ab/ in
# the checkout); both copies share one .bench_build/data cache, so a seed's
# generated inputs are made once. Pair i runs `perfbench/run.py --workload
# <workload> --seed <s>` in both copies, the parent first in even pairs
# and the change first in odd ones. Every run's stdout stays in
# $AB_WORK/logs. The report gives, for each end-to-end metric of
# BENCHMARK.json: each side's median and q1/q3, change/parent, the pairs
# the change won, and the verdict against the metric's bound; then, per
# seed, whether the output hashes and the perplexity ratios are equal.
# Nothing under perfbench/ is changed.
#
# Exit status: 0 when the change passes; 1 when any run failed, an
# end-to-end metric is worse than its bound or has no data, or a seed's
# output hash or perplexity ratio differs between the two sides (the
# report's last line names which).
set -euo pipefail
if [[ $# -lt 4 ]]; then
  sed -n '2,9p' "$0" >&2
  exit 2
fi
top="$(cd "$(dirname "$0")/.." && pwd)"
parent="$(git -C "$top" rev-parse --short=12 "$1^{commit}")"
change="$(git -C "$top" rev-parse --short=12 "$2^{commit}")"
workload="$3"
pairs="${5:-10}"
if [[ "$4" =~ ^([0-9]+)-([0-9]+)$ ]]; then
  seeds=($(seq "${BASH_REMATCH[1]}" "${BASH_REMATCH[2]}"))
else
  IFS=, read -r -a seeds <<<"$4"
fi
work="${AB_WORK:-$top/.ab}"
mkdir -p "$work/data" "$work/logs"

for rev in "$parent" "$change"; do
  if [[ ! -d "$work/$rev" ]]; then
    mkdir -p "$work/$rev.tmp"
    git -C "$top" archive "$rev" | tar -x -C "$work/$rev.tmp"
    mkdir -p "$work/$rev.tmp/.bench_build"
    ln -s "$work/data" "$work/$rev.tmp/.bench_build/data"
    mv "$work/$rev.tmp" "$work/$rev"
  fi
done

tsv="$work/logs/$workload-$parent-$change.tsv"
: >"$tsv"
run() { # <rev> <seed> <pair>
  local log="$work/logs/$workload-$1-$2-p$3.out"
  echo "[ab] pair $3 seed $2 $1" >&2
  (cd "$work/$1" && python3 perfbench/run.py --workload "$workload" --seed "$2") \
    >"$log" 2>"$log.err" || echo "[ab] run failed: $log.err" >&2
  printf '%s\t%s\t%s\t%s\n' "$3" "$1" "$2" "$log" >>"$tsv"
}
for ((i = 0; i < pairs; i++)); do
  seed="${seeds[$((i % ${#seeds[@]}))]}"
  if ((i % 2 == 0)); then
    run "$parent" "$seed" "$i"; run "$change" "$seed" "$i"
  else
    run "$change" "$seed" "$i"; run "$parent" "$seed" "$i"
  fi
done

python3 - "$top/BENCHMARK.json" "$tsv" "$parent" "$change" "$workload" <<'EOF'
import json, statistics, sys

bench, tsv, parent, change, workload = sys.argv[1:]
e2e = json.load(open(bench))["end_to_end"]

def parse(log):
    """The run's metrics, output hash and correctness, from its stdout."""
    out = dict(metrics={}, hash=None, correct=False, cores=None)
    try:
        lines = open(log).read().splitlines()
    except OSError:
        return out
    for l in lines:
        if l.startswith("# "):
            kv = dict(p.split("=", 1) for p in l[2:].split() if "=" in p)
            out["hash"], out["cores"] = kv.get("output_hash"), kv.get("cores")
        elif l.startswith("{"):
            r = json.loads(l)
            out["correct"] = r["correct"]
            out["metrics"] = {k: v["value"] for k, v in r["metrics"].items()}
    return out

runs = {}
for line in open(tsv):
    pair, rev, seed, log = line.rstrip("\n").split("\t")
    runs[(int(pair), rev)] = dict(parse(log), seed=seed)
pairs = sorted({p for p, _ in runs})

def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]

cores = {r["cores"] for r in runs.values() if r["cores"]}
bad = sum(1 for r in runs.values() if not r["correct"])
fails = [f"{bad} failed runs"] if bad else []
print(f"{workload}: parent {parent} vs change {change}, {len(pairs)} pairs, "
      f"cores {','.join(sorted(cores)) or '?'}, failed runs {bad}/{len(runs)}")
print("| metric | parent median (q1-q3) | change median (q1-q3) | change/parent "
      "| change won | verdict |")
print("|---|---|---|---|---|---|")
for m in e2e:
    name, lower = m["name"], m["better"] == "lower"
    both = [(runs[(p, parent)]["metrics"].get(name), runs[(p, change)]["metrics"].get(name))
            for p in pairs if (p, parent) in runs and (p, change) in runs]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    if not both:
        print(f"| `{name}` | - | - | - | - | no data |")
        fails.append(f"{name} has no data")
        continue
    a = [x for x, _ in both]
    b = [y for _, y in both]
    ma, mb = statistics.median(a), statistics.median(b)
    qa, qb = quart(a), quart(b)
    ratio = mb / ma if ma else float("nan")
    won = sum(1 for x, y in both if (y < x if lower else y > x))
    worse = ratio - 1 if lower else 1 - ratio
    if worse > m["bound"]:
        verdict = f"WORSE beyond the {m['bound']} bound"
        fails.append(f"{name} worse than its bound")
    elif won * 10 >= 9 * len(both) and (ma - mb if lower else mb - ma) > qa[1] - qa[0]:
        verdict = "better (>=9/10 pairs, median gap > parent IQR)"
    else:
        verdict = f"within the {m['bound']} bound"
    print(f"| `{name}` | {ma:.6g} ({qa[0]:.6g}-{qa[1]:.6g}) | {mb:.6g} "
          f"({qb[0]:.6g}-{qb[1]:.6g}) | {ratio:.3f} | {won}/{len(both)} | {verdict} |")
print("| seed | parent output_hash | change output_hash | hash equal | perplexity_ratio equal |")
print("|---|---|---|---|---|")
for seed in sorted({r["seed"] for r in runs.values()}, key=int):
    def side(rev, get):
        return sorted({str(get(r)) for (_, v), r in runs.items() if v == rev and r["seed"] == seed})
    hp, hc = (side(v, lambda r: r["hash"] or "-") for v in (parent, change))
    pp, pc = (side(v, lambda r: r["metrics"].get("perplexity_ratio", "-")) for v in (parent, change))
    eq = lambda a, b: "yes" if a == b and "-" not in a else "NO"
    print(f"| {seed} | {','.join(hp)} | {','.join(hc)} | {eq(hp, hc)} | {eq(pp, pc)} |")
    if eq(hp, hc) != "yes" or eq(pp, pc) != "yes":
        fails.append(f"seed {seed} output differs")
print("result: " + ("FAIL: " + "; ".join(fails) if fails else "PASS"))
sys.exit(1 if fails else 0)
EOF
