#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py <parent records dir> <change records dir>

Each run of perfbench/run.py leaves a record in perfbench/.work/records/
of its checkout. Run both sides on the same seeds, alternating which side
runs first. For every workload and end-to-end metric this prints each
side's median and quartiles, the share of same-seed pairs the change won
(ties count for neither side) and a verdict against the metric's bound in
BENCHMARK.json:

  improved    the change won at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  the parent's spread is wider than the bound and not every
              change run beats every parent run
  no worse    otherwise

Traced runs (`--trace 1`) of the same seed on both sides are then diffed on
their deterministic counts per statement: jobs, stages, tasks and graft:cp
(checkpoint) jobs.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent
COUNTS = ("jobs", "stages", "tasks", "cp_jobs")


def load(d):
    """workload -> trace flag -> records in the order they were made."""
    out = defaultdict(lambda: defaultdict(list))
    for f in sorted(Path(d).rglob("*.json"), key=lambda p: int(p.stem.rsplit("-", 1)[1])):
        r = json.loads(f.read_text())
        out[r["workload"]][r["trace"]].append(r)
    return out


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def pairs_by_seed(pa, ch, name):
    """(parent, change) values of runs with the same seed, in run order."""
    left = defaultdict(list)
    for r in pa:
        left[r["seed"]].append(r["metrics"][name]["value"])
    out = []
    for r in ch:
        if left[r["seed"]]:
            out.append((left[r["seed"]].pop(0), r["metrics"][name]["value"]))
    return out


def verdict(a, b, pairs, lower_better, bound):
    q1a, ma, q3a = quartiles(a)
    _, mb, _ = quartiles(b)
    sign = 1 if lower_better else -1
    better = lambda x, y: sign * (y - x) > 0     # x better than y
    won = sum(better(y, x) for x, y in pairs) / len(pairs) if pairs else 0.0
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    spread = (q3a - q1a) / ma if ma else 0.0
    if won >= 0.9 and better(mb, ma) and abs(mb - ma) > q3a - q1a:
        v = "improved"
    elif spread > bound and not all(better(y, x) for x in a for y in b):
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return won, worse_by, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted(set(parent) | set(change)):
        print(f"== {wl}")
        pa, ch = parent[wl][0], change[wl][0]
        print(f"   untraced runs: parent {len(pa)}, change {len(ch)}")
        if pa and ch:
            print(f"   {'metric':<18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
                  f" {'won':>5} {'worse by':>9}  verdict (bound)"
                  f"   [{len(pairs_by_seed(pa, ch, 'setup_s'))} same-seed pairs]")
        for m in spec["end_to_end"] if pa and ch else []:
            name = m["name"]
            a = [r["metrics"][name]["value"] for r in pa if name in r["metrics"]]
            b = [r["metrics"][name]["value"] for r in ch if name in r["metrics"]]
            if not a or not b:
                continue
            won, worse_by, v = verdict(a, b, pairs_by_seed(pa, ch, name),
                                       m["better"] == "lower", m["bound"])
            fa = "/".join(f"{x:.4g}" for x in quartiles(a))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"   {name:<18} {fa:>30} {fb:>30} {won:>5.2f} {worse_by:>+9.3f}"
                  f"  {v} ({m['bound']})")
        fails = [(r["seed"], t) for r in pa + ch for t in r.get("first_error", {})]
        if fails:
            print(f"   failing templates (seed, template): {sorted(set(fails))}")
        diff_counts(parent[wl][1], change[wl][1])


def diff_counts(pa, ch):
    """Exact diff of per-statement counts between traced runs of one seed."""
    by_seed = {r["seed"]: r for r in pa}
    for rb in ch:
        ra = by_seed.get(rb["seed"])
        if ra is None:
            continue
        ca, cb = ra["counts"], rb["counts"]
        common = sorted(set(ca) & set(cb), key=int)
        tot = {k: [0, 0] for k in COUNTS}
        per_tpl = defaultdict(lambda: {k: [0, 0] for k in COUNTS})
        differ = 0
        for i in common:
            x, y = ca[i], cb[i]
            differ += any(x[k] != y[k] for k in COUNTS)
            for k in COUNTS:
                tot[k][0] += x[k]
                tot[k][1] += y[k]
                per_tpl[x["template"]][k][0] += x[k]
                per_tpl[x["template"]][k][1] += y[k]
        print(f"   counts, seed {rb['seed']}, {len(common)} statements run on both sides, "
              f"{differ} differ:")
        print("     " + "  ".join(f"{k} {a}->{b}" for k, (a, b) in tot.items()))
        for t, c in sorted(per_tpl.items()):
            if any(a != b for a, b in c.values()):
                print(f"     {t}: " + "  ".join(f"{k} {a}->{b}" for k, (a, b) in c.items()
                                                 if a != b))


if __name__ == "__main__":
    main()
