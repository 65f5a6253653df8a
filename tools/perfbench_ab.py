#!/usr/bin/env python3
"""Alternating parent/change A/B of perfbench/run.py from two checkouts.

Runs N pairs of `python3 perfbench/run.py --workload W --seed S
--seconds T --trace X`, one run in each checkout per pair, alternating
which side goes first (pair 0: parent first, pair 1: change first, ...).
Each run is the unmodified benchmark started from its own checkout, so
both sides build and run with the same benchmark code and settings as
long as the two checkouts' `perfbench/` directories are identical (the
script refuses to start otherwise).

Writes one JSON artifact with every run's metrics and env line, and per
workload and metric: each side's median and quartiles, the parent's
interquartile range, the change's relative median shift, and the
change's win fraction over the pairs (ties count for neither side).
Directions (lower/higher is better) come from BENCHMARK.json.

    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload daily_load --seeds 601-610 --seconds 12 \\
        --out artifacts/perfbench_ab_prN.json

Several --workload flags run their pairs one workload after another.
With --append, runs already in --out are kept and the summary is
recomputed over all of them (to add seeds to an artifact).
"""

import argparse
import filecmp
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        else:
            seeds.append(int(part))
    return seeds


def same_tree(a, b):
    """True when directories a and b hold the same files with the same
    bytes, build outputs (sbt's target directories) aside."""
    cmp = filecmp.dircmp(a, b, ignore=["__pycache__", "target"])
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def run_one(checkout, workload, seed, seconds, trace, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.time() - t0
    log.write(p.stderr)
    log.flush()
    env, result = None, None
    for line in p.stdout.splitlines():
        if not line.startswith("{"):
            continue
        doc = json.loads(line)
        if "env" in doc:
            env = doc["env"]
        elif "metrics" in doc:
            result = doc
    if p.returncode != 0 or result is None:
        return {"ok": False, "exit": p.returncode, "wall_s": wall,
                "stdout_tail": p.stdout[-2000:], "stderr_tail": p.stderr[-2000:]}
    return {"ok": True, "wall_s": wall, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}, "env": env}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, better):
    """Per workload and metric: side medians/quartiles and the change's wins."""
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        ok = [r for r in runs if r["workload"] == w and r["ok"]]
        by_seed = {}
        for r in ok:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r
        pairs = [v for _, v in sorted(by_seed.items()) if "parent" in v and "change" in v]
        names = sorted({k for r in ok for k in r["metrics"]})
        rows = {}
        for m in names:
            par = [p["parent"]["metrics"][m] for p in pairs if m in p["parent"]["metrics"]]
            chg = [p["change"]["metrics"][m] for p in pairs if m in p["change"]["metrics"]]
            if not par or not chg:
                continue
            pq, cq = quartiles(par), quartiles(chg)
            row = {"parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
                   "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
                   "parent_iqr": pq[2] - pq[0],
                   "median_shift": (cq[1] - pq[1]) / pq[1] if pq[1] else None}
            d = better.get(m)
            if d in ("lower", "higher"):
                sign = -1 if d == "lower" else 1
                wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
                losses = sum(1 for a, b in zip(par, chg) if sign * (b - a) < 0)
                row.update({"better": d, "change_wins": wins, "change_losses": losses,
                            "win_fraction": wins / len(par),
                            "gap_exceeds_parent_iqr": sign * (cq[1] - pq[1]) > pq[2] - pq[0]})
            rows[m] = row
        out[w] = {"pairs": len(pairs), "runs": len([r for r in runs if r["workload"] == w]),
                  "failed_runs": len([r for r in runs if r["workload"] == w and not r["ok"]]),
                  "incorrect_runs": len([r for r in ok if not r["correct"]]),
                  "metrics": rows}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 601-610 or 601,605,607")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--append", action="store_true")
    ap.add_argument("--log", help="file to collect the runs' stderr in (default: dropped)")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for s, d in sides.items():
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            raise SystemExit(f"perfbench_ab: no perfbench/run.py under the {s} checkout {d}")
    if not same_tree(os.path.join(sides["parent"], "perfbench"),
                     os.path.join(sides["change"], "perfbench")):
        raise SystemExit("perfbench_ab: the two checkouts' perfbench/ differ; "
                         "an A/B must run identical benchmark code")
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    runs = []
    if a.append and os.path.exists(a.out):
        with open(a.out) as f:
            runs = json.load(f)["runs"]
    seeds = parse_seeds(a.seeds)
    with open(a.log or os.devnull, "a") as log:
        for w in a.workload:
            for i, seed in enumerate(seeds):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    r = run_one(sides[side], w, seed, a.seconds, a.trace, log)
                    r.update({"side": side, "workload": w, "seed": seed, "pair": i,
                              "first": side == order[0]})
                    runs.append(r)
                    shown = (f"op_cpu_s={r['metrics'].get('op_cpu_s', float('nan')):.3f} "
                             f"correct={r['correct']}") if r["ok"] else f"FAILED exit={r['exit']}"
                    print(f"perfbench_ab: {w} seed={seed} {side}: {shown} ({r['wall_s']:.0f}s)",
                          flush=True)
                    doc = {"what": f"perfbench/run.py --seconds {a.seconds:g} --trace {a.trace}, "
                                   "parent vs change, alternating which side runs first",
                           "nproc": os.cpu_count(), "runs": runs,
                           "summary": summarize(runs, better)}
                    tmp = a.out + ".tmp"
                    with open(tmp, "w") as f:
                        json.dump(doc, f, indent=1)
                    os.replace(tmp, a.out)
    for w, s in doc["summary"].items():
        print(f"perfbench_ab: {w}: {s['pairs']} pairs, {s['failed_runs']} failed runs, "
              f"{s['incorrect_runs']} incorrect")
        for m, row in s["metrics"].items():
            if m in {e["name"] for e in bench["end_to_end"]}:
                print(f"  {m}: parent {row['parent']['median']:.6g} "
                      f"[{row['parent']['q1']:.6g}, {row['parent']['q3']:.6g}] -> change "
                      f"{row['change']['median']:.6g} [{row['change']['q1']:.6g}, "
                      f"{row['change']['q3']:.6g}]  wins {row.get('change_wins')}/{s['pairs']}")


if __name__ == "__main__":
    main()
