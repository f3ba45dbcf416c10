#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code, compared against
the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--workloads cdc_apply ...] [--md FILE]

Each workload runs `--runs` times per set, each run with its own seed
(set A: first-seed + i, set B: first-seed + 100 + i). The runs of the two
sets alternate, workload by workload, so a slow period of the host falls
on both sets alike. Per set and end-to-end metric it reports the median
and the quartile spread (Q3 - Q1) / median, with
statistics.quantiles(values, n=4). The check fails (exit 1) if

  * a run fails,
  * a spread exceeds the metric's bound (setup_s included), or
  * for any metric (setup_s included), either set's median is worse than
    the other's by more than the bound, in either direction.

Spreads at or above a third of the bound are marked `wide`: they meet
the bound but leave little room for noise. With --sets 1 only the
spreads are checked. Results go to --out as JSON and with --md also as
markdown tables.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec, workload, seed):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(spec["run_seconds"]), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, wall
    return json.loads(lines[-1]), wall


def summarize(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": values,
            "within_bound": spread <= bound, "wide": spread >= bound / 3}


def worsening(a, b, better):
    """How much worse b is than a, as a share of a (negative: better)."""
    return (b - a) / a if better == "lower" else (a - b) / a


def render_md(report, metrics):
    sets = report["sets"]
    out = []
    for s in range(sets):
        out += [f"### Set {'AB'[s]} (seeds {report['seeds'][s][0]}–{report['seeds'][s][-1]})", "",
                "| workload | metric | median | Q1 | Q3 | spread | bound | spread < bound/3 |",
                "|---|---|---|---|---|---|---|---|"]
        for w, r in report["workloads"].items():
            for m, v in r["sets"][s].items():
                out.append(f"| {w} | {m} | {v['median']:.4g} | {v['q1']:.4g} | {v['q3']:.4g} | "
                           f"{v['spread']:.3f} | {metrics[m]['bound']} | {'no' if v['wide'] else 'yes'} |")
        out.append("")
    if sets == 2:
        out += ["### Medians of the two sets", "",
                "| workload | metric | median A | median B | B worse than A | A worse than B | bound |",
                "|---|---|---|---|---|---|---|"]
        for w, r in report["workloads"].items():
            for m, c in r["compare"].items():
                out.append(f"| {w} | {m} | {c['a']:.4g} | {c['b']:.4g} | {100 * c['b_worse']:+.1f} % | "
                           f"{100 * c['a_worse']:+.1f} % | {metrics[m]['bound']} |")
        out.append("")
    return "\n".join(out)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out", default=os.path.join(HERE, "out", "steadiness.json"))
    ap.add_argument("--md")
    a = ap.parse_args()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    seeds = [[a.first_seed + 100 * s + i for i in range(a.runs)] for s in range(a.sets)]
    values = {w: [{m: [] for m in metrics} for _ in range(a.sets)] for w in a.workloads}
    walls = {w: [[] for _ in range(a.sets)] for w in a.workloads}
    ok = True
    for w in a.workloads:
        for i in range(a.runs):
            for s in range(a.sets):
                res, wall = run_once(spec, w, seeds[s][i])
                walls[w][s].append(wall)
                if res is None or not res["correct"]:
                    print(f"{w} seed {seeds[s][i]}: run failed", file=sys.stderr)
                    ok = False
                    continue
                for m in metrics:
                    values[w][s][m].append(res["metrics"][m]["value"])
                print(f"{w} set {'AB'[s]} seed {seeds[s][i]}: " + " ".join(
                    f"{m}={res['metrics'][m]['value']:.4g}" for m in metrics) + f" wall={wall:.0f}s",
                    file=sys.stderr)
    report = {"sets": a.sets, "seeds": seeds, "workloads": {}}
    for w in a.workloads:
        r = {"wall_s": walls[w], "sets": [], "compare": {}}
        for s in range(a.sets):
            r["sets"].append({m: summarize(vs, metrics[m]["bound"])
                              for m, vs in values[w][s].items() if len(vs) >= 4})
            for m, v in r["sets"][s].items():
                ok &= v["within_bound"]
                print(f"{w:18s} set {'AB'[s]} {m:17s} median={v['median']:10.4g} "
                      f"spread={v['spread']:6.3f} bound={metrics[m]['bound']}"
                      f"{'' if v['within_bound'] else ' OVER BOUND'}{' wide' if v['wide'] else ''}")
        if a.sets == 2:
            for m in [m for m in metrics if m in r["sets"][0] and m in r["sets"][1]]:
                ma, mb = r["sets"][0][m]["median"], r["sets"][1][m]["median"]
                better = metrics[m]["better"]
                c = {"a": ma, "b": mb, "b_worse": worsening(ma, mb, better),
                     "a_worse": worsening(mb, ma, better)}
                c["within_bound"] = max(c["b_worse"], c["a_worse"]) <= metrics[m]["bound"]
                ok &= c["within_bound"]
                r["compare"][m] = c
                print(f"{w:18s} {m:17s} B worse than A {100 * c['b_worse']:+6.1f} %, "
                      f"A worse than B {100 * c['a_worse']:+6.1f} %"
                      f"{'' if c['within_bound'] else ' OVER BOUND'}")
        report["workloads"][w] = r
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
    if a.md:
        with open(a.md, "w") as fh:
            fh.write(render_md(report, metrics))
    print("steadiness: " + ("PASS" if ok else "FAIL"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
