#!/usr/bin/env python3
"""Alternating parent/change pairs of one benchmark workload.

Usage:
  python3 tools/ab_pairs.py PARENT CHANGE --workload zh_registry \\
      [--pairs 10] [--seed 1] [--seconds 20]

PARENT and CHANGE are two checkouts of the repository. Pair i runs
`python3 zhbench/run.py --workload W --seed SEED+i --seconds S --trace 0`
once in each checkout, parent first on even i and change first on odd i.
Each checkout builds its own engine on its first run.

For every end-to-end metric in CHANGE's BENCHMARK.json it prints each
side's median and quartiles, the pairs the change wins, loses and ties,
and the gain verdict of the 10-pair rule: the change wins at least 9/10
of the pairs (a tie is not a win) and the medians differ by more than the
parent's interquartile range. It also prints whether the change's median
is within the metric's regression bound, and lists every run that failed,
returned `correct` false or counted `failed` > 0. The exit code is 1 when
such a run exists, else 0. Each run's end-to-end metrics go to standard
error as it finishes.

After the pairs it runs `--trace 1` once per side at the first seed and
prints the listener counts (`spark.jobs`, `spark.stages`, `spark.tasks`)
and every `sources.*`, `sinks.*`, `operators.*` and `plans.*` layer
metric side by side, with catalog_mix's per-family layer seconds
(`operators.build_s/q`, ...) from each traced run's `detail.json`, so the
count a change names can be read off the same invocation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


COUNTS = ("spark.jobs", "spark.stages", "spark.tasks")
LAYERS = ("sources.", "sinks.", "operators.", "plans.")


def run_once(checkout, workload, seed, seconds, trace=0):
    """One benchmark run; returns its result object, or None if it failed.
    A traced run's result also carries, under `family_layers`, the
    per-family layer seconds of its `detail.json` (`catalog_layers_s`)."""
    cmd = [sys.executable, "zhbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    out, err = p.communicate()
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(err[-2000:])
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    if trace:
        # run.py names its output folder after its own pid
        detail = os.path.join(checkout, ".bench_out",
                              f"{workload}-s{seed}-t{trace}-{p.pid}", "detail.json")
        try:
            with open(detail) as fh:
                layers = json.load(fh).get("catalog_layers_s", {})
            r["family_layers"] = {k: v for k, v in layers.items() if "/" in k}
        except (OSError, ValueError):
            pass
    return r


def quartiles(xs):
    """(Q1, median, Q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better):
    """Win count and the 10-pair gain rule for one metric's paired values."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (p - c) < 0)
    ties = len(parent) - wins - losses
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    gain = (sign * (pmed - cmed)) > 0
    gain = gain and wins >= 0.9 * len(parent) and abs(pmed - cmed) > (pq3 - pq1)
    return wins, losses, ties, gain


def note_bad(bad, side, seed, r):
    """Adds the run to `bad` when it failed, returned `correct` false or
    counted `failed` > 0."""
    if r is None or not r.get("correct") or r.get("failed", 0) > 0:
        bad.append((side, seed, None if r is None else
                    {k: r.get(k) for k in ("correct", "attempted", "failed")}))


def print_counts(traced, seed):
    """The traced runs' listener counts, layer metrics and per-family
    layer seconds."""
    mp, mc = ({k: v["value"] for k, v in traced[s]["metrics"].items()} if traced[s] else {}
              for s in ("parent", "change"))
    names = [n for n in COUNTS if n in mp or n in mc]
    names += sorted(n for n in set(mp) | set(mc) if n.startswith(LAYERS))
    fp, fc = (traced[s].get("family_layers", {}) if traced[s] else {}
              for s in ("parent", "change"))
    mp.update(fp)
    mc.update(fc)
    names += sorted(set(fp) | set(fc))
    print(f"traced (--trace 1) seed {seed}:")
    print(f"{'metric':30} {'parent':>14} {'change':>14}")
    for n in names:
        p, c = (f"{m[n]:.4g}" if n in m else "-" for m in (mp, mc))
        print(f"{n:30} {p:>14} {c:>14}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = {"parent": [], "change": []}
    bad = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds)
            runs[side].append(r)
            note_bad(bad, side, seed, r)
            got = "failed" if r is None else " ".join(
                f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                for m in metrics if m["name"] in r.get("metrics", {}))
            print(f"pair {i} seed {seed} {side}: {got}", file=sys.stderr, flush=True)

    # only pairs where both sides produced a result are compared
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    print(f"{a.workload}: {len(pairs)} of {a.pairs} pairs complete, "
          f"seeds {a.seed}-{a.seed + a.pairs - 1}, --seconds {a.seconds}")
    print(f"{'metric':24} {'parent median [Q1-Q3]':>30} {'change median [Q1-Q3]':>30} "
          f"{'W/L/T':>8} {'gain':>5} {'bound':>6}")
    for m in metrics:
        name = m["name"]
        vals = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                for p, c in pairs if name in p["metrics"] and name in c["metrics"]]
        if not vals:
            continue
        pv, cv = [v[0] for v in vals], [v[1] for v in vals]
        wins, losses, ties, gain = verdict(pv, cv, m["better"])
        pq1, pmed, pq3 = quartiles(pv)
        cq1, cmed, cq3 = quartiles(cv)
        worse = (cmed - pmed) if m["better"] == "lower" else (pmed - cmed)
        within = worse <= m["bound"] * abs(pmed)
        print(f"{name:24} {f'{pmed:.4g} [{pq1:.4g}-{pq3:.4g}]':>30} "
              f"{f'{cmed:.4g} [{cq1:.4g}-{cq3:.4g}]':>30} "
              f"{f'{wins}/{losses}/{ties}':>8} {'yes' if gain else 'no':>5} "
              f"{'ok' if within else 'OVER':>6}")
    traced = {}
    for side in ("parent", "change"):
        traced[side] = run_once(sides[side], a.workload, a.seed, a.seconds, trace=1)
        note_bad(bad, side, f"{a.seed} (traced)", traced[side])
    print_counts(traced, a.seed)
    for side, seed, what in bad:
        print(f"bad run: {side} seed {seed}: {what or 'no result'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
