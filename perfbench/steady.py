"""Steadiness check: run one workload N times and summarize each metric.

    python3 perfbench/steady.py --workload tick_analytics --runs 10 --sets 2
    python3 perfbench/steady.py --workload folio_gather --runs 3 --overhead

Runs BENCHMARK.json's command from the repository root with seeds
``--first-seed``, ``--first-seed + 1``, ... and the file's
``run_seconds``.  For every end-to-end metric it prints the median, the
quartiles (``statistics.quantiles(n=4)``), the spread (quartile distance
over the median), the worst run-to-run difference over the median, and
the metric's bound; the failed share must be the same in every run.
The unlisted figures of the run's ``perfbench: detail`` line
(``cpu_s_per_op`` and the wall-clock ``ops_per_s`` and
``kind_p50_geomean_s``) follow in the same form, without a bound.
Each run's line also gives the share of CPU ticks the host stole from
this VM while it ran (/proc/stat), the usual cause of a slow outlier.

``--sets K`` repeats the whole set K times and prints how far each
later set's median lies from the first set's, against the bound.

``--overhead`` runs each seed twice, untraced then traced, and prints
the traced run's end-to-end figures minus the untraced run's (the
traced figures come from the run's ``perfbench: detail`` line).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def run_once(spec: dict, workload: str, seed: int, trace: int, seconds: float) -> tuple[dict, dict, float]:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    steal0, total0 = cpu_ticks()
    proc = subprocess.run(cmd, cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    steal1, total1 = cpu_ticks()
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    record = json.loads(proc.stdout.strip().splitlines()[-1])
    detail = {}
    for line in proc.stderr.splitlines():
        if line.startswith("perfbench: detail "):
            detail = json.loads(line[len("perfbench: detail "):])
    detail["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    return record, detail, wall


def summarize(values: list[float]) -> dict[str, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "worst_diff": (max(values) - min(values)) / med if med else 0.0,
    }


def run_set(spec: dict, args, bounds: dict[str, float]) -> tuple[dict[str, list[float]], set[float]]:
    """One set of ``--runs`` runs, seeds ``--first-seed`` on; prints its
    table and returns each metric's values and the failed shares seen."""
    seconds = spec["run_seconds"]
    values: dict[str, list[float]] = {m: [] for m in bounds}
    clock: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {m: [] for m in bounds}
    shares, walls, kinds = set(), [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        record, detail, wall = run_once(spec, args.workload, seed, 0, seconds)
        walls.append(wall)
        shares.add(record["failed"] / record["attempted"])
        kinds.append(detail.get("kinds", {}))
        for m, v in detail.get("unlisted", {}).items():
            clock.setdefault(m, []).append(v)
        if not record["correct"]:
            print(f"seed {seed}: correct is false", file=sys.stderr)
        for m in bounds:
            values[m].append(record["metrics"][m]["value"])
        if args.overhead:
            _, tdetail, _ = run_once(spec, args.workload, seed, 1, seconds)
            for m in bounds:
                traced[m].append(tdetail["end_to_end"][m])
        print(
            f"seed {seed}: wall {wall:.1f} s, cpu steal {detail['steal_share']:.1%}, "
            f"rounds {len(detail['round_s'])}, failed {record['failed']}/{record['attempted']}, "
            + ", ".join(f"{m} {vals[-1]:.4g}" for m, vals in [*values.items(), *clock.items()]),
            file=sys.stderr,
        )
    print(f"{args.workload}: {args.runs} runs of {seconds} s, wall per run median {statistics.median(walls):.1f} s")
    print(f"{'metric':<22}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>9}{'worst':>9}{'bound':>7}  steady")
    for m, vals in [*values.items(), *clock.items()]:
        s = summarize(vals)
        if m in bounds:
            bound = f"{bounds[m]:>7.2f}  " + ("yes" if s["spread"] <= bounds[m] / 3 else "no")
        else:
            bound = "      -  (not listed)"
        print(
            f"{m:<22}{s['median']:>10.4g}{s['q1']:>10.4g}{s['q3']:>10.4g}"
            f"{s['spread']:>9.3f}{s['worst_diff']:>9.3f}{bound}"
        )
    print(f"failed share: {sorted(shares)} ({'same in every run' if len(shares) == 1 else 'DIFFERS'})")
    names = sorted({k for d in kinds for k in d})
    for field, label in (("p50_s", "wall"), ("cpu_p50_s", "CPU")):
        print(f"per-kind {label} p50 (s), median over runs: " + ", ".join(
            f"{k} {statistics.median(d[k][field] for d in kinds if k in d):.3f}" for k in names
        ))
    if args.overhead:
        print("tracing overhead (traced minus untraced, median of per-seed differences):")
        for m in bounds:
            diffs = [t - u for t, u in zip(traced[m], values[m])]
            base = statistics.median(values[m])
            print(f"  {m:<22}{statistics.median(diffs):>+10.4g}  ({statistics.median(diffs) / base:+.1%})")
    sys.stdout.flush()
    return values, shares


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--sets", type=int, default=1, help="repeat the whole set of runs and compare medians")
    p.add_argument("--overhead", action="store_true", help="pair each untraced run with a traced one")
    args = p.parse_args(argv)
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = [run_set(spec, args, bounds) for _ in range(args.sets)]
    if len(sets) > 1:
        print("set-to-set change of the median (later set over the first), against the bound:")
        for m in bounds:
            first = statistics.median(sets[0][0][m])
            changes = [statistics.median(vals[m]) / first - 1 for vals, _ in sets[1:]]
            ok = all(abs(c) <= bounds[m] for c in changes)
            print(f"  {m:<22}" + "".join(f"{c:>+9.3f}" for c in changes) + f"{bounds[m]:>7.2f}  {'within' if ok else 'OUTSIDE'}")
        same = len(set().union(*(shares for _, shares in sets))) == 1
        print(f"failed share {'the same in every set' if same else 'DIFFERS between sets'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
