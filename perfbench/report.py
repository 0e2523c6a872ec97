"""Summaries over the per-run detail files ``run.py`` keeps in
``.perfbench_work/results/``.

    python3 perfbench/report.py spread  [--workload W]   # IQR/median per metric
    python3 perfbench/report.py trace   [--workload W]   # overhead, repeatable counts

``spread`` takes every untraced run of a workload and prints, per
end-to-end metric, the median, the quartiles (``statistics.quantiles``,
n=4) and the inter-quartile distance as a share of the median next to
the metric's bound.  ``trace`` compares traced runs with untraced ones
of the same workload (tracing overhead on every end-to-end metric) and
lists which per-layer counts read exactly the same in every traced run
of one seed — only those can carry a count-based claim.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RESULTS = ROOT / ".perfbench_work" / "results"
COUNT_SUFFIXES = ("_jobs", "bytes_written", "files_written", "shuffle_bytes", "input_bytes")


def load(workload: str | None) -> list[dict]:
    out = []
    for p in sorted(RESULTS.glob("*.json")):
        d = json.loads(p.read_text())
        if workload is None or d["workload"] == workload:
            out.append(d)
    return out


def spread(workload: str | None) -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs = defaultdict(list)
    for d in load(workload):
        if not d["trace"]:
            runs[d["workload"]].append(d)
    for wl, ds in runs.items():
        print(f"{wl}: {len(ds)} untraced runs, seeds {sorted(d['seed'] for d in ds)}")
        for m in spec["end_to_end"]:
            v = [d["end_to_end"][m["name"]] for d in ds]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            share = (q3 - q1) / med if med else float("nan")
            flag = "" if share <= m["bound"] / 3 else "  <-- above bound/3"
            print(f"  {m['name']:<24} median {med:12.4f} {m['unit']:<4} q1 {q1:12.4f} q3 {q3:12.4f}"
                  f"  iqr/median {share:6.3f} (bound {m['bound']}){flag}")  # fmt: skip


def trace(workload: str | None) -> None:
    by_wl = defaultdict(lambda: {"t0": [], "t1": []})
    for d in load(workload):
        by_wl[d["workload"]]["t1" if d["trace"] else "t0"].append(d)
    for wl, sides in by_wl.items():
        t0, t1 = sides["t0"], sides["t1"]
        print(f"{wl}: {len(t1)} traced, {len(t0)} untraced runs")
        if t0 and t1:
            for name in t1[0]["end_to_end"]:
                a = statistics.median(d["end_to_end"][name] for d in t0)
                b = statistics.median(d["end_to_end"][name] for d in t1)
                print(f"  overhead {name:<24} untraced {a:12.4f} traced {b:12.4f} ({100 * (b - a) / a:+.1f}%)")
        by_seed = defaultdict(list)
        for d in t1:
            by_seed[d["seed"]].append(d["per_layer"])
        for seed, layers in by_seed.items():
            if len(layers) < 2:
                print(f"  seed {seed}: one traced run; run it again to test repeatability")
                continue
            for k in sorted(layers[0]):
                if k.endswith(COUNT_SUFFIXES):
                    vals = {x[k] for x in layers}
                    print(f"  seed {seed} {k:<36} {'repeats exactly' if len(vals) == 1 else f'varies {sorted(vals)}'}")
        if t1:
            print("  self time per span (s), median over traced runs:")
            names = sorted({n for d in t1 for n in d.get("self_times_s", {})})
            for n in names:
                v = [d["self_times_s"].get(n, 0.0) for d in t1]
                print(f"    {n:<40} {statistics.median(v):10.3f}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=("spread", "trace"))
    ap.add_argument("--workload")
    args = ap.parse_args()
    (spread if args.what == "spread" else trace)(args.workload)


if __name__ == "__main__":
    main()
