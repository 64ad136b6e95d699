"""Agreement report over run records written by run.py.

    python3 perfbench/report.py A_DIR_OR_GLOB [B_DIR_OR_GLOB]

For each (end-to-end metric, workload) pair it prints each side's median
and quartiles over the untraced runs, the quartile spread as a share of
the median, and whether the two sides agree: the two medians differ, in
either direction, by no more than the metric's bound in BENCHMARK.json.
The wall-clock figures the run records keep follow, with no bound.
With one side it prints that side alone.  Then, from the traced runs, it
prints the tracing overhead (traced minus untraced median wall_s), the
share of iteration wall time that executors spend in tasks, and a layer
table per workload ordered by share of iteration time spent in
each layer's own code (self time).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WALL_CLOCK = [dict(name="wall_s", better="lower"),
              dict(name="throughput_rows_per_s", better="higher"),
              dict(name="latency_p50_ms", better="lower"),
              dict(name="latency_p90_ms", better="lower")]


def load(spec: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec)
                   else glob.glob(spec))
    out = []
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        if "wall_clock" in rec:  # records of this version of run.py
            out.append(rec)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a (negative: better)."""
    if a == 0:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def agreement(sides: list[list[dict]], spec: dict) -> list[str]:
    lines = []
    workloads = [w["name"] for w in spec["workloads"]]
    head = f"{'metric':26s} {'workload':14s}"
    for k in range(len(sides)):
        head += f" | {'side ' + 'AB'[k] + ' q1/median/q3':32s} spread"
    lines.append(head + ("  agree" if len(sides) == 2 else ""))
    for section, metrics in (("end_to_end", spec["end_to_end"]), ("wall_clock", WALL_CLOCK)):
        for m in metrics:
            for w in workloads:
                lines.append(_row(sides, section, m, w))
    return lines


def _row(sides: list[list[dict]], section: str, m: dict, w: str) -> str:
    row = f"{m['name']:26s} {w:14s}"
    meds = []
    for runs in sides:
        xs = [r[section][m["name"]] for r in runs
              if r["workload"] == w and r["trace"] == 0]
        if not xs:
            row += f" | {'-':32s}   -   "
            meds.append(None)
            continue
        q1, med, q3 = quartiles(xs)
        meds.append(med)
        row += f" | {q1:10.4g} {med:10.4g} {q3:10.4g} n={len(xs):<2d} {(q3 - q1) / med:6.3f}"
    if len(sides) == 2 and None not in meds:
        w_by = worse_by(meds[0], meds[1], m["better"])
        if "bound" in m:
            row += f"  {'yes' if abs(w_by) <= m['bound'] else 'NO'} ({w_by:+.3f} vs {m['bound']})"
        else:
            row += f"  ({w_by:+.3f}, no bound)"
    return row


def layers(runs: list[dict]) -> list[str]:
    lines = []
    for w in sorted({r["workload"] for r in runs}):
        traced = [r for r in runs if r["workload"] == w and r["trace"] == 1]
        plain = [r["wall_clock"]["wall_s"] for r in runs if r["workload"] == w and r["trace"] == 0]
        if not traced:
            continue
        t_wall = statistics.median(r["per_layer"]["trace.wall_s"] for r in traced)
        over = (f"{t_wall - statistics.median(plain):+.3f} s "
                f"({(t_wall / statistics.median(plain) - 1):+.1%})" if plain else "n/a")
        task = statistics.median(r["task_share"] for r in traced)
        lines.append(f"\n{w}: traced wall_s {t_wall:.3f} s, tracing overhead {over}, "
                     f"executor task time / wall {task:.2f}, {len(traced)} traced run(s)")
        share: dict[str, list[float]] = {}
        for r in traced:
            for row in r["layer_table"]:
                share.setdefault(row["layer"], []).append(row["share"])
        lines.append(f"  {'layer':45s} self-time share")
        for name, vals in sorted(share.items(), key=lambda kv: -statistics.median(kv[1])):
            lines.append(f"  {name:45s} {statistics.median(vals):6.1%}")
    return lines


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sides = [load(a) for a in argv]
    print("\n".join(agreement(sides, spec)))
    print("\n".join(layers([r for s in sides for r in s])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
