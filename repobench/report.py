"""Summaries over the run records in ``.bench_run/results/``.

    python3 repobench/report.py spread   [records...]  # run-to-run spread per metric
    python3 repobench/report.py overhead [records...]  # traced minus untraced, same seed
    python3 repobench/report.py layers   <record>      # per-layer table of a traced run

Without record arguments, every record under ``.bench_run/results/`` is read.
Only full-size runs that passed are summarised.
"""

from __future__ import annotations

import glob
import json
import statistics
import sys

from metrics import END_TO_END, SPANS
from spans import SPAN_FIELDS


def load(paths: list[str]) -> list[dict]:
    paths = paths or sorted(glob.glob(".bench_run/results/*.json"))
    recs = []
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        if r.get("result") and not r.get("tiny") and not r.get("perturb"):
            recs.append(r)
    return recs


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def cmd_spread(recs: list[dict]) -> None:
    for w in sorted({r["workload"] for r in recs}):
        runs = [r for r in recs if r["workload"] == w and r["trace"] == 0]
        if not runs:
            continue
        conc = sum(r["host"]["concurrent_bench_workers"] > 0 for r in runs)
        steal = max(r["host"]["steal_share_run"] for r in runs)
        load = [round(r["host"]["loadavg_start"][0], 2) for r in runs]
        print(f"## {w}: {len(runs)} runs, seeds {sorted(r['seed'] for r in runs)}")
        print(f"runs beside another benchmark run: {conc}; max steal share: {steal:.3f}; "
              f"1-min load at start: {load}")
        print("| metric | median | IQR / median |")
        print("|---|---|---|")
        for m in END_TO_END:
            vals = [r["result"]["end_to_end"][m["name"]] for r in runs]
            med, s = spread(vals)
            print(f"| {m['name']} | {med:.4g} {m['unit']} | {s:.3f} |")
        print()


def cmd_overhead(recs: list[dict]) -> None:
    print("| workload | seed | cycle_s untraced | cycle_s traced | traced - untraced |")
    print("|---|---|---|---|---|")
    diffs: dict[str, list[float]] = {}
    for w in sorted({r["workload"] for r in recs}):
        for seed in sorted({r["seed"] for r in recs if r["workload"] == w}):
            by = {
                t: [r["result"]["end_to_end"]["cycle_s"] for r in recs
                    if r["workload"] == w and r["seed"] == seed and r["trace"] == t]
                for t in (0, 1)
            }
            if by[0] and by[1]:
                u, t = statistics.median(by[0]), statistics.median(by[1])
                diffs.setdefault(w, []).append(t - u)
                print(f"| {w} | {seed} | {u:.3f} s | {t:.3f} s | {t - u:+.3f} s ({(t - u) / u:+.1%}) |")
    for w, d in diffs.items():
        print(f"\n{w}: median tracing overhead {statistics.median(d):+.3f} s per cycle over {len(d)} seed(s)")


def cmd_layers(recs: list[dict]) -> None:
    for r in recs:
        if r["trace"] != 1:
            continue
        res = r["result"]
        print(f"## {r['workload']} seed {r['seed']} (traced, {res['detail']['cycles']} cycle(s))")
        print("| span | calls | " + " | ".join(SPAN_FIELDS) + " |")
        print("|---|---|" + "---|" * len(SPAN_FIELDS))
        for name in SPANS:
            s = res["per_span"].get(name)
            if s:
                cells = " | ".join(f"{s[f]:.4g}" for f in SPAN_FIELDS)
                print(f"| {name} | {s['calls']} | {cells} |")
        t = res["workload_totals"]
        print(f"\ngc_s per cycle {t['gc_s']:.3f}; spill_bytes per cycle {t['spill_bytes']:.0f}; "
              f"artifact hits {t['artifact_hits']} of {t['artifact_lookups']} lookups\n")


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in ("spread", "overhead", "layers"):
        print(__doc__, file=sys.stderr)
        return 2
    recs = load(sys.argv[2:])
    {"spread": cmd_spread, "overhead": cmd_overhead, "layers": cmd_layers}[sys.argv[1]](recs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
