"""One benchmark run inside its own session; started by ``run.py``.

Sets up the workload several times (``setup_s`` is the median), runs its
cycles closed-loop for the requested seconds, checks every output outside
the timed region and writes the result JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from procs import session_cpu_s, session_members  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402



def watch_parent() -> None:
    """If the supervising run.py dies (even by SIGKILL), kill this whole
    session (JVM, pyspark daemon, workers) and exit."""
    parent = os.getppid()

    def loop():
        while os.getppid() == parent:
            time.sleep(0.5)
        me = os.getpid()
        for pid, _ in session_members(os.getsid(0)):
            if pid != me:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        os._exit(3)

    threading.Thread(target=loop, daemon=True).start()


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()
        self.sid = os.getsid(0)

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, sum(r for _, r in session_members(self.sid)))
            self._halt.wait(self.period)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile that leaves at least
    ten samples above it; (0, max, n) when there are fewer than eleven."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return 0.0, xs[-1], n
    idx = n - 11  # ten samples lie strictly beyond xs[n - 11]
    return 100.0 * (idx + 1) / n, xs[idx], n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument(
        "--perturb", default=None,
        help="self-test: corrupt one output kind before the check, or 'all' to "
        "check each kind's corruption separately after the normal check",
    )
    args = ap.parse_args()
    watch_parent()

    import vectordbfaiss_spark.plans.ivf as ivf_mod
    from vectordbfaiss_spark.session import get_spark

    run_dir = os.getcwd()
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session.get_spark") as h:
        spark = get_spark(app_name="repobench", master=f"local[{cpus}]", shuffle_partitions=cpus)
        h.returned()
        tracer.attach(spark)
    session_s = time.perf_counter() - t0
    try:
        if args.trace:
            tracer.count_artifact_lookups(ivf_mod)
        wl = WORKLOADS[args.workload](spark, tracer, run_dir, args.seed, args.tiny)
        # set-up: prepare inputs and artifacts (repeated; median), then one
        # warm-up cycle whose outputs are dropped; setup_s counts both
        prepare = []
        for rep in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup(rep)
            prepare.append(time.perf_counter() - t0)
        kept = list(tracer.spans)
        t0 = time.perf_counter()
        wl.cycle(-1)
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(prepare) + warmup_s
        warmup_batches = list(wl.batches)
        wl.reset()
        tracer.spans[:] = kept  # warm-up calls are cold: not a layer's figure
        tracer.phase = "measure"

        rss = RssSampler()
        rss.start()
        cycles, cycles_cpu, items = [], [], 0
        sid = os.getsid(0)
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        while not cycles or time.perf_counter() < deadline:
            c0, cpu0 = time.perf_counter(), session_cpu_s(sid)
            items += wl.cycle(len(cycles))
            cycles.append(time.perf_counter() - c0)
            cycles_cpu.append(session_cpu_s(sid) - cpu0)
        measured = time.perf_counter() - t_start
        peak = rss.stop()

        if args.perturb and args.perturb != "all":
            wl.perturb(args.perturb)
        attempted, failed = wl.check()
        perturbed = wl.perturbation_check() if args.perturb == "all" else None
        pct, tail, n_batches = tail_latency(wl.batches)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "problems": wl.problems[:20],
            "end_to_end": {
                "setup_s": setup_s,
                "cycle_s": statistics.median(cycles),
                "items_per_s": items / measured,
                "peak_rss_mb": peak / 2**20,
                "recall": wl.recall(),
            },
            "detail": {
                "session_start_s": session_s,
                "prepare_runs_s": prepare,
                "warmup_s": warmup_s,
                "warmup_batches_s": warmup_batches,
                "batches_s": wl.batches,
                "cycles": len(cycles),
                "cycle_runs_s": cycles,
                "cycle_cpu_s": cycles_cpu,
                "measured_s": measured,
                "items": items,
                "batch_s_p50": statistics.median(wl.batches),
                "batch_tail": {"percentile": pct, "value_s": tail, "samples": n_batches},
                "quality": {k: {"hits": h, "total": t} for k, (h, t) in wl.quality.items()},
                "perturbation_failed": perturbed,
            },
        }
        if args.trace:
            per_span, totals = tracer.summary(len(cycles))
            result["per_span"] = per_span
            result["workload_totals"] = totals
        with open(args.result, "w") as fh:
            json.dump(result, fh)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
