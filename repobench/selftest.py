"""Self-test of the benchmark at a tiny size. Run from the root of a checkout:

    python3 repobench/selftest.py [workload ...]

For every workload (default: all four):
1. one untraced and one traced run, each of which must pass its checks and
   print exactly the metrics BENCHMARK.json names for that mode;
2. every checked output kind corrupted in turn (``--perturb all``), each of
   which must make its check fail, plus one corruption through the whole
   gate, which must print ``correct: false`` with ``failed >= 1``.
Then:
3. a run killed by SIGTERM, and one whose ``run.py`` is killed by SIGKILL,
   must leave no process of its session behind;
4. in a directory holding only BENCHMARK.json and ``repobench/``, the
   command must fail without printing a result.
Every run also asserts, through ``run.py``, that no file of the checkout
outside ``.bench_run/`` changed and that no process outlived it.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from procs import session_members  # noqa: E402
from run import WORKLOAD_NAMES  # noqa: E402

RUN = [sys.executable, os.path.join("repobench", "run.py")]
FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def spark_processes() -> set[int]:
    """JVMs and pyspark daemons/workers started by this checkout's runs
    (their working directory is under .bench_run/)."""
    runs = os.path.abspath(".bench_run")
    out = set()
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
                cwd = os.readlink(f"/proc/{pid}/cwd")
            except OSError:
                continue
            spark = b"org.apache.spark" in cmd or b"pyspark.daemon" in cmd or b"pyspark/daemon" in cmd
            if spark and cwd.startswith(runs):
                out.add(int(pid))
    return out


def bench(workload: str, *extra: str, seconds: str = "1", cwd: str | None = None):
    """(exit code, parsed last stdout line or None, record dict or None)."""
    p = subprocess.run(
        RUN + ["--workload", workload, "--seed", "7", "--seconds", seconds, "--tiny", *extra],
        capture_output=True, text=True, timeout=300, cwd=cwd,
    )
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    record = None
    for line in p.stderr.splitlines():
        if line.startswith("run.py: record "):
            with open(line.split(" ", 2)[2]) as fh:
                record = json.load(fh)
    if p.returncode != 0 or result is None:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result, record


def expected_names() -> tuple[list[str], list[str]]:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    check(e2e == [m["name"] for m in END_TO_END], "BENCHMARK.json end_to_end matches metrics.py")
    check(layer == [m["name"] for m in PER_LAYER], "BENCHMARK.json per_layer matches metrics.py")
    return e2e, layer


def test_workload(w: str, e2e: list[str], layer: list[str]) -> None:
    before = spark_processes()
    code, res, rec = bench(w, "--trace", "0", "--perturb", "all")
    check(code == 0 and res is not None and res["correct"] and res["failed"] == 0,
          f"{w}: untraced run passes its checks")
    if res:
        check(sorted(res["metrics"]) == sorted(e2e), f"{w}: untraced run prints every end-to-end metric")
    if rec:
        failed = rec["result"]["detail"]["perturbation_failed"]
        for kind, n in failed.items():
            check(n >= 1, f"{w}: corrupting one '{kind}' output fails its check ({n} failed)")
        kind = next(iter(failed))
    code, res, _ = bench(w, "--trace", "1")
    check(code == 0 and res is not None and res["correct"], f"{w}: traced run passes its checks")
    if res:
        check(sorted(res["metrics"]) == sorted(layer), f"{w}: traced run prints every per-layer metric")
    if rec:
        code, res, _ = bench(w, "--trace", "0", "--perturb", kind)
        check(res is not None and not res["correct"] and res["failed"] >= 1,
              f"{w}: a corrupted '{kind}' output reaches the result as failed={res and res['failed']}")
    check(spark_processes() <= before, f"{w}: no Spark process outlives the runs")


def worker_sid(run_pid: int, timeout: float = 60) -> int | None:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            if int(fields[1]) == run_pid and b"worker.py" in cmd:
                sid = int(fields[3])
                # wait until the JVM is up, so the kill meets a full session
                if len(session_members(sid)) >= 2:
                    return sid
        time.sleep(0.2)
    return None


def test_kill(sig: int) -> None:
    p = subprocess.Popen(
        RUN + ["--workload", "search_serve", "--seed", "7", "--seconds", "60", "--tiny"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    sid = worker_sid(p.pid)
    check(sid is not None, f"kill {signal.Signals(sig).name}: worker session started")
    p.send_signal(sig)
    out, _ = p.communicate(timeout=60)
    end = time.monotonic() + 30
    while sid is not None and session_members(sid) and time.monotonic() < end:
        time.sleep(0.2)
    check(p.returncode != 0 and not out.strip(), f"kill {signal.Signals(sig).name}: no result printed")
    check(sid is not None and not session_members(sid),
          f"kill {signal.Signals(sig).name}: no process of the run's session survives")


def test_bare_dir() -> None:
    bare = os.path.join(".bench_run", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("repobench", os.path.join(bare, "repobench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    t0 = time.monotonic()
    code, res, _ = bench("search_serve", cwd=bare)
    check(code != 0 and res is None and time.monotonic() - t0 < 180,
          "a directory without the program: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    names = sys.argv[1:] or list(WORKLOAD_NAMES)
    e2e, layer = expected_names()
    for w in names:
        test_workload(w, e2e, layer)
    test_kill(signal.SIGTERM)
    test_kill(signal.SIGKILL)
    test_bare_dir()
    print(f"\n{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
