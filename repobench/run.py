"""Benchmark entry point: one workload, one seed, one run.

    python3 repobench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run happens in a child process that
leads its own session, with its working directory, warehouse, Spark local
dirs, temp dir and bytecode cache under ``.bench_run/<run>/``. After the
child ends (or on a timeout, SIGTERM, SIGINT or SIGHUP) every process left
in that session (the JVM, the pyspark daemon and its workers) is
terminated and waited for. The run fails if any file of the checkout
outside ``.bench_run/`` changed. The last line of stdout is the result
JSON; a failed run prints no result and exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, per_layer_values  # noqa: E402
from procs import session_members  # noqa: E402

WORKLOAD_NAMES = ("index_build", "search_serve", "dedup_pipeline", "registry_heavy")
CHILD_LIMIT_S = 160  # the whole run, clean-up included, stays under 180 s
SKIP_DIRS = {".bench_run", ".bench_build", ".git", "__pycache__"}


class Terminated(Exception):
    pass


def _on_signal(signum, _frame):
    raise Terminated(signum)


def session_pids(sid: int) -> list[int]:
    return [pid for pid, _ in session_members(sid)]


def stop_session(sid: int, grace_s: float = 5.0) -> list[int]:
    """Wait ``grace_s`` for session ``sid`` to empty, then SIGTERM, then
    SIGKILL what is left; returns the pids that still exist at the end."""
    for sig, wait in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = session_pids(sid)
        if not pids:
            return []
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + wait
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.05)
    return session_pids(sid)


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside the run dirs."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in SKIP_DIRS]
        for f in filenames:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def other_bench_workers(own_sid: int) -> int:
    """Benchmark workers running outside this run (any checkout)."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"repobench/worker.py" in cmd and os.getsid(int(pid)) != own_sid:
                n += 1
        except OSError:
            continue
    return n


def host_state() -> dict:
    a = cpu_times()
    time.sleep(0.2)
    b = cpu_times()
    return {"loadavg": list(os.getloadavg()), "steal_share": steal_share(a, b), "cpu": b}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--perturb", default=None, help="self-test: see worker.py --perturb")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("vectordbfaiss_spark/__init__.py", "tools/oracle_sweep.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"run.py: {need} not found; run from the root of a checkout", file=sys.stderr)
            return 2

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _on_signal)

    bench_root = os.path.join(root, ".bench_run")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(bench_root, name)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.makedirs(os.path.join(bench_root, "results"), exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")

    start = host_state()
    before = snapshot(root)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        PYTHONPYCACHEPREFIX=os.path.join(bench_root, "pycache"),
        REPOBENCH_CHECKOUT=root,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        NUMPY_MADVISE_HUGEPAGE="0",
    )
    cmd = [
        sys.executable, "-u", os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result_path,
    ]
    if args.tiny:
        cmd.append("--tiny")
    if args.perturb:
        cmd += ["--perturb", args.perturb]

    status, code, leftover, concurrent = "ok", None, [], 0
    proc = None
    t0 = time.monotonic()
    try:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        concurrent = other_bench_workers(proc.pid)
        try:
            code = proc.wait(timeout=CHILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            status = "timeout"
        concurrent = max(concurrent, other_bench_workers(proc.pid))
    except Terminated as sig:
        status = f"signal {sig.args[0]}"
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        if proc is not None:
            leftover = stop_session(proc.pid, grace_s=5.0 if status == "ok" else 0.0)
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    wall = time.monotonic() - t0
    end_cpu = cpu_times()

    after = snapshot(root)
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    result = None
    if status == "ok" and code == 0 and os.path.isfile(result_path):
        with open(result_path) as fh:
            result = json.load(fh)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "perturb": args.perturb,
        "status": status, "exit_code": code, "wall_s": wall,
        "host": {
            "loadavg_start": start["loadavg"],
            "steal_share_start": start["steal_share"],
            "steal_share_run": steal_share(start["cpu"], end_cpu),
            "concurrent_bench_workers": concurrent,
            "nproc": os.cpu_count(),
        },
        "leftover_pids": leftover,
        "changed_files": changed[:50],
        "result": result,
    }
    record_path = os.path.join(bench_root, "results", f"{name}.json")
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"run.py: record {record_path}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)

    problems = []
    if result is None:
        problems.append(f"worker {status}, exit code {code}")
    if leftover:
        problems.append(f"processes left running: {leftover}")
    if changed:
        problems.append(f"files outside the run directory changed: {changed[:5]}")
    if problems:
        print("run.py: " + "; ".join(problems), file=sys.stderr)
        return 1
    if concurrent:
        print(f"run.py: {concurrent} other benchmark worker(s) ran alongside", file=sys.stderr)
    if result["problems"]:
        print("run.py: failed checks: " + "; ".join(result["problems"]), file=sys.stderr)
    if args.trace:
        metrics = per_layer_values(result)
    else:
        metrics = {
            m["name"]: {"value": result["end_to_end"][m["name"]], "unit": m["unit"]}
            for m in END_TO_END
        }
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
