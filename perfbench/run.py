#!/usr/bin/env python3
"""Repository benchmark: ``python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0``.

Run from the repository root. Starts one workload of
``perfbench/workload.py`` in a child process with fixed deployment
settings, samples the memory of the child's whole process tree (Python
driver, JVM, Python workers), and prints one JSON line as the last line
of stdout: ``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.

Every file a run writes stays under ``.perfbench_work/`` in the current
directory. A run's own directory is removed when it ends; the index a
workload prepares (see ``workload.PREPARED``) is kept there, keyed by a
hash of the program's source, and built by the first run that needs it.
Exits non-zero, printing no result, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workload import PREPARED, PREPARED_PARAMS, RESULT_TAG, WORKLOADS  # noqa: E402

WORK_DIR = ".perfbench_work"
#: JVM heap of the Spark driver (local mode runs executors in it); the
#: library default (16g) does not fit beside other work on a small box
DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 600
SAMPLE_EVERY_S = 0.2


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``: the child and everything it started."""
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":  # fields[3]: session id
            out.append(int(p))
    return out


def tree_pss_mb(sid: int) -> float:
    """Proportional set size of the session's processes, in MB: forked
    Python workers share pages with their daemon, which RSS would count
    once per process."""
    total_kb = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return total_kb / 1024


def stop_session(sid: int) -> None:
    """SIGTERM the session, then SIGKILL whatever is left after 10 s."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        pids = session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + grace
        while pids and time.time() < end:
            time.sleep(0.1)
            pids = session_pids(sid)
        if not pids:
            return


def machine_probe() -> dict[str, float]:
    """Seconds of a fixed pure-Python loop, and the host's stolen CPU
    seconds so far: context for a run that reads slow."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"loop_s": time.perf_counter() - t0, "steal_s": steal}


def child_env(root: str, work: str) -> dict[str, str]:
    """The run's environment: every scratch path inside ``work``, and no
    inherited knob that would change the program's configuration."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith(("PYLATE_", "SPARK_GRAFT_", "PYSPARK_", "JAVA_TOOL_OPTIONS"))
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_IP="127.0.0.1",
        PYLATE_SPARK_LOCAL_DIR=os.path.join(work, "spark-local"),
        PYLATE_SPARK_DRIVER_MEM=DRIVER_MEM,
        # no hsperfdata under /tmp; JVM temp files in the work dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def run_child(args: list[str], root: str, work: str, timeout: float, stdout, on_tick=None):
    """Run ``workload.py args`` in a session of its own; always stop the
    whole session. Returns (exit code, stdout text or None)."""
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workload.py"), *args, "--work", work],
        cwd=root, env=child_env(root, work), stdout=stdout, text=True, start_new_session=True,
    )
    done = threading.Event()

    def tick():
        while not done.is_set():
            on_tick(child.pid)
            done.wait(SAMPLE_EVERY_S)

    ticker = threading.Thread(target=tick, daemon=True) if on_tick else None
    if ticker:
        ticker.start()
    try:
        out, _ = child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {' '.join(args)} timed out after {timeout:.0f}s", file=sys.stderr)
        out = None
    finally:
        done.set()
        if ticker:
            ticker.join()
        stop_session(child.pid)
        child.wait()
    return child.returncode, out


def source_key(root: str, workload: str) -> str:
    """Hash of the program's source, of the code that prepares the
    inputs, and of their parameters."""
    h = hashlib.sha256(repr(PREPARED_PARAMS[workload]).encode())
    paths = [os.path.join(HERE, "workload.py")]
    for dirpath, dirnames, files in os.walk(os.path.join(root, "pylate_spark")):
        dirnames.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def prepared_inputs(root: str, workload: str) -> str | None:
    """The workload's prepared inputs, built in a process of its own if
    this checkout does not have them yet. None if the build failed."""
    cache = os.path.join(root, WORK_DIR, "prepared", f"{workload}-{source_key(root, workload)}")
    if os.path.isdir(cache):
        return cache
    work = os.path.join(root, WORK_DIR, f"prepare-{workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        out = os.path.join(work, "prepared")
        os.makedirs(out)
        rc, _ = run_child(["--workload", workload, "--prepare", "--prepared", out],
                          root, work, PREPARE_TIMEOUT_S, stdout=sys.stderr)
        if rc != 0:
            return None
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        try:
            os.rename(out, cache)
        except OSError:  # a concurrent run got there first
            if not os.path.isdir(cache):
                raise
        return cache
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pylate_spark", "__init__.py")):
        print("perfbench: run from the repository root (no pylate_spark/ here)", file=sys.stderr)
        return 2
    child_args = ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.workload in PREPARED:
        prepared = prepared_inputs(root, args.workload)
        if prepared is None:
            print(f"perfbench: preparing the {args.workload} inputs failed", file=sys.stderr)
            return 1
        child_args += ["--prepared", prepared]

    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    peak = [0.0]

    def sample(pid: int) -> None:
        peak[0] = max(peak[0], tree_pss_mb(pid))

    probe0 = machine_probe()
    try:
        t0 = time.time()
        rc, out = run_child(child_args, root, work, CHILD_TIMEOUT_S, subprocess.PIPE, sample)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in (out or "").splitlines() if ln.startswith(RESULT_TAG)]
    if rc != 0 or not lines:
        print(f"perfbench: workload exited with {rc} and no result", file=sys.stderr)
        return 1
    probe1 = machine_probe()

    res = json.loads(lines[-1][len(RESULT_TAG):])
    e2e = res["end_to_end"]
    e2e["setup_s"] = {"value": res["first_op_at"] - t0, "unit": "s"}
    e2e["peak_rss_mb"] = {"value": peak[0], "unit": "MB"}
    info = {"workload": args.workload, "seed": args.seed, "samples": res["samples"],
            "check_failures": res["check_failures"],
            "machine": {"loop_s": [round(probe0["loop_s"], 3), round(probe1["loop_s"], 3)],
                        "steal_s": round(probe1["steal_s"] - probe0["steal_s"], 2)}}
    if args.trace:
        # what the traced run saw end to end, for tracing overhead
        info["traced_end_to_end"] = e2e
        metrics = res["per_layer"]
    else:
        metrics = e2e
    print(json.dumps(info))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
