"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the repository root.  The workload runs in a fresh child
process (``worker.py``) fitted to the host: ``SPARK_GRAFT_CPUS`` is at
most 2 and at most the CPU count, ``SPARK_GRAFT_DRIVER_MEM`` a fifth of
RAM (1-4 GiB), and temp files, Spark local directories and generated
inputs live in a private directory under ``.perfbench/`` that is removed
afterwards, together with every process the child started.

Standard output: one ``metric`` line per end-to-end metric (name,
value, unit, sample count), a ``conditions`` line, and last one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Exit code 0 only when a result was produced.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import check_metric_name  # noqa: E402
from metrics import E2E, LAYERS  # noqa: E402

WORKLOADS = ("query_mix", "lakehouse_ingest")
DEADLINE_S = 170.0
ENGINE = "columnar_analytics_engine_spark"


def host_fit() -> dict:
    """CPU and memory settings for the engine session on this host."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    mem_mb = mem_kb // 1024
    driver_mb = max(1024, min(4096, mem_mb // 5))
    # Two task slots: the requests are many small jobs, and on a 4-core
    # host the spare cores keep the JIT compiler, GC, the Python driver
    # and the answer checks off the task threads (measured faster than
    # local[4] on both workloads).
    return {
        "nproc": nproc,
        "ram_mb": mem_mb,
        "SPARK_GRAFT_CPUS": str(min(2, nproc)),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
    }


def _session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(d))
    return out


def reap(sid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the child's session to end; terminate
    what is still there after ``grace_s``, then kill it."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                return
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            deadline = time.monotonic() + 5.0
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"run.py: no {ENGINE}/ package under {root}; run from the repository root", file=sys.stderr)
        return 2

    fit = host_fit()
    state_dir = os.path.join(root, ".perfbench")
    os.makedirs(state_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=state_dir)
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": fit["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": fit["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("OMP_NUM_THREADS", None)
    load_before = os.getloadavg()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--state-dir", state_dir,
    ]
    result, out, proc = None, "", None
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=subprocess.PIPE, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            print(f"run.py: {args.workload} exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
        reap(proc.pid)
        path = os.path.join(run_dir, "result.json")
        if proc.returncode == 0 and os.path.exists(path):
            with open(path) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if out:
        sys.stdout.write(out)
    if result is None:
        rc = proc.returncode if proc is not None else None
        print(f"run.py: {args.workload} produced no result (exit {rc})", file=sys.stderr)
        return 1

    for name, value, unit, n in result["report"]:
        print(f"metric {args.workload} {name} {value:.6g} {unit} n={n}")
    for problem in result["problems"]:
        print(f"problem {args.workload} {problem}", file=sys.stderr)
    cond = dict(result["conditions"], **fit)
    cond["loadavg_before"] = [round(x, 2) for x in load_before]
    cond["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    cond["per_kind_s"] = result["per_kind_s"]
    print("conditions " + json.dumps(cond, sort_keys=True))
    values, units = (result["layers"], LAYERS) if args.trace else (result["e2e"], E2E)
    metrics = {check_metric_name(k): {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
