"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: iterative, crawl_ingest (see
``perfbench/README.md``).  An untraced run first takes ``SETUP_PROBES``
cold set-ups, each in a fresh process, then runs the workload in one
more fresh worker process; ``setup_s`` is the median over the probes
and the worker's own set-up.  Every process (``worker.py``) is fitted
to the host:

* ``SPARK_GRAFT_CPUS`` is the number of usable cores and the driver heap
  a quarter of RAM (at most 4 GiB), instead of ``get_spark``'s
  ``local[32]`` and 16g defaults;
* the repository root is on ``PYTHONPATH``, so Spark's Python workers
  can import ``tropology_spark`` whatever the working directory;
* Spark local dirs, temp files, the warehouse and derby files go to a
  scratch directory under ``.perfbench_runs/`` that is removed after
  the run.

The launcher records core count, load average and CPU steal at the
start and end of the run and prints them as a ``context`` line before
the result.  The last line of standard output is the worker's result
JSON, printed only when the worker succeeded; otherwise the exit code
is not 0.  Every process the run started is stopped before it returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
#: A run must finish well inside 180 s.
TIMEOUT_S = 170.0
#: Cold set-ups in fresh processes before the measured worker, whose own
#: set-up is one more sample; ``setup_s`` is the median of all of them.
#: One, because a cold set-up costs 8-17 s of wall and the whole run
#: must stay near a minute on a contended host.
SETUP_PROBES = 1
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def host_sample() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "cpu_jiffies": sum(cpu),
        "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of all CPU time between two ``host_sample``s that the
    hypervisor gave to other guests."""
    jiffies = end["cpu_jiffies"] - start["cpu_jiffies"]
    return (end["steal_jiffies"] - start["steal_jiffies"]) / jiffies if jiffies else 0.0


def driver_memory() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(4096, total_kb // 4 // 1024)}m"


def worker_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "{java_opts}" '
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
            "PYTHONHASHSEED": "0",
        }
    )
    env.pop("TROPOLOGY_CHECKPOINT_DIR", None)
    return env


def stop_group(pgid: int) -> None:
    """Stop every process of the worker's process group and wait until
    none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group; a zombie
        # has ended and only waits for its parent to reap it.
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_worker(args: list[str], deadline: float) -> tuple[int, list[str], dict | None]:
    """Run ``worker.py`` with ``args`` in a fresh process and scratch
    directory; returns its exit code, output lines and result JSON.
    Every process it started is stopped before this returns."""
    os.makedirs(RUNS_DIR, exist_ok=True)
    work = os.path.join(RUNS_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [sys.executable, os.path.join(BENCH_DIR, "worker.py"), *args, "--work", work]
    proc = subprocess.Popen(
        cmd, cwd=work, env=worker_env(work), stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {TIMEOUT_S:.0f} s", file=sys.stderr)
        out, rc = "", 1
    else:
        rc = proc.returncode
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        result = None
    return rc, lines, result


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [
        path
        for path in ("tropology_spark", "tests/parity.py", "perfbench/data/sf0.001")
        if not os.path.exists(os.path.join(ROOT, path))
    ]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + TIMEOUT_S
    trace_out = os.path.join(RUNS_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    worker_args = ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
    # A terminated launcher still stops the worker's processes (finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    start = host_sample()
    probes = []
    for _ in range(0 if args.trace else SETUP_PROBES):
        rc, _, probe = run_worker([*worker_args, "--setup-only"], deadline)
        if rc != 0 or probe is None:
            print(f"perfbench: set-up probe failed (exit code {rc})", file=sys.stderr)
            return rc or 1
        probes.append(probe)
    rc, lines, result = run_worker([*worker_args, "--trace-out", trace_out], deadline)
    end = host_sample()

    for line in lines[:-1]:
        print(line)
    if rc != 0 or result is None:
        print(f"perfbench: worker failed (exit code {rc})", file=sys.stderr)
        return rc or 1
    if probes:
        setups = [r["metrics"]["setup_s"]["value"] for r in probes + [result]]
        result["metrics"]["setup_s"]["value"] = statistics.median(setups)
        result["attempted"] += sum(r["attempted"] for r in probes)
        result["failed"] += sum(r["failed"] for r in probes)
        result["correct"] = result["failed"] == 0
    context = {"nproc": start["nproc"], "loadavg_start": start["loadavg"],
               "loadavg_end": end["loadavg"], "cpu_steal_share": steal_share(start, end)}
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
