"""One benchmark run, in a fresh process started by ``run.py``.

Set-up: import the program, start a Spark session and run the warm-up
query.  ``setup_s`` is the CPU seconds of the process tree from process
start to the end of the warm-up query; ``--setup-only`` stops there and
reports it, so that ``run.py`` can take more cold set-ups in fresh
processes.  The traced run reports the wall-time parts of the set-up as
``session.setup.*``.

Measurement: rounds of the workload until ``--seconds`` have passed
(always at least one; a traced run does exactly one).  The first round
runs on the set-up session, with empty session caches and a JVM that
has run only the warm-up query, as a user's fresh job would meet them;
a later round runs on a restarted session (stop, new session, warm-up
query) in the same, by then warmer, JVM.  ``cpu_s`` is the median CPU
seconds of a round across the whole process tree.  An op is timed
across construction and action, because the iterative operators
materialize while the query is being built.  Outputs are checked after
a round's clock has stopped and its CPU seconds have been read.  The
last line of standard output is the result JSON.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import functools  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections.abc import Callable  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.digests import SF_DIR, digest, load_expected  # noqa: E402
from perfbench.run import host_sample, steal_share  # noqa: E402

@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    #: Output check, run after the round's clock has stopped.
    check: Callable[[], bool] | None = None


def process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this
    process and all its descendants: the Python driver, the JVM and the
    Python workers."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for child, fields in stats.items():
            if int(fields[1]) == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    return {pid: stats[pid] for pid in tree if pid in stats}


def process_tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included (utime, stime, cutime, cstime)."""
    ticks = sum(sum(int(f) for f in fields[11:15]) for fields in process_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def process_tree_peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self, args) -> None:
        from tropology_spark import QUERIES

        self.args = args
        self.tracer = None
        self.queries = QUERIES
        self.sf = SF_DIR
        self.expected = load_expected()
        self.spark = None
        self.ops: list[Op] = []
        self.extra_failed = 0
        self.extra_attempted = 0
        self.setup_cpu = 0.0
        self.setup_parts: dict[str, float] = {}
        self.peak_rss_mb = 0.0
        self.layer: dict[str, float] = {}
        self.crawl_plan: tuple[list[W.CrawlBatch], W.CrawlReference] | None = None

    def span(self, name: str, op: int | None = None):
        return self.tracer.span(name, op) if self.tracer else nullcontext([name])

    # -- sessions ------------------------------------------------------------

    def start_session(self) -> tuple[float, float, float]:
        """Fresh session with empty session caches, warmed up; returns
        session start and warm-up seconds, and the process tree's CPU
        seconds before the warm-up result is checked."""
        from tropology_spark.session import get_spark
        from tropology_spark.sources.tables import clear_session_caches

        if self.spark is not None:
            self.spark.stop()
        clear_session_caches()
        gc.collect()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        df = self.queries[W.WARMUP_QUERY](self.spark, self.sf)
        rows = df.collect()
        t2, cpu = time.perf_counter(), process_tree_cpu_s()
        self.extra_attempted += 1
        if digest(df.columns, [tuple(r) for r in rows]) != self.expected[W.WARMUP_QUERY]:
            self.extra_failed += 1
            print(f"warm-up {W.WARMUP_QUERY}: wrong result", file=sys.stderr)
        clear_session_caches()
        return t1 - t0, t2 - t1, cpu

    def setup(self, import_done: float) -> None:
        spark_s, warmup_s, self.setup_cpu = self.start_session()
        self.setup_parts = {
            "session.setup.import_s": import_done - T_START,
            "session.setup.spark_s": spark_s,
            "session.setup.warmup_s": warmup_s,
        }
        print(f"set-up: wall {time.perf_counter() - T_START:.3f} s, cpu {self.setup_cpu:.3f} s",
              file=sys.stderr)

    # -- query workloads -----------------------------------------------------

    def run_query(self, name: str, op_id: int) -> Op:
        sc = self.spark.sparkContext
        if self.tracer:
            sc.setJobGroup(f"op{op_id}", name)
        t0 = time.perf_counter()
        op = Op(name, 0.0, False)
        try:
            with self.span("op", op=op_id):
                with self.span("registry.construct"):
                    df = self.queries[name](self.spark, self.sf)
                with self.span("spark.action"):
                    rows = df.collect()
            op.seconds = time.perf_counter() - t0
            op.check = lambda: self.matches_oracle(name, df.columns, rows)
        except Exception:  # noqa: BLE001 — the op boundary: record and go on
            op.seconds = time.perf_counter() - t0
            traceback.print_exc()
        if self.tracer:
            self.tracer.harvest(sc, op_id, t0, t0 + op.seconds)
            module = self.queries[name].__module__.removeprefix("tropology_spark.")
            self.tracer.add(f"{module}.s", op.seconds)
        return op

    def matches_oracle(self, name: str, cols: list[str], rows: list) -> bool:
        if digest(cols, [tuple(r) for r in rows]) == self.expected.get(name):
            return True
        print(f"{name}: result digest does not match its oracle", file=sys.stderr)
        return False

    def query_round(self, names: list[str], clients: int) -> list[Op]:
        """Closed loop: ``clients`` threads drain ``names`` in order."""
        pending = list(enumerate(names))
        lock = threading.Lock()
        done: list[Op] = []

        def client() -> None:
            while True:
                with lock:
                    if not pending:
                        return
                    op_id, name = pending.pop(0)
                op = self.run_query(name, op_id)
                with lock:
                    done.append(op)

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return done

    # -- crawl_ingest ----------------------------------------------------------

    def crawl_round(self, round_idx: int) -> list[Op]:
        from tropology_spark.pipeline import crawl
        from tropology_spark.sources import txlog

        spark = self.spark
        if self.crawl_plan is None:
            self.crawl_plan = W.plan_crawl(self.args.seed, W.CrawlPlan.batches)
        plan, ref = self.crawl_plan
        store = os.path.join(self.args.work, f"store{round_idx}")
        linklog = os.path.join(store, "linklog")
        ops: list[Op] = []
        frontier_s: list[float] = []
        try:
            for b, batch in enumerate(plan):
                if self.tracer:
                    spark.sparkContext.setJobGroup(f"op{b}", f"batch{b}")
                t0 = time.perf_counter()
                with self.span("op", op=b):
                    got: dict = {"compacted": None}
                    if batch.limit is not None:
                        with self.span("crawl.frontier"):
                            got["frontier"] = {
                                r.code for r in crawl.frontier(spark, store, batch.now, batch.limit).collect()
                            }
                        frontier_s.append(time.perf_counter() - t0)
                    fetched = spark.createDataFrame(batch.pages, "url string, html string")
                    link_df = spark.createDataFrame(batch.links, "from_code string, to_code string")
                    crawl.crawl_batch(spark, store, fetched, batch.now)
                    got["version"] = txlog.tx_write(spark, link_df, linklog)
                    if batch.compacted is not None:
                        got["compacted"] = txlog.tx_compact(spark, linklog)
                    travel_df = txlog.tx_read(spark, linklog, version=batch.travel)
                    with self.span("spark.action"):
                        got["travel_rows"] = travel_df.collect()
                seconds = time.perf_counter() - t0
                if self.tracer:
                    self.tracer.harvest(spark.sparkContext, b, t0, t0 + seconds)
                ops.append(Op(f"batch{b}", seconds, False, functools.partial(self.check_batch, b, batch, got)))
        except Exception:  # noqa: BLE001 — a failed batch ends the round
            traceback.print_exc()
            ops.append(Op("batch_error", 0.0, False))
            return ops
        if self.tracer:
            self.crawl_layer_metrics(store, linklog, [batch.user_bytes for batch in plan], frontier_s)
        ops.append(Op("crawl_end_state", 0.0, False, lambda: self.check_crawl_store(store, ref)))
        return ops

    @staticmethod
    def check_batch(b: int, batch: W.CrawlBatch, got: dict) -> bool:
        checks = {
            "frontier": got.get("frontier") == batch.frontier,
            "log version": got["version"] == batch.version,
            "compacted version": got["compacted"] == batch.compacted,
            f"time-travel read of v{batch.travel}":
                sorted(tuple(r) for r in got["travel_rows"]) == batch.travel_rows,
        }
        for what, good in checks.items():
            if not good:
                print(f"batch {b}: {what} differs from the reference", file=sys.stderr)
        return all(checks.values())

    def check_crawl_store(self, store: str, ref: W.CrawlReference) -> bool:
        from tropology_spark.pipeline import crawl
        from tropology_spark.sources import txlog

        pages = {
            r.code: (r.incoming, r.outgoing)
            for r in crawl.read_pages(self.spark, store).collect()
        }
        links = {(r.from_code, r.to_code) for r in crawl.read_links(self.spark, store).collect()}
        snapshot = txlog.tx_read(self.spark, os.path.join(store, "linklog")).count()
        checks = {
            "pages and degrees": pages == ref.degrees(),
            "link set": links == ref.link_set(),
            "txlog snapshot rows": snapshot == len(ref.log[-1]),
        }
        for what, good in checks.items():
            if not good:
                print(f"crawl end state: {what} differ from the reference", file=sys.stderr)
        return all(checks.values())

    def crawl_layer_metrics(self, store, linklog, user_bytes, frontier_s) -> None:
        from tropology_spark.sources import txlog

        amps = [
            self.tracer.op_stats[b].get("spark.output_bytes", 0.0) / ub
            for b, ub in enumerate(user_bytes)
        ]
        latest = txlog.tx_versions(linklog)[-1]
        with open(os.path.join(linklog, "_txlog", f"{latest:08d}.json")) as fh:
            snapshot_files = len(json.load(fh)["files"])
        self.layer.update(
            {
                "crawl.write_amp_first": amps[0],
                "crawl.write_amp_last": amps[-1],
                "crawl.store_bytes_per_user_byte": dir_bytes(store) / sum(user_bytes),
                "crawl.frontier_p50_s": statistics.median(frontier_s),
                "txlog.snapshot_files": float(snapshot_files),
            }
        )

    # -- rounds ----------------------------------------------------------------

    def round(self, round_idx: int) -> tuple[float, list[Op]]:
        """One round; the ops' outputs are not checked yet."""
        if self.tracer:
            self.tracer.reset()
        t0 = time.perf_counter()
        if self.args.workload == "crawl_ingest":
            ops = self.crawl_round(round_idx)
        else:
            ops = self.query_round(W.iterative_order(self.args.seed), W.ITERATIVE_CLIENTS)
        wall = time.perf_counter() - t0
        self.peak_rss_mb = max(self.peak_rss_mb, process_tree_peak_rss_mb())
        return wall, ops

    @staticmethod
    def check(ops: list[Op]) -> None:
        for op in ops:
            if op.check is not None:
                op.ok, op.check = op.check(), None

    def measure(self) -> dict[str, list[float]]:
        """Measured rounds until ``--seconds`` have passed, the first on
        the set-up session, each later one on a restarted session.
        Returns per round its wall and CPU seconds, and every op
        latency."""
        out: dict[str, list[float]] = {"wall": [], "cpu": [], "latency": []}
        start = time.perf_counter()
        while not out["wall"] or (
            not self.tracer and time.perf_counter() - start < self.args.seconds
        ):
            if out["wall"]:
                self.start_session()
            before, cpu0 = host_sample(), process_tree_cpu_s()
            wall, ops = self.round(len(out["wall"]))
            cpu = process_tree_cpu_s() - cpu0
            steal = steal_share(before, host_sample())
            self.check(ops)
            print(f"round {len(out['wall']) + 1}: wall {wall:.3f} s, cpu {cpu:.3f} s, "
                  f"host CPU steal {steal:.1%}", file=sys.stderr)
            self.ops += ops
            out["wall"].append(wall)
            out["cpu"].append(cpu)
            out["latency"] += [op.seconds for op in ops if op.name != "crawl_end_state"]
        return out


def cohort_modules(queries) -> list[str]:
    """Operator modules of the cohort queries, e.g. ``operators.graph``."""
    return sorted({queries[name].__module__.removeprefix("tropology_spark.") for name in W.ITERATIVE})


def layer_metrics(bench: Bench, tracer, rounds: dict[str, list[float]]) -> dict:
    """Per-layer metrics of a traced run: (value, unit) by name.  Time
    metrics are span self times, except ``crawl.batch_s`` and
    ``crawl.frontier_s``, which are inclusive."""
    from perfbench.trace import STAGE_FIELDS

    selfs, totals, spark = tracer.self_times(), tracer.totals(), tracer.spark_totals()
    counts = tracer.counts
    lookups = counts.get("tables.cache.lookups", 0.0)
    hits = counts.get("tables.cache.hits", 0.0)
    spark_keys = ["spark.jobs", "spark.stages", "spark.driver_gap_s", "spark.spill_bytes"]
    m = {
        "registry.construct_s": selfs.get("registry.construct", 0.0),
        "spark.action_s": selfs.get("spark.action", 0.0),
        **{k: spark.get(k, 0.0) for k in spark_keys + list(STAGE_FIELDS)},
        "session.iter_materialize.calls": totals.get("session.iter_materialize.n", 0.0),
        "session.iter_materialize.s": selfs.get("session.iter_materialize", 0.0),
        **bench.setup_parts,
        "tables.cache.lookups": lookups,
        "tables.cache.hits": hits,
        "tables.cache.hit_ratio": hits / lookups if lookups else 0.0,
        "tables.cache.build_s": selfs.get("tables.cache.build", 0.0),
        "tables.cache.wait_s": selfs.get("tables.cache.wait", 0.0),
        "tables.load.s": selfs.get("tables.load", 0.0),
        **{f"{mod}.s": counts.get(f"{mod}.s", 0.0) for mod in cohort_modules(bench.queries)},
        "crawl.batch_s": totals.get("crawl.crawl_batch.total", 0.0),
        "crawl.parse_and_links_s": selfs.get("crawl.crawl_batch", 0.0),
        "crawl.frontier_s": totals.get("crawl.frontier.total", 0.0),
        "crawl.frontier_p50_s": 0.0,
        "crawl.refresh_degrees_s": selfs.get("crawl.refresh_degrees", 0.0),
        "crawl.write_amp_first": 0.0,
        "crawl.write_amp_last": 0.0,
        "crawl.store_bytes_per_user_byte": 0.0,
        "sinks.upsert_parquet_s": selfs.get("sinks.upsert_parquet", 0.0),
        "txlog.tx_write_s": selfs.get("txlog.tx_write", 0.0),
        "txlog.tx_compact_s": selfs.get("txlog.tx_compact", 0.0),
        "txlog.tx_read_s": selfs.get("txlog.tx_read", 0.0),
        "txlog.snapshot_files": 0.0,
        "host.peak_rss_mb": bench.peak_rss_mb,
        "trace.wall_s": rounds["wall"][0],
        "trace.cpu_s": rounds["cpu"][0],
        "trace.op_p50_s": statistics.median(rounds["latency"]),
        "trace.overhead_s": tracer.overhead_s(),
        "trace.spans": float(len(tracer.spans)),
    }
    m.update(bench.layer)
    return {name: (value, layer_unit(name)) for name, value in m.items()}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), (".s", "s"), ("_ms", "ms"), ("_bytes", "bytes"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "_amp_first", "_amp_last", "per_user_byte")):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--trace-out", default=None)
    p.add_argument("--setup-only", action="store_true",
                   help="stop after the set-up and report only setup_s")
    args = p.parse_args(argv)

    import tropology_spark  # noqa: F401 — import time is part of set-up

    import_done = time.perf_counter()
    bench = Bench(args)
    bench.setup(import_done)
    if args.setup_only:
        bench.spark.stop()
        print(json.dumps({
            "correct": bench.extra_failed == 0,
            "attempted": bench.extra_attempted,
            "failed": bench.extra_failed,
            "metrics": {"setup_s": {"value": bench.setup_cpu, "unit": "s"}},
        }), flush=True)
        return 0
    if args.trace:
        from perfbench.trace import Tracer

        bench.tracer = Tracer()
        bench.tracer.install()
    rounds = bench.measure()
    tracer = bench.tracer
    bench.spark.stop()

    attempted = len(bench.ops) + bench.extra_attempted
    failed = sum(not op.ok for op in bench.ops) + bench.extra_failed
    if tracer:
        metrics = layer_metrics(bench, tracer, rounds)
        if args.trace_out:
            tracer.dump(args.trace_out, {"workload": args.workload, "seed": args.seed,
                                         "metrics": metrics})
    else:
        metrics = {
            "cpu_s": (statistics.median(rounds["cpu"]), "s"),
            "setup_s": (bench.setup_cpu, "s"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
