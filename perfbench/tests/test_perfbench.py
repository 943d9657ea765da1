"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.digests import digest  # noqa: E402
from perfbench.worker import Bench  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)


def crawl_inputs(seed: int) -> tuple:
    corpus = W.CrawlCorpus(seed)
    pages = corpus.seed_pages()
    crawled = sorted(W.page_code(i) for i in pages)
    return (
        pages,
        [corpus.html(i, v) for i in pages[:20] for v in range(3)],
        corpus.recrawl_picks(1, crawled),
        corpus.travel_version(2, 5),
    )


def test_same_seed_same_inputs():
    for seed in (0, 7):
        assert W.iterative_order(seed) == W.iterative_order(seed)
        assert crawl_inputs(seed) == crawl_inputs(seed)
        assert W.plan_crawl(seed, 4)[0] == W.plan_crawl(seed, 4)[0]
    assert W.iterative_order(0) != W.iterative_order(7)
    assert sorted(W.iterative_order(7)) == sorted(W.ITERATIVE)
    assert crawl_inputs(0) != crawl_inputs(7)
    assert W.plan_crawl(0, 4)[0] != W.plan_crawl(7, 4)[0]


def test_crawl_plan_follows_the_reference():
    plan, ref = W.plan_crawl(3, 4)
    assert [b.version for b in plan] == [0, 1, 2, 4]  # v3 is the compaction
    assert [b.compacted for b in plan] == [None, None, 3, None]
    assert plan[0].frontier is None and all(b.frontier for b in plan[1:])
    assert all(len(b.pages) <= W.CrawlPlan.batch_pages for b in plan)
    assert ref.log[-1] == [row for b in plan for row in b.links]


def test_crawl_reference_model():
    ref = W.CrawlReference()
    corpus = W.CrawlCorpus(0)
    first = [W.page_code(i) for i in corpus.seed_pages()[:5]]
    rows = ref.crawl(corpus, first, W.batch_now(0))
    assert ref.append_log(rows) == 0
    targets = {d for _, d in rows}
    undiscovered = targets - set(first)
    assert ref.frontier(W.batch_now(1), 10_000) == undiscovered
    # Crawled pages come due again once the 30-day back-off has passed.
    assert ref.frontier("2026-02-03 23:59:59", 10_000) == undiscovered
    assert ref.frontier("2026-02-04 00:00:00", 10_000) == undiscovered | set(first)
    degrees = ref.degrees()
    assert sum(out for _, out in degrees.values()) == len(rows)
    # A re-crawl replaces the page's links.
    again = ref.crawl(corpus, first[:1], W.batch_now(1))
    assert {d for s, d in again} == ref.links[first[0]]
    assert ref.compact_log() == 1 and ref.log[1] == ref.log[0]


def test_digest_rejects_a_perturbed_row():
    cols = ["id", "score", "name"]
    rows = [(1, 0.5, "a"), (2, 1.25, "b"), (3, None, "c")]
    base = digest(cols, rows)
    assert digest(list(reversed(cols)), [tuple(reversed(r)) for r in rows]) == base
    assert digest(cols, list(reversed(rows))) == base
    for perturbed in (
        [(1, 0.5, "a"), (2, 1.2500000001, "b"), (3, None, "c")],
        [(1, 0.5, "a"), (2, 1.25, "B"), (3, None, "c")],
        [(1, 0.5, "a"), (2, 1.25, "b")],
        [(1, 0.5, "a"), (2, 1.25, "b"), (3, None, "c"), (3, None, "c")],
    ):
        assert digest(cols, perturbed) != base


def test_batch_check_rejects_a_wrong_output():
    plan, _ = W.plan_crawl(3, 2)
    batch = plan[1]
    good = {"frontier": set(batch.frontier), "version": batch.version, "compacted": None,
            "travel_rows": list(batch.travel_rows)}
    assert Bench.check_batch(1, batch, good)
    for key, wrong in (("frontier", set(batch.frontier) - {min(batch.frontier)}),
                       ("version", batch.version + 1),
                       ("travel_rows", batch.travel_rows[1:])):
        assert not Bench.check_batch(1, batch, {**good, key: wrong})


def run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCHMARK[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke_run_is_correct_and_emits_the_declared_metrics(workload):
    result = run_bench(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    emitted = {k: v["unit"] for k, v in result["metrics"].items()}
    assert emitted == declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_emits_the_declared_layer_metrics():
    result = run_bench("crawl_ingest", trace=1)
    assert result["correct"]
    emitted = {k: v["unit"] for k, v in result["metrics"].items()}
    assert emitted == declared("per_layer")


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "iterative", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
