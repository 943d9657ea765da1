"""Operator unit tests (SURVEY.md §5.2 item 2): the cases the sf
fixtures under-sample — nulls, ties, empties — plus algorithm-level
checks for the non-oracle ops (PageRank fixpoint, MinHash recall,
HTML parsing, multimodal plumbing, sinks)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_UNIT
from tropology_spark import QUERIES


def test_pagerank_matches_numpy(spark):
    """graph_pagerank3 equals an independent dense NumPy computation of
    the same recurrence on the same graph."""
    import numpy as np

    from tropology_spark.sources.tables import edges

    e = [(r["src"], r["dst"]) for r in edges(spark, SF_UNIT).collect()]
    nodes = sorted({f"c:{s}" for s, _ in e} | {f"p:{d}" for _, d in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for s, d in e:
        adj[idx[f"c:{s}"], idx[f"p:{d}"]] = 1.0
        adj[idx[f"p:{d}"], idx[f"c:{s}"]] = 1.0
    deg = adj.sum(axis=1)
    pr = np.ones(n)
    for _ in range(3):
        pr = 0.15 + 0.85 * (adj.T @ (pr / deg))
    got = {
        r["node"]: r["pr_micro"] / 1e6
        for r in QUERIES["graph_pagerank3"](spark, SF_UNIT).collect()
    }
    assert len(got) == n
    for node, i in idx.items():
        assert got[node] == pytest.approx(pr[i], abs=2e-6), node


def test_minhash_recall_of_jaccard_pairs(spark):
    """Every Jaccard>=0.5 pair (J2 ground truth) must appear among the
    LSH candidates — the property that makes J3 a valid J2 scale-out."""
    true = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_jaccard_pairs"](spark, SF_UNIT).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_UNIT).collect()
    }
    assert true, "fixtures should contain near-dup pairs (FIXTURES.md §5)"
    missed = true - cand
    assert not missed, f"LSH missed true near-dups: {sorted(missed)[:5]}"


def test_null_semantics_inline(spark):
    """Fixtures store no NULLs (FIXTURES.md §4); exercise null ops on an
    inline frame."""
    df = spark.createDataFrame(
        [(1, None), (2, "err"), (3, None)], "id int, msg string"
    )
    out = df.select(
        "id",
        F.col("msg").isNull().alias("ok"),
        F.coalesce(F.col("msg"), F.lit("-")).alias("m"),
    ).collect()
    assert [(r["ok"], r["m"]) for r in sorted(out, key=lambda r: r["id"])] == [
        (True, "-"),
        (False, "err"),
        (True, "-"),
    ]


def test_rank_tie_semantics_inline(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("b", 10.0), ("c", 5.0)], "k string, v double"
    )
    w = Window.orderBy(F.col("v").desc())
    rows = {
        r["k"]: (r["rnk"], r["drnk"])
        for r in df.select(
            "k", F.rank().over(w).alias("rnk"), F.dense_rank().over(w).alias("drnk")
        ).collect()
    }
    assert rows["a"] == (1, 1) and rows["b"] == (1, 1) and rows["c"] == (3, 2)


def test_exact_sum_is_partitioning_invariant(spark):
    """Cent-exact sums must not depend on the number of partitions."""
    from tropology_spark.functions.exact import exact_sum

    data = [(i, 0.005 + i * 0.015) for i in range(1000)]
    df = spark.createDataFrame(data, "id int, v double")
    vals = set()
    for parts in (1, 7, 32):
        v = (
            df.repartition(parts)
            .agg(exact_sum(F.col("v"), 2).alias("s"))
            .collect()[0]["s"]
        )
        vals.add(v)
    assert len(vals) == 1


def test_html_parse_links_and_redirect(spark):
    from tropology_spark.sources import html as H

    page = """
    <html><head><title> Cowboy Bebop </title>
    <meta property="og:url" content="http://tvtropes.org/pmwiki/pmwiki.php/Anime/CowboyBebop"/>
    </head><body>
    <a href="http://tvtropes.org/pmwiki/pmwiki.php/Main/SpaceWestern">x</a>
    <a href='/pmwiki/pmwiki.php/Main/BountyHunter'>y</a>
    <a href="/pmwiki/pmwiki.php/Main/BountyHunter">dup</a>
    <a href="http://elsewhere.org/other">ignored</a>
    </body></html>"""
    frontier = spark.createDataFrame(
        [("http://tvtropes.org/pmwiki/pmwiki.php/Anime/CowboyBebop", page),
         ("http://tvtropes.org/pmwiki/pmwiki.php/Anime/OldName", page)],
        "url string, html string",
    )
    rows = {r["url"]: r for r in H.parse_pages(frontier).collect()}
    direct = rows["http://tvtropes.org/pmwiki/pmwiki.php/Anime/CowboyBebop"]
    assert direct["code"] == "anime/cowboybebop"
    assert direct["category"] == "anime"
    assert direct["title"] == "Cowboy Bebop"
    assert direct["is_redirect"] == "false"
    assert direct["links"] == ["main/bountyhunter", "main/spacewestern"]
    redirected = rows["http://tvtropes.org/pmwiki/pmwiki.php/Anime/OldName"]
    assert redirected["is_redirect"] == "true"
    assert redirected["code"] == "anime/cowboybebop"


def test_multimodal_feature_extraction(spark):
    from tropology_spark.operators import multimodal as MM

    payloads = [(bytearray(f"media-{i}".encode() * 10),) for i in range(8)]
    df = spark.createDataFrame(payloads, "payload binary")
    media = MM.attach_media(df, "payload", "image/fake")
    feats = MM.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 8
    for r in rows:
        raw = bytes(r["n_bytes"])  # placeholder; recompute below
    by_sha = {r["sha256"]: r for r in rows}
    for (p,) in payloads:
        sha = hashlib.sha256(bytes(p)).hexdigest()
        r = by_sha[sha]
        assert r["n_bytes"] == len(p)
        assert len(r["features"]) == MM.FEATURE_DIM
        assert r["features"] == [
            pytest.approx(b / 255.0) for b in hashlib.sha256(bytes(p)).digest()[: MM.FEATURE_DIM]
        ]
    # decode hook is a declared stub
    with pytest.raises(NotImplementedError):
        MM.decode_payload(b"x", "image/png")


def test_upsert_sink_newest_wins_and_idempotent(spark, tmp_path):
    from tropology_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "pages")
    v1 = spark.createDataFrame(
        [("a/x", "t1", 1), ("a/y", "t1", 1)], "code string, title string, v int"
    )
    upsert_parquet(spark, v1, path, key="code", version_col="v")
    v2 = spark.createDataFrame(
        [("a/x", "t2", 2), ("a/z", "t1", 1)], "code string, title string, v int"
    )
    upsert_parquet(spark, v2, path, key="code", version_col="v")
    rows = {r["code"]: r["title"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a/x": "t2", "a/y": "t1", "a/z": "t1"}
    # idempotent: replay the same batch
    upsert_parquet(spark, v2, path, key="code", version_col="v")
    rows2 = {r["code"]: r["title"] for r in spark.read.parquet(path).collect()}
    assert rows2 == rows


def test_partitioned_sink_prunes(spark, tmp_path):
    from tropology_spark.sources.sinks import write_partitioned
    from tropology_spark.sources.tables import load

    path = str(tmp_path / "orders_part")
    orders = load(spark, SF_UNIT, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_partitioned(orders, path, ["order_year"], sort_col="o_orderkey")
    back = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    expected = orders.filter(F.col("order_year") == 1997).count()
    assert back.count() == expected
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain()
    assert "PartitionFilters" in buf.getvalue()


def test_jdbc_reader_options_assemble(spark):
    """A4 — no database in this environment; the partitioned-read
    configuration (the scale-relevant part) must assemble cleanly."""
    from tropology_spark.sources.jdbc import partitioned_jdbc_reader

    reader = partitioned_jdbc_reader(
        spark, "jdbc:postgresql://host/db", "pages",
        partition_column="id", lower_bound=0, upper_bound=1_000_000,
        num_partitions=32,
    )
    assert reader is not None


def test_connected_components_on_disconnected_graph(spark):
    """Two disjoint cliques + an isolated edge → 3 components, each
    labeled by its lexicographically smallest node."""
    from tropology_spark.operators.graph import connected_components

    edges = [("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("c1", "c2"), ("a3", "a4")]
    bi = spark.createDataFrame(
        edges + [(v, u) for u, v in edges], "u string, v string"
    )
    comp = {r["node"]: r["comp"] for r in connected_components(bi).collect()}
    assert comp == {
        "a1": "a1", "a2": "a1", "a3": "a1", "a4": "a1",
        "b1": "b1", "b2": "b1",
        "c1": "c1", "c2": "c1",
    }


def test_iterative_graph_broadcast_and_shuffle_paths_equal(spark):
    """The size-thresholded join strategies (broadcast vs co-partitioned
    shuffle-hash) of the iterative loops are physically different plans
    for the SAME computation — outputs must match exactly on the sf
    fixture graph."""
    from pyspark.sql import functions as F

    from tropology_spark.operators.graph import connected_components, pagerank
    from tropology_spark.sources.tables import edges

    e = edges(spark, SF_UNIT)
    bi = (
        e.select(F.concat(F.lit("c:"), F.col("src").cast("string")).alias("u"),
                 F.concat(F.lit("p:"), F.col("dst").cast("string")).alias("v"))
        .unionByName(
            e.select(F.concat(F.lit("p:"), F.col("dst").cast("string")).alias("u"),
                     F.concat(F.lit("c:"), F.col("src").cast("string")).alias("v")))
    )
    micro = F.floor(F.col("pr") * 1e6 + F.lit(0.5)).cast("bigint")
    pr_b = {r["node"]: r["m"] for r in
            pagerank(bi, use_broadcast=True).select("node", micro.alias("m")).collect()}
    pr_s = {r["node"]: r["m"] for r in
            pagerank(bi, use_broadcast=False).select("node", micro.alias("m")).collect()}
    assert pr_b == pr_s

    cc_b = {r["node"]: r["comp"] for r in connected_components(bi, use_broadcast=True).collect()}
    cc_s = {r["node"]: r["comp"] for r in connected_components(bi, use_broadcast=False).collect()}
    assert cc_b == cc_s


def test_entry_golden_sf0001(spark):
    """SURVEY.md §5.2 item 6 — the flagship result at sf0.001 pinned to
    checked-in golden values (guards against silent semantics drift)."""
    import __spark_entry__ as E

    rows = [(r["r_name"], r["revenue"], r["n_items"]) for r in E.entry(spark).collect()]
    assert rows == [
        ("AMERICA", 12849601.14, 248),
        ("MIDDLE EAST", 10198106.87, 205),
        ("AFRICA", 9457989.83, 191),
        ("EUROPE", 8649702.37, 168),
        ("ASIA", 7327627.59, 150),
    ]


def test_salted_join_and_count_equal_plain(spark):
    """Skew utilities (plans/skew.py): salted results must equal the
    straightforward plan on data with one celebrity key."""
    from tropology_spark.plans.skew import salted_count, salted_join

    rows = [(0, f"v{i}") for i in range(500)] + [(k, "x") for k in range(1, 20)]
    fact = spark.createDataFrame(rows, "k int, payload string")
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(20)], "k int, attr string")

    plain = sorted(
        (r["k"], r["payload"], r["attr"])
        for r in fact.join(dim, "k").collect()
    )
    salted = sorted(
        (r["k"], r["payload"], r["attr"])
        for r in salted_join(fact, dim, "k", n_salt=4).collect()
    )
    assert salted == plain

    plain_counts = {r["k"]: r["count"] for r in fact.groupBy("k").count().collect()}
    salted_counts = {r["k"]: r["n"] for r in salted_count(fact, "k", n_salt=4).collect()}
    assert salted_counts == plain_counts


def test_word_ngrams_short_docs(spark):
    """word_ngrams must return an EMPTY array (not descending-sequence
    garbage) when the doc has fewer than n tokens."""
    from pyspark.sql import functions as F

    from tropology_spark.operators.pipeline_ops import word_ngrams

    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("a",), ("",)], "text string"
    ).select(word_ngrams(F.split(F.col("text"), " "), 3).alias("g"))
    got = [r["g"] for r in df.collect()]
    assert got == [["a b c", "b c d"], [], [], []]


def test_cluster_canonical_groups_transitive_chain(spark):
    """graph.min_label_rounds, the dedup clustering primitive: a
    transitive near-dup chain A~B, B~C (A and C NOT direct pairs) must
    collapse to one canonical id within the 3 fixed label rounds."""
    from pyspark.sql import functions as F

    from tropology_spark.operators.dedup import jaccard_pairs
    from tropology_spark.operators.graph import min_label_rounds

    base = " ".join(f"tok{i}" for i in range(40))
    chain = {
        10: base,
        11: base.replace("tok39", "alt39"),          # ~ A (39/41 common)
        12: base.replace("tok39", "alt39").replace("tok38", "alt38"),  # ~ B
        99: " ".join(f"other{i}" for i in range(40)),  # unrelated
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in chain.items()], "doc_id long, text string"
    )
    pairs = jaccard_pairs(docs, block_width=0, threshold=0.95)
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (10, 11) in got_pairs and (11, 12) in got_pairs
    assert (10, 12) not in got_pairs  # 38/42 = 0.905 < 0.95: chain, not clique

    # The operators' propagation primitive over the pair graph: 3
    # rounds must reach label 10 for the whole chain.
    def rounds3(pairs, ids):
        und = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        labels = ids.select("doc_id", F.col("doc_id").alias("lbl"))
        return {r["doc_id"]: r["lbl"] for r in min_label_rounds(und, labels, 3).collect()}

    assert rounds3(pairs, docs) == {10: 10, 11: 10, 12: 10, 99: 99}

    # Bounded rounds are a refinement, not components: on the path
    # 1-2-3-4-5 node 5 is 4 hops from 1, so after 3 rounds it carries
    # 2; the isolated node 6 keeps its own label.
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    assert rounds3(path, ids) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 6}


def test_min_label_rounds_materializes_once(spark, monkeypatch):
    """The fused rounds read the label vector once each, so the whole
    loop is checkpointed once at the end — never per round."""
    from tropology_spark.operators import graph

    calls = []
    real = graph.iter_materialize

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(graph, "iter_materialize", counting)
    und = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 2)], "u long, v long")
    labels = spark.createDataFrame([(i, i) for i in (1, 2, 3)], "doc_id long, lbl long")
    got = graph.min_label_rounds(und, labels, rounds=3)
    assert len(calls) == 1
    assert sorted(map(tuple, got.collect())) == [(1, 1), (2, 1), (3, 1)]


def test_txlog_append_overwrite_timetravel(spark, tmp_path):
    """Transactional sink: snapshot isolation, append/overwrite commits,
    time travel, and invisibility of uncommitted data files."""
    from tropology_spark.sources.txlog import tx_read, tx_versions, tx_write

    path = str(tmp_path / "tx_table")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")

    v0 = tx_write(spark, df1, path, mode="overwrite")
    v1 = tx_write(spark, df2, path, mode="append")
    assert (v0, v1) == (0, 1)
    assert tx_versions(path) == [0, 1]

    latest = {r["id"] for r in tx_read(spark, path).collect()}
    assert latest == {1, 2, 3}
    # time travel to v0
    old = {r["id"] for r in tx_read(spark, path, version=0).collect()}
    assert old == {1, 2}

    # overwrite replaces the snapshot but v0/v1 stay readable
    df3 = spark.createDataFrame([(9, "z")], "id long, v string")
    tx_write(spark, df3, path, mode="overwrite")
    assert {r["id"] for r in tx_read(spark, path).collect()} == {9}
    assert {r["id"] for r in tx_read(spark, path, version=1).collect()} == {1, 2, 3}

    # an orphan data dir (crash before manifest) is invisible
    import os

    orphan = os.path.join(path, "data", "b-orphan")
    df1.write.parquet(orphan)
    assert {r["id"] for r in tx_read(spark, path).collect()} == {9}


def test_txlog_commit_race_retries(spark, tmp_path):
    """Losing the version race must retry against the new tip, not
    clobber the winner's manifest."""
    import json
    import os

    from tropology_spark.sources.txlog import _manifest_path, tx_read, tx_write

    path = str(tmp_path / "tx_race")
    tx_write(spark, spark.createDataFrame([(1,)], "id long"), path, mode="overwrite")

    # Simulate a concurrent winner for version 1.
    os.makedirs(os.path.dirname(_manifest_path(path, 1)), exist_ok=True)
    with open(_manifest_path(path, 1), "w") as fh:
        json.dump({"version": 1, "mode": "append", "files": []}, fh)

    v = tx_write(spark, spark.createDataFrame([(2,)], "id long"), path, mode="append")
    assert v == 2
    # winner's (empty) manifest untouched; v2 = v0 files + new files
    # (append folds from the tip manifest, which named no files)
    assert {r["id"] for r in tx_read(spark, path, version=2).collect()} == {2}


def test_cli_list_run_oracle_sql(spark, capsys):
    """M19 — the CLI surface: list every query, run one, print an
    oracle, and execute ad-hoc SQL over the registered views, all
    without stopping the shared test session."""
    import json as _json

    from tropology_spark import QUERIES, cli

    assert cli.main(["list"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == len(QUERIES)

    assert cli.main(["oracle", "dedup_exact"]) == 0
    assert "md5(text)" in capsys.readouterr().out

    assert cli.main(["run", "flagship_revenue_by_region", "--sf-dir", SF_UNIT]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 5 and {"r_name", "revenue", "n_items"} <= set(rows[0])

    assert (
        cli.main(["sql", "SELECT count(*) AS n FROM lineitem", "--sf-dir", SF_UNIT])
        == 0
    )
    out = _json.loads(capsys.readouterr().out.strip())
    assert out == {"n": 6000}
    # session must still be alive for subsequent tests
    assert spark.sql("SELECT 1 AS x").collect()[0]["x"] == 1


def test_csv_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """Format wrappers: documents round-trip CSV AND JSONL exactly
    (embedded spaces, unicode-safe), and malformed JSONL rows land in
    quarantine instead of killing the read."""
    from tropology_spark.sources import formats as FF
    from tropology_spark.sources.tables import load

    docs = load(spark, SF_UNIT, "documents")
    want = sorted(tuple(r) for r in docs.collect())

    csv_path = str(tmp_path / "docs_csv")
    FF.write_csv(docs, csv_path)
    back_csv, corrupt_csv = FF.quarantine_split(FF.read_csv(spark, csv_path, docs))
    assert sorted(tuple(r) for r in back_csv.collect()) == want
    assert corrupt_csv.count() == 0

    jl_path = str(tmp_path / "docs_jsonl")
    FF.write_jsonl(docs, jl_path)
    back_jl, corrupt_jl = FF.quarantine_split(FF.read_jsonl(spark, jl_path, docs))
    assert sorted(tuple(r) for r in back_jl.collect()) == want
    assert corrupt_jl.count() == 0

    # malformed line → quarantined, clean rows survive
    bad = str(tmp_path / "bad.jsonl")
    with open(bad, "w") as fh:
        fh.write('{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n')
        fh.write("THIS IS NOT JSON\n")
    clean, corrupt = FF.quarantine_split(FF.read_jsonl(spark, bad, docs))
    assert clean.count() == 1 and corrupt.count() == 1
    assert corrupt.collect()[0][0] == "THIS IS NOT JSON"


def test_txlog_compact_preserves_rows_and_history(spark, tmp_path):
    """Compaction rewrites the snapshot as one batch: same rows, fewer
    files in the new manifest, old versions untouched."""
    from tropology_spark.sources.txlog import (
        _read_manifest,
        tx_compact,
        tx_read,
        tx_versions,
        tx_write,
    )

    path = str(tmp_path / "tx_compact")
    for i in range(3):
        tx_write(
            spark,
            spark.createDataFrame([(i, f"v{i}")], "id long, v string").repartition(2),
            path,
            mode="append",
        )
    before = _read_manifest(path, tx_versions(path)[-1])
    v = tx_compact(spark, path)
    after = _read_manifest(path, v)
    assert {tuple(r) for r in tx_read(spark, path).collect()} == {
        (0, "v0"), (1, "v1"), (2, "v2")
    }
    assert len(after["files"]) < len(before["files"])
    # history intact
    assert tx_read(spark, path, version=0).count() == 1


def test_ivf_recall_on_clustered_data(spark):
    """ANN quality gate: on CLUSTERED vectors (the distribution IVF is
    built for — the fixture's near-orthogonal random vectors are not),
    2-probe IVF top-k must recover the full brute-force top-k, which
    lives inside the query's own cluster."""
    import math
    import random

    from tropology_spark.operators.similarity import ivf_topk

    rng = random.Random(7)
    dim, per_cluster = 8, 12
    rows = []
    vid = 0
    for c in range(4):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in center))
        center = [x / n for x in center]
        for _ in range(per_cluster):
            vec = [x + rng.uniform(-0.05, 0.05) for x in center]
            rows.append((vid, c, vec))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    got = {r["vec_id"] for r in ivf_topk(emb, query_vec_id=0, k=5, dim=dim).collect()}
    # Brute-force top-5 for vec 0 (python replay)
    def cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dp / (na * nb)

    q = rows[0][2]
    brute = sorted(
        ((cos(q, v), i) for i, _, v in rows if i != 0), reverse=True
    )[:5]
    want = {i for _, i in brute}
    assert got == want


def test_lloyd_refinement_improves_assignment_quality(spark):
    """Round-6 quantizer upgrade (VERDICT r5 item 5): on clustered
    vectors with a 50%-corrupted seed labeling, Lloyd refinement must
    raise the k-means objective — the mean cosine between each vector
    and its assigned centroid — over the one-shot assignment
    (measured 0.913 -> 0.997 at convergence).  This pins the benefit
    where cluster structure exists; the sf fixtures are unclustered,
    which is exactly why the registered sim_ivf_topk stays one-shot
    (its 2-probe recall@10 audit would DROP under refinement there —
    see the sim_ivf_topk docstring)."""
    import math
    import random

    from tropology_spark.operators.similarity import as_double, lloyd_rounds, norm

    rng = random.Random(7)
    dim, per = 8, 12
    rows, vid = [], 0
    for c in range(4):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in center))
        center = [x / n for x in center]
        for _ in range(per):
            vec = [x + rng.uniform(-0.05, 0.05) for x in center]
            lab = c if rng.random() > 0.5 else rng.randrange(4)
            rows.append((vid, lab, vec))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    e = (
        emb.select("vec_id", "label", as_double(F.col("embedding")).alias("emb"))
        .withColumn("nv", norm(F.col("emb")))
        .localCheckpoint()
    )

    def mean_assigned_ccos(iters: int) -> float:
        vc, assign = lloyd_rounds(
            e.select("vec_id", "emb", "nv"),
            e.select("vec_id", F.col("label").alias("cell")),
            iters,
            dim=dim,
        )
        return assign.join(vc, ["vec_id", "cell"]).agg(F.avg("ccos")).collect()[0][0]

    one_shot = mean_assigned_ccos(1)
    refined = mean_assigned_ccos(3)
    assert refined > one_shot + 0.05, (one_shot, refined)
    assert refined > 0.99, refined


def test_approx_distinct_error_bound(spark):
    """D4 (rows-only) — the HLL++ estimate must sit within 5% relative
    error of the exact per-group distinct count (the default rsd is
    0.05; engine-specific values are WHY it has no oracle, bounded
    error is why it is still correct)."""
    approx = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["agg_approx_distinct"](spark, SF_UNIT).collect()
    }
    from tropology_spark.sources.tables import load

    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, SF_UNIT, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, approx[k], n)


def test_limit_unordered_contract(spark):
    """F3 (rows-only) — LIMIT without ORDER BY must return exactly N
    rows and every row must exist in the source (content is
    nondeterministic, the contract is not)."""
    got = QUERIES["limit_unordered"](spark, SF_UNIT).collect()
    assert len(got) == 50
    from tropology_spark.sources.tables import load

    src = {
        (r["l_orderkey"], r["l_linenumber"])
        for r in load(spark, SF_UNIT, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .collect()
    }
    assert all((r["l_orderkey"], r["l_linenumber"]) in src for r in got)


def test_connected_components_high_diameter_path(spark):
    """M8 — pointer jumping must converge a diameter-200 path within
    max_iter=10 cycles (pure 2-hop propagation would cover only 20 of
    the 200 hops and return an unconverged refinement)."""
    from tropology_spark.operators.graph import connected_components

    n = 200
    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    e = spark.createDataFrame(rows, "u string, v string")
    bi = e.unionByName(e.selectExpr("v AS u", "u AS v"))
    comp = {r["node"]: r["comp"] for r in connected_components(bi, max_iter=10).collect()}
    assert len(comp) == n + 1
    assert set(comp.values()) == {"n000"}


def test_sessionize_conserves_events_and_numbers_sessions_contiguously(spark):
    """M57: sessions partition the event stream — per-user event counts
    are conserved, and session numbers are 1..n_sessions with no gap."""
    from tropology_spark import QUERIES
    from tropology_spark.sources.tables import load

    sess = QUERIES["ts_sessionize"](spark, SF_UNIT)
    per_user = (
        sess.groupBy("user_id")
        .agg(
            F.sum("n_events").alias("total"),
            F.countDistinct("sess_seq").alias("n_sessions"),
            F.max("sess_seq").alias("max_seq"),
            F.min("sess_seq").alias("min_seq"),
        )
        .collect()
    )
    truth = {
        r["user_id"]: r["cnt"]
        for r in load(spark, SF_UNIT, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert per_user, "no sessions produced"
    for r in per_user:
        assert r["total"] == truth[r["user_id"]]
        assert r["min_seq"] == 1 and r["max_seq"] == r["n_sessions"]


def test_motif_counts_satisfy_handshake_identities(spark):
    """M56/M65: per-node triangle counts sum to 3x the triangle total;
    butterfly counts sum to 2x the butterfly total (each motif is
    counted once per participating node)."""
    from tropology_spark import QUERIES

    tri_total = QUERIES["graph_triangles"](spark, SF_UNIT).agg(
        F.sum("n_triangles")
    ).collect()[0][0]
    assert tri_total is None or tri_total % 3 == 0
    bf_total = QUERIES["graph_butterflies"](spark, SF_UNIT).agg(
        F.sum("n_butterflies")
    ).collect()[0][0]
    assert bf_total is not None and bf_total % 2 == 0


def test_hub_cap_projection_is_a_sparsifying_subset(spark):
    """M56 scale lever — the hub-capped co-purchase projection must be
    a subset of the uncapped one (dropping a hub part can only lower a
    pair's shared count), and a cap above the max part degree must be
    a no-op."""
    from tropology_spark.operators.graph_motifs import copurchase_projection

    base = {
        (r["u"], r["v"])
        for r in copurchase_projection(spark, SF_UNIT).collect()
    }
    nocap = {
        (r["u"], r["v"])
        for r in copurchase_projection(spark, SF_UNIT, hub_cap=10**9).collect()
    }
    capped = {
        (r["u"], r["v"])
        for r in copurchase_projection(spark, SF_UNIT, hub_cap=20).collect()
    }
    assert nocap == base
    assert capped <= base
    assert base, "projection unexpectedly empty at SF_UNIT"


def test_cli_explain_prints_physical_plan(spark, capsys):
    """The explain subcommand must print the formatted physical plan
    for a declared query."""
    from tropology_spark import cli

    rc = cli.main(["explain", "scan_project", "--mode", "formatted"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out and "Scan parquet" in out


def test_orc_roundtrip(spark, tmp_path):
    """M119: ORC round-trip preserves rows and schema exactly (ORC
    carries its own types, so no explicit-schema discipline needed)."""
    from tropology_spark.sources import formats as FF
    from tropology_spark.sources.tables import load

    docs = load(spark, SF_UNIT, "documents")
    path = str(tmp_path / "docs_orc")
    FF.write_orc(docs, path)
    back = FF.read_orc(spark, path)
    assert back.schema == docs.schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in docs.collect()
    )


def test_twohop_capped_splits_celebrity_path(spark):
    """M119 — on a synthetic power-law graph the degree cap must (a)
    classify exactly the celebrity dst as hot, (b) keep celebrity edges
    OUT of the wedge pair join (pair count bounded by cap·|E_cold|, not
    Σ deg²), and (c) still produce the exact declared semantics,
    cross-checked against a brute-force Python computation."""
    from itertools import combinations

    from tropology_spark.operators.graph import twohop_capped_frames

    # One celebrity dst (degree 12) + a cold tail of degree-2/3 dsts.
    edges = [(s, 900) for s in range(12)]
    edges += [(0, 1), (1, 1), (2, 2), (3, 2), (4, 2), (5, 3), (6, 3), (13, 4)]
    cap = 4
    e = spark.createDataFrame(edges, "src long, dst long")
    result, hot = twohop_capped_frames(e, cap)

    hot_rows = {(r["dst"], r["d"]) for r in hot.collect()}
    assert hot_rows == {(900, 12)}  # (a) exactly the celebrity is hot

    # (b) the wedge input excludes the celebrity: cold pair volume is
    # sum C(deg,2) over cold dsts only.
    cold = [(s, d) for s, d in edges if d != 900]
    from collections import defaultdict

    by_dst = defaultdict(set)
    for s, d in cold:
        by_dst[d].add(s)
    cold_pairs = {
        frozenset(p) for members in by_dst.values() for p in combinations(members, 2)
    }
    # (c) brute-force the declared semantics.
    partners = defaultdict(set)
    for p in cold_pairs:
        a, b = tuple(p)
        partners[a].add(b)
        partners[b].add(a)
    hot_touch = defaultdict(list)
    for s, d in edges:
        if d == 900:
            hot_touch[s].append(12)
    expect = {
        s: (len(partners[s]), len(hot_touch[s]), sum(x - 1 for x in hot_touch[s]))
        for s in {s for s, _ in edges}
    }
    got = {
        r["custkey"]: (r["n_twohop_cold"], r["n_hot_parts"], r["hot_exposure"])
        for r in result.collect()
    }
    assert got == expect


def test_upgraded_oracle_partitioning_invariance(spark):
    """CLAUDE.md invariant, third-setting edition: the upgraded-oracle
    set (md5 sampling, MinHash-LSH, PageRank, KMV approx-distinct,
    capped two-hop) must produce IDENTICAL value sets under three
    shuffle-partition settings — whatever partition counts the
    driver's AQE picks can never flip a result hash.  Session caches
    are cleared per setting so the materialized views genuinely
    re-derive under each partitioning."""
    from tests.parity import canon_rows, spark_result
    from tropology_spark import QUERIES
    from tropology_spark.sources.tables import clear_session_caches

    names = [
        "graph_sample_nodes",
        "dedup_minhash_lsh",
        "graph_pagerank3",
        "agg_approx_distinct",
        "graph_twohop_capped",
        # round-5 driver queue (M124-M133): rank/ntile-based queries
        # are the highest partitioning-sensitivity class — unique
        # tie-breaks pinned here BEFORE the driver samples them
        "graph_label_prop3",
        "ts_sax_symbols",
        "agg_cms_matrix",
        "stream_window_topk_1h",
        "text_dup_span_frac",
        "dedup_lsh_recall",
        "pipeline_epoch_shuffle",
        "graph_modularity_terms",
        "join_asof_forward",
        "stream_dedup_counts",
        # round-5 additions (M134-M143)
        "graph_butterflies_capped",
        "graph_clustering_pairs_capped",
        "stream_running_counts",
        "stream_static_join_counts",
        "agg_kmv_intersect",
        "analytics_cohort_revenue",
        "analytics_stickiness_terms",
        "dedup_topk_similar",
        "pipeline_token_fertility",
        "sim_maxsim_topk",
        "ts_corr_terms",
        "sub_any_all",
        "pipeline_dup_rate_by_source",
        "mm_bytes_histogram",
        "sim_cluster_cohesion",
        "graph_related_tropes",
        "analytics_time_to_convert",
        "sim_topk_l2",
        "pipeline_split_leakage",
        "analytics_activity_histogram",
        "topk_with_ties",
        "ts_peak_hours",
        "fn_date_intervals",
        "analytics_rfm_segments",
        "join_asof_nearest",
        "fn_hash_sha2",
        "sim_batch_topk",
        "agg_kmv_audit",
        "pipeline_length_profile",
        "ts_session_revenue",
        "text_token_rank_score",
        "ts_wow_delta",
        "text_prefix_block_profile",
        "graph_trope_lift",
        "analytics_mau_kmv_audit",
        # round-6: the global-order rewrites (plans/global_order.py) —
        # range-boundary placement must never flip a rank
        "pipeline_interleave_sources",
        # round-6 additions (M169+)
        "agg_collect_neighbors_capped",
        "analytics_dau_streaks",
        "analytics_basket_pairs",
        "ts_burst_hours",
        "text_char_trigram_profile",
        "pipeline_bloom_dedup_audit",
        "agg_quantile_sketch_audit",
        "fn_url_parse",
        "pipeline_global_deciles",
        "sim_lsh_recall",
        "text_vocab_jaccard_sources",
        "graph_ra_recommend",
        "ts_gap_report",
        "sim_pq_recall",
        "text_rake_keywords",
        "sub_not_in_null",
        "mm_chunk_manifest",
        "analytics_event_type_overlap",
        "agg_mergeable_stats_audit",
        "pipeline_split_ks_audit",
        "dedup_embedding_clusters",
        "graph_struct_equiv",
        "ts_coverage_union",
        "analytics_gini_spend",
        "analytics_order_gap_histogram",
        "analytics_session_paths",
        "ts_rolling_median",
        "ts_ship_latency_quantiles",
        "join_band_bucketed",
        "text_ngram_novelty",
        "mm_magic_bytes",
        "graph_pref_attachment",
        "sim_range_search",
        "text_boilerplate_blocks",
        "ts_seasonal_naive_error",
        "graph_triangle_support",
        "pipeline_column_profile",
        "ts_outlier_mad",
        "analytics_cumulative_reach",
        "text_hashed_features",
        "mm_chunk_dedup_stats",
        "analytics_spend_deciles",
        "dedup_lsh_band_stats",
        "pipeline_split_contamination",
        # round-6 close: the four legacy queries whose bounded-axis
        # windows moved to the pmod constant-key idiom — rank results
        # must stay partitioning-invariant under the new plans
        "text_vocab_oov",
        "pipeline_negative_sample",
        "analytics_new_vs_returning",
        "stream_latedrop_1h",
        # round-7 additions (M213+)
        "graph_ktruss",
        "agg_kmv_diff",
        "pipeline_pit_leakage_audit",
        "pipeline_stratified_reservoir",
        # round-7 rewrite: M2 re-blocked onto the learned quantizer
        # cell (clusters, its composition, is pinned above)
        "dedup_embedding_cosine",
        # round-8 additions (M217+)
        "join_asof_tolerance",
        "ts_sliding_distinct",
        "dedup_survivorship_report",
        "mm_stratified_sample",
        "text_bpe_merge2",
        "sim_ivf_cell_stats",
        # round-9 activations (M226-M242) + the three retuned bodies
        "fn_tz_day_profile",
        "text_bpe_vocab4",
        "join_skyline_pareto",
        "analytics_survival_curve",
        "ts_double_smooth",
        "graph_closure_rate_capped",
        "sim_rrf_fusion",
        "analytics_winback_counts",
        "ts_xcorr_lagged_terms",
        "mm_tiering_plan",
        "ts_open_orders_sweep",
        "pipeline_dataset_diff",
        "join_session_overlap",
        "analytics_window_funnel",
        "text_lang_confusion",
        "sim_recall_at_k_curve",
        "analytics_value_band_migration",
        "join_anti_frontier",
        "sub_scalar_global",
        "mm_dedup_exact",
        # round-10 activations (M243-M252)
        "join_range_2d_parts",
        "sim_ivf_batch_topk",
        "pipeline_compaction_plan",
        "text_pmi_collocations",
        "pipeline_profile_drift",
        "ts_haar_volatility",
        "graph_rich_club_terms",
        "analytics_chisq_priority_era",
        "graph_sample_neighbors2",
        "sim_matryoshka_recall",
        # round-11 activations (M253-M269)
        "pipeline_quota_sample",
        "analytics_ols_terms",
        "pipeline_rolling_cv_folds",
        "sim_bq_hamming_topk",
        "dedup_threshold_curve",
        "agg_weighted_median",
        "text_winnowing_fingerprints",
        "mm_cdc_chunking",
        "dedup_cluster3",
        "graph_path_counts3",
        "sim_ivf_probe_curve",
        "dedup_band_curve",
        "mm_payload_uniformity",
        "mm_phash_clusters",
        "agg_hll_audit",
        "text_simpson_concentration",
        "dedup_method_overlap",
        # round-12 activations (M270-M282)
        "sim_sq8_recall",
        "agg_ams_f2",
        "text_bm25_terms",
        "sim_graph_greedy_search",
        "ts_motif_counts",
        "sim_ivfpq_topk",
        "analytics_poisson_bootstrap",
        "pipeline_curriculum_stages",
        "sim_filtered_topk",
        "analytics_cuped_terms",
        "analytics_mannwhitney_terms",
        "ts_theilsen_micro",
        "sim_mmr_diversify",
        # round-13 activations (M283-M296)
        "text_heaps_curve",
        "dedup_minhash_estimate_error",
        "sim_hnsw_levels",
        "ts_walsh_spectrum",
        "mm_cdc_dedup_stats",
        "ts_spearman_terms",
        "analytics_did_terms",
        "pipeline_ldp_freq_audit",
        "join_feature_window",
        "graph_ball2_sizes",
        "pipeline_importance_weights",
        "sim_pq_distortion",
        "agg_cms_width_curve",
        "graph_reach2_hll_audit",
        # round-14 activations (M297-M308)
        "agg_exp_decay_counts",
        "text_burstiness_terms",
        "pipeline_cascade_marginals",
        "ts_hurst_rs_terms",
        "analytics_srm_audit",
        "agg_bloom_fpr_curve",
        "text_continuation_terms",
        "pipeline_truncation_loss_curve",
        "sim_quantizer_drift",
        "ts_record_hours",
        "analytics_sequential_counts",
        "graph_degree_gini",
        # round-15 activations (M309-M317)
        "agg_hll_m_curve",
        "mm_cdc_size_curve",
        "analytics_beta_posterior_terms",
        "text_winnowing_w_curve",
        "ts_paa_lb_audit",
        "graph_core_profile",
        "pipeline_contamination_ngram_curve",
        "sim_dim_variance_profile",
        "agg_join_size_ams",
        # round-16 activations (M318-M327)
        "sim_anisotropy_terms",
        "analytics_benford_audit",
        "pipeline_consistent_hash_moves",
        "ts_triangle_downsample",
        "pipeline_ldiversity_audit",
        "graph_wedge_sample_closure",
        "dedup_minhash_k_curve",
        "sim_pq_k_curve",
        "ts_local_maxima",
        "agg_higher_moments_terms",
        # round-17 activations (M328-M337)
        "agg_distinct_sample_curve",
        "text_zipf_rank_curve",
        "pipeline_shard_balance",
        "pipeline_reservoir_merge_audit",
        "ts_dominant_period",
        "agg_misra_gries_audit",
        "join_bloom_prefilter_audit",
        "sim_mutual_knn",
        "sim_rocchio_feedback",
        "analytics_lehr_sample_size",
        # round-18 activations (M338-M347)
        "ts_leadlag_matrix",
        "analytics_permutation_rank",
        "text_source_tv_matrix",
        "ts_seasonal_anova_terms",
        "graph_degree_quantiles",
        "analytics_qte_deciles",
        "pipeline_kanon_curve",
        "join_session_overlap_duration",
        "sim_label_scatter_terms",
        "analytics_ta_depth_curve",
        # round-19 activations (M348-M357)
        "ts_discord_days",
        "ts_linear_interpolate",
        "pipeline_loo_source_impact",
        "agg_log2_value_histogram",
        "sim_knn_hubness",
        "dedup_moss_pairs",
        "graph_katz3_score",
        "analytics_price_elasticity_terms",
        "pipeline_sample_bias_audit",
        "analytics_gini_by_month",
    ]
    from concurrent.futures import ThreadPoolExecutor

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results: dict[str, set] = {n: set() for n in names}
        rows_only: set = set()
        for parts in ("5", "13", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            clear_session_caches()

            # Round-20: the ~270 probes per setting run CONCURRENTLY
            # (the parity-suite thread-pool discipline; the per-key
            # build locks in cache_get_or_build make concurrent view
            # rebuilds share one build).  The conf is set once per
            # setting BEFORE the pool, so every probe in a wave plans
            # under the same partitioning; the barrier between
            # settings is the pool shutdown.  Sequential wall was
            # ~17 min — the single largest test in the suite.
            def probe(n: str) -> None:
                cols, rows = spark_result(QUERIES[n](spark, SF_UNIT))
                results[n].add(tuple(canon_rows(cols, rows)))

            with ThreadPoolExecutor(max_workers=6) as pool:
                list(pool.map(probe, names))
            # the permanent rows-only entry: row COUNT must be stable
            rows_only.add(QUERIES["limit_unordered"](spark, SF_UNIT).count())
        for n, seen in results.items():
            assert len(seen) == 1, f"{n} varies with shuffle partitioning"
        assert len(rows_only) == 1, "limit_unordered row count varies"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
        clear_session_caches()


def test_materialized_view_build_is_shared_across_threads(spark):
    """The per-key build locks must make concurrent cold-cache callers
    share ONE build: every thread gets the identical DataFrame handle
    (identity, not just equality), for both the edge view and the
    bi-directional view."""
    from concurrent.futures import ThreadPoolExecutor

    from tropology_spark.operators.dedup import (
        minhash_bands_materialized,
        simhash_keyed_materialized,
    )
    from tropology_spark.operators.graph import bi_materialized
    from tropology_spark.sources.tables import clear_session_caches, edges_materialized

    clear_session_caches()
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            handles = list(
                pool.map(lambda _: edges_materialized(spark, SF_UNIT), range(6))
            )
            bis = list(pool.map(lambda _: bi_materialized(spark, SF_UNIT), range(6)))
            bands = list(
                pool.map(lambda _: minhash_bands_materialized(spark, SF_UNIT), range(6))
            )
            keys = list(
                pool.map(lambda _: simhash_keyed_materialized(spark, SF_UNIT), range(6))
            )
        assert all(h is handles[0] for h in handles)
        assert all(b is bis[0] for b in bis)
        assert all(b is bands[0] for b in bands)
        assert all(k is keys[0] for k in keys)
    finally:
        clear_session_caches()


def test_driver_window_composition(spark):
    """The driver hash-checks the FIRST 50 registry entries.  Pin the
    round-19 window invariants so a module-import or registration-order
    change can never silently evict a query: the activated staged
    queries (never sampled) lead, and EVERY
    remaining window slot goes to the rotation queue — queries whose
    latest driver row is the OLDEST post-regeneration vintage (<= r11;
    the bound relaxes by one each time a fresher class becomes the
    oldest — the r10 class empties inside the round-19 window, so the
    50-row r11 class enters the rotation this round)
    or IS from the most
    recent driver round (a fresh row from the current round is the
    queue working, not a wasted slot — the r6 verdict's fix for the
    self-invalidating assertion; the max_round escape is deliberately
    loose past the head, which the pinned head positions compensate
    for).  Each windowed query must either carry an oracle or be the
    declared rows-only entry."""
    import json
    from pathlib import Path

    from tropology_spark import ORACLES, QUERIES, prioritize
    from tropology_spark import _R19_NEW

    latest: dict[str, int] = {}
    for f in Path(".").glob("CORRECTNESS_r*.json"):
        rnd = int(f.stem.split("_r")[-1])
        for k in json.loads(f.read_text()):
            latest[k] = max(latest.get(k, 0), rnd)
    max_round = max(latest.values(), default=0)
    window = list(QUERIES)[:50]
    head = _R19_NEW
    assert window[: len(head)] == head, window[: len(head)]
    never = [q for q in QUERIES if q not in latest]
    missing = [q for q in never if q not in set(window)]
    assert not missing, f"never-sampled queries outside the window: {missing}"
    for q in window[len(head):]:
        assert latest.get(q, 0) <= 11 or latest[q] == max_round, (
            f"non-stale query {q} burns a window slot"
        )
    for q in window:
        assert q in ORACLES or q == "limit_unordered", q
    # An unknown name must fail loudly and leave the order untouched.
    before = list(QUERIES)
    with pytest.raises(ValueError, match="no_such_query"):
        prioritize(["no_such_query"])
    assert list(QUERIES) == before
    # SURVEY §2.M totals line must stay in lockstep with the registry.
    import re

    m = re.search(
        r"round \d+ additions: \*\*(\d+) `queries\(\)`\nentries, (\d+) with full SQL oracles, (\d+) rows-only\*\*",
        Path("SURVEY.md").read_text(),
    )
    assert m, "SURVEY.md totals line not found / format drifted"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        len(QUERIES), len(ORACLES), len(QUERIES) - len(ORACLES),
    ), "SURVEY.md totals out of sync with the registry"


def test_boilerplate_block_guard_short_docs(spark):
    """ADVICE r6 (medium): for a document with < 8 tokens Spark's
    sequence(1, size div 8) is sequence(1, 0) = the DESCENDING [1, 0],
    which used to emit a partial block plus an empty-string block while
    the oracle emits nothing.  Pin the guarded expression: short docs
    yield zero blocks; 8..15 tokens yield exactly one."""
    rows = [
        ("five tokens only right here",),          # 5 → 0 blocks
        ("a b c d e f g h",),                      # 8 → 1 block
        ("a b c d e f g h i j k l m n o",),        # 15 → 1 block
        ("a b c d e f g h i j k l m n o p",),      # 16 → 2 blocks
    ]
    from tropology_spark.operators.text import _BLOCKS_EXPR as guarded

    df = spark.createDataFrame(rows, "text string").selectExpr(
        "split(text, ' ') AS l"
    )
    counts = [
        r[0]
        for r in df.selectExpr(f"size({guarded}) AS n").collect()
    ]
    assert counts == [0, 1, 1, 2], counts


def test_passjoin_blocking_prunes_skewed_brand(spark):
    """The fuzzy-join scale story (SURVEY §2 M12): on a CELEBRITY brand
    block — every string in one brand — PassJoin segment blocking must
    (a) generate far fewer candidate pairs than the brute-force C(n,2)
    brand block, and (b) verify to exactly the brute-force result.
    This is the test that makes the 100 TB claim code, not prose."""
    from tropology_spark.functions.scalar import passjoin_blocked_pairs

    words = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel"]
    rows = []
    for i in range(120):
        rows.append((i, "BRAND#1", f"{words[i % 8]} {words[(i * 3 + 1) % 8]} widget {i // 8}"))
    for i in range(20):  # planted near-dups: one appended char
        rows.append((1000 + i, "BRAND#1", f"{words[i % 8]} {words[(i * 3 + 1) % 8]} widget {i // 8}x"))
    p = spark.createDataFrame(
        rows, "p_partkey long, p_brand string, p_name string"
    ).withColumn("len", F.length("p_name"))
    cand, result = passjoin_blocked_pairs(p)
    n = len(rows)
    brute_pairs = n * (n - 1) // 2
    n_cand = cand.count()
    assert n_cand < brute_pairs * 0.5, (n_cand, brute_pairs)
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    brute = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 2)
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            dist.cast("bigint").alias("distance"),
        )
    )
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, brute.collect()))
    assert got == want and len(want) >= 20, (len(got), len(want))


def test_checkpoint_dir_swap(spark, tmp_path, monkeypatch):
    """TROPOLOGY_CHECKPOINT_DIR swaps the iterative loops from
    localCheckpoint to a RELIABLE checkpoint into that directory
    (SCALE.md watch-item 4): results must be identical, and the
    checkpoint dir must actually receive RDD checkpoint data."""
    import os

    from tropology_spark.operators.graph import connected_components
    from tropology_spark.sources.tables import clear_session_caches

    bi = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("x", "y"), ("y", "x")],
        "u string, v string",
    )
    local = {r["node"]: r["comp"] for r in connected_components(bi, strict=True).collect()}
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("TROPOLOGY_CHECKPOINT_DIR", ckdir)
    clear_session_caches()
    try:
        reliable = {
            r["node"]: r["comp"] for r in connected_components(bi, strict=True).collect()
        }
    finally:
        monkeypatch.delenv("TROPOLOGY_CHECKPOINT_DIR")
        clear_session_caches()
    assert reliable == local == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    # the reliable path really wrote checkpoint data
    found = [f for root, _d, fs in os.walk(ckdir) for f in fs]
    assert found, "no RDD checkpoint files written under TROPOLOGY_CHECKPOINT_DIR"


def test_checkpoint_dir_prefix_substring_still_reapplies(spark, tmp_path, monkeypatch):
    """ADVICE r14 (low): the staleness check used substring
    containment (`ckdir not in cur`), so switching the env from
    /tmp/ckpt-a to /tmp/ckpt — a path-PREFIX substring of the active
    `<dir>/<uuid>` — false-matched and left checkpoints pinned to the
    stale directory.  The normalized-parent comparison must re-apply;
    sanity-pin the non-stale direction too (same dir → no pointless
    re-application that would fragment the uuid leaf)."""
    from tropology_spark.session import iter_materialize

    df = spark.range(4)
    long_dir = str(tmp_path / "ckpt-a")
    short_dir = str(tmp_path / "ckpt")
    monkeypatch.setenv("TROPOLOGY_CHECKPOINT_DIR", long_dir)
    iter_materialize(df)
    sc = spark.sparkContext
    assert long_dir in (sc.getCheckpointDir() or "")
    monkeypatch.setenv("TROPOLOGY_CHECKPOINT_DIR", short_dir)
    iter_materialize(df)
    cur = sc.getCheckpointDir() or ""
    assert short_dir in cur and "ckpt-a" not in cur, cur
    # unchanged env -> the active uuid leaf stays (no re-application)
    iter_materialize(df)
    assert (sc.getCheckpointDir() or "") == cur


def test_checkpoint_dir_authority_qualified_comparison():
    """The cluster posture (code-review r15): a scheme-less env path
    on a defaultFS that qualifies paths with an authority must
    compare EQUAL to the authority-qualified active dir (else every
    in-loop materialization re-applies setCheckpointDir and sprays
    checkpoints across fresh uuid roots), while an env value carrying
    its own authority keeps the strict comparison so switching
    clusters re-applies."""
    from tropology_spark.session import _ckpt_same_dir

    # scheme-less env vs authority-qualified active dir: path-only
    assert _ckpt_same_dir("hdfs://nn:8020/shared/ckpt/uuid-1", "/shared/ckpt")
    assert not _ckpt_same_dir("hdfs://nn:8020/shared/ckpt-a/u", "/shared/ckpt")
    # scheme-qualified but AUTHORITY-LESS env (hdfs:/shared/ckpt —
    # resolved against the default authority, ADVICE r15): path-only
    # fallback too, never a permanent re-apply loop.
    assert _ckpt_same_dir("hdfs://nn:8020/shared/ckpt/u", "hdfs:/shared/ckpt")
    assert not _ckpt_same_dir(
        "hdfs://nn:8020/shared/ckpt-a/u", "hdfs:/shared/ckpt"
    )
    # env with its own authority: strict (same cluster yes, other no)
    assert _ckpt_same_dir(
        "hdfs://nn:8020/shared/ckpt/u", "hdfs://nn:8020/shared/ckpt"
    )
    assert not _ckpt_same_dir(
        "hdfs://other:8020/shared/ckpt/u", "hdfs://nn:8020/shared/ckpt"
    )
    # local file URIs vs plain paths (the pinned local behavior)
    assert _ckpt_same_dir("file:/tmp/ck/u", "/tmp/ck")
    assert _ckpt_same_dir("file:///tmp/ck/u", "/tmp/ck")
    assert not _ckpt_same_dir("file:/tmp/ck-a/u", "/tmp/ck")


def test_kmv_intersect_tracks_exact_overlap(spark):
    """M138 — for every event-type pair, the KMV estimate must be
    EXACT when the union has fewer than k distinct hashes and within
    the ~5/√k relative band otherwise (the D4 bound, pair form),
    against an independent Python set computation."""
    import math

    from tropology_spark.operators.aggregates import _KMVX_K
    from tropology_spark.sources.tables import load

    rows = load(spark, SF_UNIT, "events").select("event_type", "user_id").collect()
    users: dict[str, set] = {}
    for r in rows:
        users.setdefault(r["event_type"], set()).add(r["user_id"])
    got = {
        (r["type_a"], r["type_b"]): r["approx_common_users"]
        for r in QUERIES["agg_kmv_intersect"](spark, SF_UNIT).collect()
    }
    assert got, "fixture should have >= 2 event types"
    for (a, b), est in got.items():
        true = len(users[a] & users[b])
        union = len(users[a] | users[b])
        if union < _KMVX_K:
            assert est == true, (a, b, est, true)
        elif true > 0:
            assert abs(est - true) / true <= 5 / math.sqrt(_KMVX_K) + 0.5, (
                a, b, est, true,
            )


def test_maxsim_matches_numpy(spark):
    """M143 — sim_maxsim_topk equals an independent NumPy
    implementation of chunked MaxSim (same µ-int rounding) on the same
    vectors, including the rank order."""
    import numpy as np

    from tropology_spark.operators.similarity import (
        _MS_CHUNKS, _MS_CW, QUERY_VEC_ID,
    )
    from tropology_spark.sources.tables import load

    rows = load(spark, SF_UNIT, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[QUERY_VEC_ID].reshape(_MS_CHUNKS, _MS_CW)
    qn = np.linalg.norm(q, axis=1)
    scores = {}
    for vid, v in vecs.items():
        if vid == QUERY_VEC_ID:
            continue
        d = v.reshape(_MS_CHUNKS, _MS_CW)
        dn = np.linalg.norm(d, axis=1)
        cm = np.round((q @ d.T) / np.outer(qn, dn) * 1e6).astype(np.int64)
        scores[vid] = int(cm.max(axis=1).sum())
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["vec_id"], r["maxsim_micro"])
        for r in QUERIES["sim_maxsim_topk"](spark, SF_UNIT).collect()
    ]
    assert got == want


def test_ktruss_matches_pure_python_peel(spark):
    """M213 — graph_ktruss equals an independent pure-Python
    implementation of the same fixed-round peel (triangle closure via
    adjacency sets, support rollup, threshold filter) on the same
    hub-capped projection.  Different algorithmic substrate, exact
    row-level agreement."""
    from collections import Counter, defaultdict

    from tropology_spark.operators.graph_motifs import (
        _TRUSS_K, _TRUSS_ROUNDS, _HUB_CAP, copurchase_projection,
    )

    thr = _TRUSS_K - 2
    edges = {
        (r["u"], r["v"])
        for r in copurchase_projection(spark, SF_UNIT, hub_cap=_HUB_CAP).collect()
    }
    keep: dict[tuple[int, int], int] = {}
    for _ in range(_TRUSS_ROUNDS):
        adj = defaultdict(set)
        for u, v in edges:
            adj[u].add(v)
        sup: Counter = Counter()
        for u, v in edges:
            for w in adj[v] & adj[u]:
                sup[(u, v)] += 1
                sup[(v, w)] += 1
                sup[(u, w)] += 1
        keep = {e: s for e, s in sup.items() if s >= thr}
        edges = set(keep)
    got = {
        (r["a"], r["b"]): r["support"]
        for r in QUERIES["graph_ktruss"](spark, SF_UNIT).collect()
    }
    assert got == keep, (
        f"{len(got)} spark vs {len(keep)} python rows; "
        f"sample diff: {sorted(set(got.items()) ^ set(keep.items()))[:5]}"
    )


def test_kmv_diff_matches_pure_python(spark):
    """M214 — agg_kmv_diff equals an independent hashlib/set Python
    implementation of the KMV difference estimator (both engines share
    the generated SQL formula; this check is formula-independent)."""
    import hashlib

    import duckdb

    from tropology_spark.operators.aggregates import _KMVX_K

    rows = duckdb.sql(
        f"SELECT DISTINCT o_orderpriority, o_custkey"
        f" FROM read_parquet('{SF_UNIT}/orders.parquet')"
    ).fetchall()
    sets: dict[str, set[int]] = {}
    for pri, ck in rows:
        sets.setdefault(pri, set()).add(
            int(hashlib.md5(str(ck).encode()).hexdigest()[:8], 16)
        )
    want = {}
    pris = sorted(sets)
    for i, pa in enumerate(pris):
        for pb in pris[i + 1:]:
            union = sorted(sets[pa] | sets[pb])
            only_a = sets[pa] - sets[pb]
            only_b = sets[pb] - sets[pa]
            n_u = len(union)
            if n_u >= _KMVX_K:
                mk = union[_KMVX_K - 1]
                scale = (_KMVX_K - 1) * 4294967296 // (mk + 1)
                topk = set(union[:_KMVX_K])
                ea = len(only_a & topk) * scale // _KMVX_K
                eb = len(only_b & topk) * scale // _KMVX_K
            else:
                ea, eb = len(only_a), len(only_b)
            want[(pa, pb)] = (ea, eb, len(only_a), len(only_b))
    got = {
        (r["pri_a"], r["pri_b"]): (
            r["approx_only_a"], r["approx_only_b"],
            r["exact_only_a"], r["exact_only_b"],
        )
        for r in QUERIES["agg_kmv_diff"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_stratified_reservoir_matches_pure_python(spark):
    """M216 — the per-source A-ES reservoir equals an independent
    hashlib Python ranking (priority = md5-low-32 / weight, doc_id
    tie-break, k lowest per source)."""
    import hashlib

    import duckdb

    from tropology_spark.operators.pipeline_ops import _STRAT_RESERVOIR_K

    rows = duckdb.sql(
        f"SELECT source, doc_id, n_chars"
        f" FROM read_parquet('{SF_UNIT}/documents.parquet') WHERE n_chars > 0"
    ).fetchall()
    by_src: dict[str, list] = {}
    for src, did, w in rows:
        u = int(hashlib.md5(str(did).encode()).hexdigest()[:8], 16)
        by_src.setdefault(src, []).append((u / w, did, w, u))
    want = set()
    for src, items in by_src.items():
        items.sort()
        for rn, (_, did, w, u) in enumerate(items[:_STRAT_RESERVOIR_K], 1):
            want.add((src, did, w, u, rn))
    got = {
        (r["source"], r["doc_id"], r["weight"], r["u"], r["rn"])
        for r in QUERIES["pipeline_stratified_reservoir"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_fixture_bounds_within_oracle_enumeration_caps():
    """The relational-enumeration oracles cap their position series
    (4096 token positions, 256 chars/token, 512 8-token blocks, 256
    100-byte chunks, 512 W=16/S=12 chunks) while the Spark sides
    enumerate unboundedly.  Pin the fixture comfortably inside every
    cap at BOTH verification scales so a regenerated-testdata breach
    fails HERE, by name, instead of as an unattributable hash
    mismatch."""
    import glob
    import os

    import duckdb

    from tests.conftest import SF_ORACLE

    # Every fixture scale that exists, not the env-dependent pair
    # (ADVICE r7): an unset-but-different SPARK_GRAFT_SF_DIR could
    # leave the bench fixture unchecked.
    dirs = sorted(
        d for d in glob.glob("/root/testdata/sf*") if os.path.isdir(d)
    ) or [SF_ORACLE]
    for sf in dirs:
        n_tok, max_word, n_bytes = duckdb.sql(
            f"""
            SELECT max(len(string_split(text, ' '))),
                   max(list_max(list_transform(string_split(text, ' '),
                                               t -> len(t)))),
                   max(octet_length(encode(text)))
            FROM read_parquet('{sf}/documents.parquet')
            """
        ).fetchone()
        assert n_tok <= 4096, (sf, n_tok, "token-position caps (4096)")
        assert n_tok // 8 <= 512, (sf, n_tok, "boilerplate block cap (512)")
        assert 1 + max(0, n_tok - 16 + 11) // 12 <= 512, (
            sf, n_tok, "chunk_documents cap (512)",
        )
        assert max_word <= 256, (sf, max_word, "bpe char-position cap (256)")
        assert (n_bytes + 99) // 100 <= 256, (
            sf, n_bytes, "mm 100-byte chunk cap (256)",
        )


def test_simhash_matches_pure_python(spark):
    """M1 — dedup_simhash equals an independent hashlib Python
    implementation of the Charikar bit-majority signature, the 16-bit
    half blocking, and the Hamming confirmation (the generated SQL
    formula is shared by both engines; this check is
    formula-independent)."""
    import hashlib

    import duckdb

    from tropology_spark.operators.dedup import _SH_BITS, _SH_HAMMING_MAX

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    sigs: dict[int, int] = {}
    for did, text in rows:
        toks = text.split(" ")
        shingles = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        if not shingles:
            continue
        votes = [0] * _SH_BITS
        for sh in shingles:
            nibs = hashlib.md5(sh.encode()).hexdigest()[:8]
            for p in range(_SH_BITS):
                bit = (int(nibs[p // 4], 16) >> (p % 4)) & 1
                votes[p] += 2 * bit - 1
        sigs[did] = sum(1 << p for p in range(_SH_BITS) if votes[p] > 0)
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sigs[a], sigs[b]
            if (sa >> 16) != (sb >> 16) and (sa & 65535) != (sb & 65535):
                continue
            h = bin(sa ^ sb).count("1")
            if h <= _SH_HAMMING_MAX:
                want.add((a, b, h))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in QUERIES["dedup_simhash"](spark, SF_UNIT).collect()
    }
    assert got == want, (
        f"{len(got)} spark vs {len(want)} python pairs; "
        f"sample diff: {sorted(got ^ want)[:5]}"
    )


def test_minhash_lsh_matches_pure_python(spark):
    """J3 — dedup_minhash_lsh equals an independent hashlib Python
    implementation of the affine min-hash signatures, banding, and
    bucket-collision candidate set (the permutation arithmetic is a
    generated formula shared by both engines; this check is
    formula-independent)."""
    import duckdb

    from tropology_spark.operators.dedup import (
        _MH_BAND_ROWS, _MH_PERMS, _MH_PRIME,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    n_bands = len(_MH_PERMS) // _MH_BAND_ROWS
    buckets: dict[tuple[int, str], set[int]] = {}
    for did, text in rows:
        toks = text.split(" ")
        shingles = {f"{x} {y}" for x, y in zip(toks, toks[1:])}
        if not shingles:
            continue
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles
        ]
        sig = [min((h * a + b) % _MH_PRIME for h in hs) for a, b in _MH_PERMS]
        for j in range(n_bands):
            key = "_".join(
                str(sig[j * _MH_BAND_ROWS + r]) for r in range(_MH_BAND_ROWS)
            )
            buckets.setdefault((j, key), set()).add(did)
    want = set()
    for mem in buckets.values():
        ids = sorted(mem)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                want.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_UNIT).collect()
    }
    assert got == want, (
        f"{len(got)} spark vs {len(want)} python pairs; "
        f"sample diff: {sorted(got ^ want)[:5]}"
    )


def test_asof_tolerance_matches_pure_python(spark):
    """M217 — the bucketed-equi-join rewrite equals a brute-force
    Python as-of scan over the same events (formula-independent: no
    SQL engine, no bucketing — if the (b, b−1) probe missed or
    double-counted a candidate, this is where it fails)."""
    from collections import defaultdict

    import duckdb

    from tropology_spark.operators.relational import _ASOF_TOL_US

    rows = duckdb.sql(
        f"""SELECT event_id, user_id, event_type, epoch_us(ts)
            FROM read_parquet('{SF_UNIT}/events.parquet')"""
    ).fetchall()
    views = defaultdict(list)
    for eid, uid, et, us in rows:
        if et == "view":
            views[uid].append((us, eid))
    want = {}
    for eid, uid, et, us in rows:
        if et != "purchase":
            continue
        best = max(
            (
                (vus, vid)
                for vus, vid in views.get(uid, [])
                if vus <= us and us - vus <= _ASOF_TOL_US
            ),
            default=None,
        )
        want[eid] = (best[1], us - best[0]) if best else (-1, -1)
    got = {
        r["purchase_id"]: (r["last_view_id"], r["staleness_us"])
        for r in QUERIES["join_asof_tolerance"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_sliding_distinct_matches_pure_python(spark):
    """M218 — the hour-offset-explode rewrite equals a direct Python
    set-union over the trailing 3 hours at every observed (type,
    hour)."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"""SELECT event_type, user_id, epoch_us(ts) // 3600000000
            FROM read_parquet('{SF_UNIT}/events.parquet')"""
    ).fetchall()
    users = defaultdict(set)
    for et, uid, h in rows:
        users[(et, int(h))].add(uid)
    want = {
        (et, h): len(
            users.get((et, h), set())
            | users.get((et, h - 1), set())
            | users.get((et, h - 2), set())
        )
        for (et, h) in users
    }
    got = {
        (r["event_type"], r["hour"]): r["n_users_3h"]
        for r in QUERIES["ts_sliding_distinct"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_bpe_merge2_matches_pure_python(spark):
    """M221 — both BPE rounds equal an independent Counter +
    str.replace implementation (Python's replace is left-to-right
    non-overlapping — the exact semantics the chr(1)-sentinel merge
    relies on in both engines)."""
    from collections import Counter

    import duckdb

    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM read_parquet('{SF_UNIT}/documents.parquet')"
        ).fetchall()
    ]
    toks = [w for t in texts for w in t.split(" ")]

    def counts(tokens):
        c = Counter()
        for w in tokens:
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
        return c

    def top(c, k=10):
        ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(p, n, i + 1) for i, (p, n) in enumerate(ordered)]

    c1 = counts(toks)
    mpair = top(c1, 1)[0][0]
    c2 = counts([w.replace(mpair, "\x01") for w in toks])
    want = {
        (1, p.replace("\x01", "*"), n, rn) for p, n, rn in top(c1)
    } | {(2, p.replace("\x01", "*"), n, rn) for p, n, rn in top(c2)}
    got = {
        (r["merge_round"], r["pair"], r["n"], r["rn"])
        for r in QUERIES["text_bpe_merge2"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_mm_stratified_sample_matches_pure_python(spark):
    """M220 — the per-modality A-ES quota equals an independent
    hashlib ranking (the M216 stratified-reservoir twin discipline
    applied to the multimodal strata)."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    mods = ["image/png", "audio/wav", "video/mp4"]
    strata = defaultdict(list)
    for did, text in rows:
        nb = len(text.encode())
        if nb == 0:
            continue
        h = hashlib.md5(str(did).encode()).hexdigest()
        strata[mods[int(h[:2], 16) % 3]].append(
            (int(h[8:16], 16) / nb, did, nb, int(h[8:16], 16))
        )
    want = set()
    for m, items in strata.items():
        for rn, (_, did, nb, u) in enumerate(sorted(items)[:8], 1):
            want.add((m, did, nb, u, rn))
    got = {
        (r["modality"], r["doc_id"], r["n_bytes"], r["u"], r["rn"])
        for r in QUERIES["mm_stratified_sample"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_cli_index_writes_and_reloads(spark, capsys, tmp_path):
    """M19+ — the index subcommand: train, persist bucketed, reload,
    print — for all six artifact kinds (quantizer, minhash, IVF,
    PQ, BQ, IVF+PQ)."""
    import json as _json

    from tropology_spark import cli

    try:
        rc = cli.main([
            "index", "minhash", "cli_mh_idx",
            "--sf-dir", SF_UNIT, "--path", str(tmp_path / "mh"), "--limit", "3",
        ])
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0 and len(out) == 3
        row = _json.loads(out[0])
        assert set(row) == {"doc_id", "band", "bucket"}

        rc = cli.main([
            "index", "quantizer", "cli_q_idx",
            "--sf-dir", SF_UNIT, "--path", str(tmp_path / "q"), "--limit", "2",
        ])
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0 and len(out) == 2
        assert set(_json.loads(out[0])) == {"vec_id", "cell"}

        rc = cli.main([
            "index", "ivf", "cli_ivf_idx",
            "--sf-dir", SF_UNIT, "--path", str(tmp_path / "ivf"), "--limit", "2",
        ])
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0 and len(out) == 2
        assert set(_json.loads(out[0])) == {"vec_id", "cell", "emb", "nv"}

        rc = cli.main([
            "index", "pq", "cli_pq_idx",
            "--sf-dir", SF_UNIT, "--path", str(tmp_path / "pq"), "--limit", "2",
        ])
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0 and len(out) == 2
        assert set(_json.loads(out[0])) == {"vec_id", "s", "code"}

        rc = cli.main([
            "index", "bq", "cli_bq_idx",
            "--sf-dir", SF_UNIT, "--path", str(tmp_path / "bq"), "--limit", "2",
        ])
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0 and len(out) == 2
        assert set(_json.loads(out[0])) == {"vec_id", "h0", "h1"}

        rc = cli.main([
            "index", "ivfpq", "cli_ivfpq_idx",
            "--sf-dir", SF_UNIT, "--path", str(tmp_path / "ivfpq"),
            "--limit", "2",
        ])
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0 and len(out) == 2
        assert set(_json.loads(out[0])) == {"vec_id", "cell", "s", "code"}
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_mh_idx")
        spark.sql("DROP TABLE IF EXISTS cli_q_idx")
        spark.sql("DROP TABLE IF EXISTS cli_ivf_idx")
        spark.sql("DROP TABLE IF EXISTS cli_ivf_idx_centroids")
        spark.sql("DROP TABLE IF EXISTS cli_pq_idx")
        spark.sql("DROP TABLE IF EXISTS cli_pq_idx_codebook")
        spark.sql("DROP TABLE IF EXISTS cli_bq_idx")
        spark.sql("DROP TABLE IF EXISTS cli_ivfpq_idx")
        spark.sql("DROP TABLE IF EXISTS cli_ivfpq_idx_centroids")
        spark.sql("DROP TABLE IF EXISTS cli_ivfpq_idx_codebook")


def test_xml_roundtrip_and_corrupt_capture(spark, tmp_path):
    """A-family: the Spark 4 native XML source/sink — explicit-schema
    round-trip of a fixture slice, plus PERMISSIVE corrupt-row capture
    on a malformed document (the CSV/JSONL quarantine discipline on
    the third interchange format)."""
    from tropology_spark.sources import formats as FF
    from tropology_spark.sources.tables import load

    base = load(spark, SF_UNIT, "region")
    p = str(tmp_path / "region_xml")
    FF.write_xml(base, p, root_tag="regions", row_tag="region")
    back = FF.read_xml(spark, p, base, row_tag="region")
    clean, corrupt = FF.quarantine_split(back)
    assert corrupt.count() == 0
    want = {tuple(r) for r in base.collect()}
    got = {tuple(r) for r in clean.select(*base.columns).collect()}
    assert got == want

    bad = tmp_path / "bad" / "part.xml"
    bad.parent.mkdir()
    bad.write_text(
        "<regions><region><r_regionkey>1</r_regionkey>"
        "<r_name>ok</r_name><r_comment>c</r_comment></region>"
        "<region><r_regionkey>not_a_number</r_regionkey>"
        "<r_name>broken</r_name><r_comment>c</r_comment></region></regions>"
    )
    parsed = FF.read_xml(spark, str(bad.parent), base, row_tag="region")
    clean2, corrupt2 = FF.quarantine_split(parsed)
    assert clean2.count() == 1 and corrupt2.count() == 1


def test_no_new_trivially_empty_queries(spark):
    """Empty-vs-empty hash matches verify nothing (the round-8 audit
    found three registered queries in that state — retuned in round 9:
    join_anti_frontier's bulk-order frontier, sub_scalar_global's 1.8x
    threshold and mm_dedup_exact's is_dup flag all verify non-trivially
    at every scale now).  Freeze the set: a NEW query whose fixture
    result is empty at sf0.001 must either get a threshold the fixture
    actually exercises (the winback precedent: gap 8 → 3) or justify
    itself onto this allowlist."""
    from concurrent.futures import ThreadPoolExecutor

    # ts_burst_hours: sf0.001's series is shorter than the 24h
    # trailing baseline (a scale artifact, non-empty from sf0.01 up).
    EMPTY_ALLOWED = {"ts_burst_hours"}
    empty: list[str] = []

    def check(n: str) -> None:
        if QUERIES[n](spark, SF_UNIT).count() == 0:
            empty.append(n)

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(check, list(QUERIES)))
    unexpected = sorted(set(empty) - EMPTY_ALLOWED)
    gone = sorted(EMPTY_ALLOWED - set(empty))
    assert not unexpected, f"new trivially-empty queries: {unexpected}"
    assert not gone, f"allowlisted queries now non-empty (retune landed?): {gone}"


def test_hashed_features_matches_pure_python(spark):
    """M208 — the hashing-trick features equal an independent hashlib
    implementation (bucket = md5-low-32 mod 256 per token, per-doc
    term frequencies)."""
    from collections import Counter

    import duckdb

    rows = duckdb.sql(
        f"""SELECT doc_id, text FROM read_parquet('{SF_UNIT}/documents.parquet')
            WHERE doc_id < 20"""
    ).fetchall()
    want = Counter()
    for did, text in rows:
        for tok in text.split(" "):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 256
            want[(did, b)] += 1
    got = {
        (r["doc_id"], r["bucket"]): r["tf"]
        for r in QUERIES["text_hashed_features"](spark, SF_UNIT).collect()
    }
    assert got == dict(want)


def test_coverage_union_matches_pure_python(spark):
    """M191 — the sweep-line interval union equals a direct Python
    merge of each user's [t, t+15min) windows."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"""SELECT user_id, epoch_us(ts)
            FROM read_parquet('{SF_UNIT}/events.parquet')"""
    ).fetchall()
    cover = 900 * 1_000_000
    by_user = defaultdict(list)
    for u, t in rows:
        by_user[u].append(t)
    stats = []
    for u, ts in by_user.items():
        ts.sort()
        islands = []
        for t in ts:
            if islands and t <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], t + cover)
            else:
                islands.append([t, t + cover])
        stats.append((u, sum(e - s for s, e in islands), len(islands)))
    stats.sort(key=lambda x: (-x[1], x[0]))
    want = set(stats[:20])
    got = {
        (r["user_id"], r["covered_us"], r["n_islands"])
        for r in QUERIES["ts_coverage_union"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_pref_attachment_matches_pure_python(spark):
    """M200 — preferential-attachment recommendations equal a direct
    Python wedge + degree-product computation."""
    from collections import defaultdict

    import duckdb

    edges = set(
        duckdb.sql(
            f"""SELECT DISTINCT o_custkey, l_partkey
                FROM read_parquet('{SF_UNIT}/orders.parquet') o
                JOIN read_parquet('{SF_UNIT}/lineitem.parquet') l
                  ON o.o_orderkey = l.l_orderkey"""
        ).fetchall()
    )
    deg = defaultdict(int)
    by_dst = defaultdict(set)
    for s, d in edges:
        deg[s] += 1
        by_dst[d].add(s)
    cands = defaultdict(set)
    for members in by_dst.values():
        for a in members:
            if a >= 50:
                continue
            for b in members:
                if b != a:
                    cands[a].add(b)
    want = set()
    for seed, cs in cands.items():
        scored = sorted(
            ((deg[seed] * deg[c], c) for c in cs), key=lambda t: (-t[0], t[1])
        )
        for rk, (score, c) in enumerate(scored[:3], 1):
            want.add((seed, c, deg[seed], deg[c], score, rk))
    got = {
        (r["seed"], r["cand"], r["deg_seed"], r["deg_cand"], r["pa_score"], r["rk"])
        for r in QUERIES["graph_pref_attachment"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_struct_equiv_matches_pure_python(spark):
    """M190 — structural-equivalence classes equal a direct Python
    fingerprint (md5-low-32 sums of brand neighborhoods) grouping."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"""SELECT DISTINCT o_custkey, p.p_brand
            FROM read_parquet('{SF_UNIT}/orders.parquet') o
            JOIN read_parquet('{SF_UNIT}/lineitem.parquet') l
              ON o_orderkey = l_orderkey
            JOIN read_parquet('{SF_UNIT}/part.parquet') p
              ON l_partkey = p_partkey"""
    ).fetchall()
    nb = defaultdict(set)
    for c, b in rows:
        nb[c].add(b)
    classes = defaultdict(list)
    for c, brands in nb.items():
        fp = (
            sum(int(hashlib.md5(b.encode()).hexdigest()[:8], 16) for b in brands),
            len(brands),
            min(brands),
            max(brands),
        )
        classes[fp].append(c)
    want = {
        (fp[0], fp[1], fp[2], fp[3], len(cs), min(cs), sum(cs))
        for fp, cs in classes.items()
        if len(cs) >= 2
    }
    got = {
        (
            r["fp_sum"], r["deg"], r["min_dst"], r["max_dst"],
            r["n_nodes"], r["min_src"], r["src_checksum"],
        )
        for r in QUERIES["graph_struct_equiv"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_event_type_overlap_matches_pure_python(spark):
    """M186 — audience overlap equals direct Python set intersections
    with the integer-ppm Jaccard."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"""SELECT DISTINCT event_type, user_id
            FROM read_parquet('{SF_UNIT}/events.parquet')"""
    ).fetchall()
    users = defaultdict(set)
    for t, u in rows:
        users[t].add(u)
    types = sorted(users)
    want = set()
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            both = len(users[a] & users[b])
            if both == 0:
                continue
            union = len(users[a]) + len(users[b]) - both
            want.add(
                (a, b, both, len(users[a]), len(users[b]),
                 (1000000 * both) // union)
            )
    got = {
        (
            r["type_a"], r["type_b"], r["n_both"],
            r["users_a"], r["users_b"], r["jaccard_ppm"],
        )
        for r in QUERIES["analytics_event_type_overlap"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_vocab_jaccard_sources_matches_pure_python(spark):
    """M179 — per-source vocabulary Jaccard equals direct Python token
    sets (top-20 by the same total order)."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"SELECT source, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    vocab = defaultdict(set)
    for src, text in rows:
        vocab[src] |= set(text.split(" "))
    srcs = sorted(vocab)
    scored = []
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            common = len(vocab[a] & vocab[b])
            if common == 0:
                continue
            union = len(vocab[a]) + len(vocab[b]) - common
            scored.append(
                ((1000000 * common) // union, a, b, common,
                 len(vocab[a]), len(vocab[b]))
            )
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = {
        (a, b, c, va, vb, j) for j, a, b, c, va, vb in scored[:20]
    }
    got = {
        (
            r["source_a"], r["source_b"], r["n_common"],
            r["vocab_a"], r["vocab_b"], r["jaccard_ppm"],
        )
        for r in QUERIES["text_vocab_jaccard_sources"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_chunk_manifest_matches_pure_python(spark):
    """M185 — the content-addressed chunk manifest equals a direct
    Python slicing of the UTF-8 payload (digest = md5 of the chunk's
    UPPERCASE hex — the cross-engine binary canonicalization rule,
    checked here independently of both engines)."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    want = set()
    for did, text in rows:
        payload = text.encode()
        n = len(payload)
        for idx in range((n + 99) // 100):
            chunk = payload[idx * 100 : idx * 100 + 100]
            digest = hashlib.md5(chunk.hex().upper().encode()).hexdigest()
            want.add(
                (
                    did, idx, idx * 100, len(chunk), digest,
                    1 if (idx + 1) * 100 >= n else 0,
                )
            )
    got = {
        (
            r["media_id"], r["chunk_idx"], r["byte_offset"],
            r["chunk_bytes"], r["chunk_md5"], r["is_last"],
        )
        for r in QUERIES["mm_chunk_manifest"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_ngram_novelty_matches_pure_python(spark):
    """M198 — test-split bigram novelty equals direct Python set
    difference over the md5-bucket train/test assignment."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, lang, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    train = defaultdict(set)
    test = defaultdict(set)
    for did, lang, text in rows:
        h = hashlib.md5(str(did).encode()).hexdigest()
        bucket = (int(h[0], 16) * 16 + int(h[1], 16)) % 10
        toks = text.split(" ")
        grams = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        if bucket < 8:
            train[lang] |= grams
        elif bucket == 9:
            test[lang] |= grams
    want = {}
    for lang in set(train) | set(test):
        nt = len(test.get(lang, set()))
        novel = len(test.get(lang, set()) - train.get(lang, set()))
        ppm = None if nt == 0 else (1000000 * novel) // nt
        want[lang] = (nt, novel, ppm)
    got = {
        r["lang"]: (r["n_test_bigrams"], r["n_novel"], r["novelty_ppm"])
        for r in QUERIES["text_ngram_novelty"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_sax_symbols_matches_pure_python(spark):
    """M133 — the SAX words equal a direct Python ntile(4)
    (front-loaded remainder over the exact (value, event_id) order)
    + per-day concatenation in time order."""
    from collections import defaultdict

    import duckdb

    rows = duckdb.sql(
        f"""SELECT user_id, event_id, ts, value,
                   strftime(date_trunc('day', ts), '%Y-%m-%d')
            FROM read_parquet('{SF_UNIT}/events.parquet')"""
    ).fetchall()
    by_user = defaultdict(list)
    for u, e, ts, v, day in rows:
        by_user[u].append((e, ts, v, day))
    want = {}
    for u, evs in by_user.items():
        ordered = sorted(evs, key=lambda t: (t[2], t[0]))
        n = len(ordered)
        base, rem = divmod(n, 4)
        band_of = {}
        i = 0
        for tile in range(1, 5):
            size = base + (1 if tile <= rem else 0)
            for e, _, _, _ in ordered[i : i + size]:
                band_of[e] = tile
            i += size
        by_day = defaultdict(list)
        for e, ts, v, day in evs:
            by_day[day].append((ts, e))
        for day, items in by_day.items():
            items.sort()
            word = "".join(str(band_of[e]) for _, e in items)
            want[(u, day)] = (word, len(items))
    got = {
        (r["user_id"], r["day"]): (r["symbols"], r["n_events"])
        for r in QUERIES["ts_sax_symbols"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_phash_hamming_matches_pure_python(spark):
    """M99 — the banded pseudo-pHash near-dup pairs equal a direct
    Python sha256 + band-block + popcount computation."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    ph = {}
    for did, text in rows:
        h = hashlib.sha256(text.encode()).hexdigest()
        ph[did] = (int(h[:4], 16), h[0:2], h[2:4])
    ids = sorted(ph)
    want = set()
    for i, a in enumerate(ids):
        pa, a1, a2 = ph[a]
        for b in ids[i + 1:]:
            pb, b1, b2 = ph[b]
            if a1 != b1 and a2 != b2:
                continue
            d = bin(pa ^ pb).count("1")
            if d <= 3:
                want.add((a, b, pa, pb, d))
    got = {
        (r["id_a"], r["id_b"], r["ph_a"], r["ph_b"], r["hamming"])
        for r in QUERIES["mm_phash_hamming"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_cms_matrix_matches_pure_python(spark):
    """M128 — the Count-Min counter matrix equals an independent
    hashlib recomputation of the affine row hashes (shared-formula
    check for the sketch family's base arithmetic)."""
    from collections import Counter

    import duckdb

    from tropology_spark.operators.aggregates import (
        _CMS_PRIME,
        _CMS_ROWS,
        _CMS_W,
    )

    users = duckdb.sql(
        f"SELECT user_id FROM read_parquet('{SF_UNIT}/events.parquet')"
    ).fetchall()
    want = Counter()
    for (u,) in users:
        hv = int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16)
        for i, (a, b) in enumerate(_CMS_ROWS):
            want[(i, ((hv * a + b) % _CMS_PRIME) % _CMS_W)] += 1
    got = {
        (r["row_id"], r["col_id"]): r["cnt"]
        for r in QUERIES["agg_cms_matrix"](spark, SF_UNIT).collect()
    }
    assert got == dict(want)


def test_session_paths_matches_pure_python(spark):
    """M194 — the top-20 session trigram paths equal a from-scratch
    Python sessionize + trigram count."""
    from collections import Counter, defaultdict

    import duckdb

    rows = duckdb.sql(
        f"""SELECT user_id, event_type, epoch_us(ts), event_id
            FROM read_parquet('{SF_UNIT}/events.parquet')"""
    ).fetchall()
    by_user = defaultdict(list)
    for u, t, us, e in rows:
        by_user[u].append((us, e, t))
    paths = Counter()
    for u, evs in by_user.items():
        evs.sort()
        sessions = []
        prev = None
        for us, e, t in evs:
            if prev is None or us - prev > 1800000000:
                sessions.append([])
            sessions[-1].append(t)
            prev = us
        for s in sessions:
            for i in range(len(s) - 2):
                paths[f"{s[i]}>{s[i + 1]}>{s[i + 2]}"] += 1
    ordered = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = set(ordered)
    got = {
        (r["path"], r["n"])
        for r in QUERIES["analytics_session_paths"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_rake_keywords_matches_pure_python(spark):
    """M183 — RAKE phrase scores equal a from-scratch Python
    implementation: stopword-delimited runs, word score = 10^6 *
    (sum of containing-phrase lengths) div freq, phrase score = sum
    of word scores."""
    from collections import defaultdict

    import duckdb

    from tropology_spark.operators.text import _STOPWORDS

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_UNIT}/documents.parquet')"
    ).fetchall()
    stop = set(_STOPWORDS)
    phrases = []
    for _, text in rows:
        run = []
        for tok in text.split(" ") + [None]:
            if tok is None or tok in stop or tok == "":
                if run:
                    phrases.append(run)
                run = []
            else:
                run.append(tok)
    freq = defaultdict(int)
    degsum = defaultdict(int)
    for run in phrases:
        for tok in run:
            freq[tok] += 1
            degsum[tok] += len(run)
    wscore = {t: (1000000 * degsum[t]) // freq[t] for t in freq}
    agg = defaultdict(lambda: [0, 0, 0])  # phrase -> [n_words, score, occ]
    for run in phrases:
        p = " ".join(run)
        agg[p][0] = max(agg[p][0], len(run))
        agg[p][1] = max(agg[p][1], sum(wscore[t] for t in run))
        agg[p][2] += 1
    ordered = sorted(agg.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    want = {(p, v[0], v[1], v[2]) for p, v in ordered}
    got = {
        (r["phrase"], r["n_words"], r["score_ppm"], r["n_occurrences"])
        for r in QUERIES["text_rake_keywords"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_no_aggregate_then_widen_sums():
    """Round-18 code-review class (the r17 Lehr lesson's sibling):
    ``F.sum("col").cast("decimal(...)")`` aggregates in LongType and
    only then widens, giving the Spark side ~3 orders of magnitude
    less headroom than a DuckDB oracle whose ``sum`` is natively
    HUGEINT — an ASYMMETRIC latent overflow invisible to parity at
    any fixture scale.  The discipline: widen BEFORE summing
    (``F.sum(F.expr("CAST(col AS DECIMAL(38,0))"))``), so the
    binding stage is the same pre-aggregation carrier in both
    engines.  Two instances existed (sim_anisotropy_terms sn2,
    sim_label_scatter_terms ssq — both fixed); this static sweep
    pins the spelling out of the source tree.

    ADVICE r18 broadening: the original single-line regex only
    matched ``F.sum("col")``/``F.sum(F.col(...))`` — compound
    aggregates (``F.sum(F.col("a") * F.col("b"))``) and multi-line
    formatting escaped it.  The sweep now paren-matches EVERY
    ``F.sum(...)`` call in the whole-file text (any argument shape,
    any line breaks) and flags a following ``.cast("decimal`` unless
    the argument already widens (contains a DECIMAL cast — then the
    aggregation itself runs on the wide carrier and an outer cast is
    a no-op, not the latent class)."""
    import re
    from pathlib import Path

    cast_after = re.compile(r'\s*\.\s*cast\(\s*"decimal', re.IGNORECASE)
    already_wide = re.compile(r"DECIMAL\s*\(", re.IGNORECASE)
    hits = []
    for p in Path("tropology_spark").rglob("*.py"):
        text = p.read_text()
        for m in re.finditer(r"F\.sum\(", text):
            depth, j = 1, m.end()
            while j < len(text) and depth:
                if text[j] == "(":
                    depth += 1
                elif text[j] == ")":
                    depth -= 1
                j += 1
            arg = text[m.end() : j - 1]
            if already_wide.search(arg):
                continue
            if cast_after.match(text[j:]):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{p}:{line}: F.sum({arg.strip()[:60]}...)")
    assert not hits, (
        "BIGINT-aggregate-then-widen sum (asymmetric overflow vs the "
        "HUGEINT oracle) — widen the column BEFORE F.sum:\n"
        + "\n".join(hits)
    )


def test_registered_shift_constants_sized_from_domain_bounds(spark):
    """VERDICT r13 item 2 — the systematic shift-constant audit.  The
    +BIG·den shift identity ((num + BIG·den) div den − BIG) turns both
    engines' truncating integer division into a true mathematical
    FLOOR only while BIG·den ≥ |num|; an undersized constant passes
    Spark-vs-DuckDB parity SILENTLY (both truncate identically — the
    r13 lehr/anisotropy lesson), so every constant must be sized from
    its DOMAIN bound and pinned against Python floor on an adversarial
    NEGATIVE, non-divisible numerator.

    This test (a) enumerates the registered surface's shift sites by
    sweep — any NEW site must use a named ``*BIG*`` constant (or the
    inline ``+ 1000000 *`` cosine-carrier spelling) and be added to
    the expected set below with a derived bound; (b) re-derives each
    constant's bound from data/structure; (c) pins each site's floor
    semantics on an injected adversarial corpus."""
    import re
    from pathlib import Path

    import duckdb

    from tropology_spark import QUERIES
    from tropology_spark.operators.analytics import _DID_BIG
    from tropology_spark.operators.timeseries import _TS_BIG

    # (a) enumeration sweep over the REGISTERED surface
    found = set()
    for p in Path("tropology_spark").rglob("*.py"):
        if p.name.startswith("staged_r"):
            continue
        text = p.read_text()
        for line in text.splitlines():
            s = line.strip()
            if re.match(r"_[A-Z0-9_]*BIG[A-Z0-9_]* *=", s):
                found.add((p.name, s.split("=")[0].strip()))
        for _m in re.finditer(r"\+ 1000000 \* (count\(\*\)|n_vectors)", text):
            found.add((p.name, "inline-1e6-shift"))
    assert found == {
        ("analytics.py", "_DID_BIG"),
        ("timeseries.py", "_TS_BIG"),
        ("similarity.py", "inline-1e6-shift"),
        # round-16 activations (the sixth fold executed):
        ("similarity.py", "_ANI_BIG_PAIR"),
        ("similarity.py", "_ANI_BIG_PPM"),
        ("aggregates.py", "_HM_BIG"),
        # round-17 activations:
        ("similarity.py", "_ROC_BIG"),
        ("analytics.py", "_LEHR_BIG"),
        # round-18 activation:
        ("analytics.py", "_PR_BIG"),
    }, f"new/renamed shift site — extend this audit: {sorted(found)}"
    # Tripwire for the staged bank: when a slate activates, its BIG
    # constants move into home modules — the registered sweep above
    # then finds new names AND this staged inventory shrinks, both
    # failing until the activator extends the audit with the new
    # site's domain bound and adversarial floor pin (the five-fold
    # lockstep's sixth fold for shift carriers).
    staged_found = set()
    for p in Path("tropology_spark/operators").glob("staged_r*.py"):
        for line in p.read_text().splitlines():
            s = line.strip()
            if re.match(r"_[A-Z0-9_]*BIG[A-Z0-9_]* *=", s):
                staged_found.add((p.name, s.split("=")[0].strip()))
    assert staged_found == set(), (
        f"staged shift inventory drifted (the r19/r20 slates carry no "
        f"named BIG constant): {sorted(staged_found)}"
    )

    # (b) domain-bound re-derivations
    # analytics_did_terms: |num/den| = |(mean11−mean10) − (mean01−mean00)|
    # ≤ 2·max cents.  The order-price domain is scale-FREE (TPC-H price
    # formula, not row count), so the fixture max is the domain max.
    max_cents = duckdb.sql(
        f"""SELECT max(CAST(round(o_totalprice * 100) AS BIGINT))
            FROM read_parquet('{SF_ORACLE}/orders.parquet')"""
    ).fetchone()[0]
    assert _DID_BIG >= 4 * 2 * max_cents, (
        f"_DID_BIG={_DID_BIG} under 4x the 2*max_cents={2*max_cents} bound"
    )
    # ts_theilsen_micro: |num| = |dy|·10⁶ ≤ max_hourly_count·10⁶ per
    # unit dx.  Hourly counts grow ~linearly with SF: require >= 1000x
    # headroom at sf0.01 (→ still >= 10x at sf1; the docstring bound
    # 'hourly counts under 10⁶' stays the lift trigger).
    max_hourly = duckdb.sql(
        f"""SELECT max(n) FROM (
              SELECT count(*) AS n
              FROM read_parquet('{SF_ORACLE}/events.parquet')
              GROUP BY event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT))"""
    ).fetchone()[0]
    assert _TS_BIG >= 1000 * max_hourly * 1_000_000, (
        f"_TS_BIG={_TS_BIG} under 1000x the hourly-count bound {max_hourly}e6"
    )
    # sim_cluster_cohesion: the inline 10⁶ shift is STRUCTURAL —
    # cos_micro = round(10⁶·cosine) with |cosine| ≤ 1, so the per-row
    # bound |cos_micro| ≤ 10⁶ equals the constant; verify on the
    # fixture output that no label violates it.
    for r in QUERIES["sim_cluster_cohesion"](spark, SF_UNIT).collect():
        assert abs(r["sum_cos_micro"]) <= 1_000_000 * r["n_vectors"]
    # sim_anisotropy_terms (M318): |mean pair dot| ≤ mean norm² ≤
    # 64·(10⁶)² µ² (64 dims, components in [−1, 1] so |vm| ≤ 10⁶ —
    # verified on the fixture), so the pair carrier needs ≥ 6.4e13;
    # |ani_ppm| ≤ 10⁶ by Cauchy-Schwarz (0 ≤ gram ≤ n·sn2), so the
    # ppm carrier needs ≥ 10⁶ — held at 10× headroom.
    from tropology_spark.operators.similarity import _ANI_BIG_PAIR, _ANI_BIG_PPM

    max_absval = duckdb.sql(
        f"""SELECT max(abs(CAST(v AS DOUBLE))) FROM (
              SELECT unnest(embedding) AS v
              FROM read_parquet('{SF_ORACLE}/embeddings.parquet'))"""
    ).fetchone()[0]
    assert max_absval <= 1.0, "embedding component domain drifted"
    assert _ANI_BIG_PAIR >= 64 * 10**6 * 10**6, (
        f"_ANI_BIG_PAIR={_ANI_BIG_PAIR} under the 64·(1e6)² norm² bound"
    )
    assert _ANI_BIG_PPM >= 10 * 10**6, (
        f"_ANI_BIG_PPM={_ANI_BIG_PPM} under 10x the Cauchy-Schwarz 1e6 bound"
    )
    # agg_higher_moments_terms (M327): |m3 numerator/den| = |Σ(x−μ)³|
    # ≤ n·max_q³ with quantity ≤ 50; require 1000× headroom at sf0.01
    # (→ still ≥ 10× at sf1; lineitem count grows linearly with SF).
    from tropology_spark.operators.aggregates import _HM_BIG

    n_li, max_q = duckdb.sql(
        f"""SELECT count(*), max(CAST(round(l_quantity) AS BIGINT))
            FROM read_parquet('{SF_ORACLE}/lineitem.parquet')"""
    ).fetchone()
    assert _HM_BIG >= 1000 * n_li * max_q**3, (
        f"_HM_BIG={_HM_BIG} under 1000x the n·max_q³={n_li * max_q**3} bound"
    )
    # sim_rocchio_feedback (M336): cm = (Σ_{top5} vm + BIG·5) div 5 −
    # BIG per dimension; |Σ vm| ≤ 5·10⁶ (|component| ≤ 1 ⇒ |vm| ≤ 10⁶,
    # fixture-verified by max_absval above), so BIG ≥ 10⁶ — held at
    # 1000× headroom.  The bound is scale-FREE (5 vectors always).
    from tropology_spark.operators.similarity import _ROC_BIG, _ROC_FB

    assert _ROC_FB == 5 and _ROC_BIG >= 1000 * 10**6, (
        f"_ROC_BIG={_ROC_BIG} under 1000x the 1e6 component-sum bound"
    )
    # analytics_lehr_sample_size (M337): gap carrier |1000·dnum| ≤
    # 1000·max_cents·na·nb, and the order-price domain is scale-FREE
    # (the TPC-H price formula), so BIG ≥ 1000·max_cents — held at
    # ≥ 10× headroom (the r13 undersized-10⁹ lesson's own site).
    from tropology_spark.operators.analytics import _LEHR_BIG

    assert _LEHR_BIG >= 10 * 1000 * max_cents, (
        f"_LEHR_BIG={_LEHR_BIG} under 10x the 1000·max_cents={1000 * max_cents} bound"
    )
    # analytics_permutation_rank (M339): the SAME gap shape as Lehr —
    # |1000·(s1a·nb − s1b·na)| ≤ 1000·max_cents·na·nb per unit na·nb,
    # and the order-price domain is scale-FREE (the TPC-H price
    # formula), so BIG ≥ 1000·max_cents — held at ≥ 10× headroom.
    from tropology_spark.operators.analytics import _PR_BIG

    assert _PR_BIG >= 10 * 1000 * max_cents, (
        f"_PR_BIG={_PR_BIG} under 10x the 1000·max_cents={1000 * max_cents} bound"
    )

    # (c) adversarial floor pins — negative, NON-divisible numerators,
    # where floor (−100) and truncation (−99) genuinely differ.
    from pyspark.sql import functions as F

    # c1. analytics_did_terms via orders=: custkey 6 is t=1, custkey 1
    # is t=0 (md5 first hex '1' / 'c'); bd = 5; did = (1/3 − 100) − 0.
    o_rows = (
        [("1970-01-11", 0.01, 6), ("1970-01-11", 0.00, 6), ("1970-01-11", 0.00, 6)]
        + [("1970-01-01", 1.00, 6)]
        + [("1970-01-11", 0.00, 1), ("1970-01-01", 0.00, 1)]
    )
    odf = spark.createDataFrame(
        o_rows, "o_orderdate string, o_totalprice double, o_custkey long"
    )
    r = QUERIES["analytics_did_terms"](spark, "unused", orders=odf).collect()[0]
    assert (r["n11"], r["s11"], r["n10"], r["s10"]) == (3, 1, 1, 100)
    num = (r["s11"] * r["n10"] - r["s10"] * r["n11"]) * r["n01"] * r["n00"] - (
        r["s01"] * r["n00"] - r["s00"] * r["n01"]
    ) * r["n11"] * r["n10"]
    den = r["n11"] * r["n10"] * r["n01"] * r["n00"]
    assert num < 0 and num % den != 0, "corpus stopped being adversarial"
    assert r["did_cents"] == num // den == -100  # trunc would read −99

    # c2. ts_theilsen_micro via events=: counts 10 → 3 over dx = 3 h;
    # slope = floor(−7·10⁶ / 3) = −2333334 (trunc reads −2333333).
    base = 1_700_000_000_000_000
    e_rows = [(i, 0, base + i, "click") for i in range(10)] + [
        (100 + i, 0, base + 3 * 3_600_000_000 + i, "click") for i in range(3)
    ]
    edf = spark.createDataFrame(
        e_rows, "event_id long, user_id long, us long, event_type string"
    ).selectExpr("event_id", "user_id", "timestamp_micros(us) AS ts", "event_type")
    tr = QUERIES["ts_theilsen_micro"](spark, "unused", events=edf).collect()
    assert len(tr) == 1 and tr[0]["n_pairs"] == 1
    assert tr[0]["slope_micro"] == (-7 * 1_000_000) // 3 == -2333334

    # c3. sim_cluster_cohesion via e=: one dominant vector + ten
    # anti-aligned ones → a NEGATIVE mean cosine to the label centroid.
    import numpy as np

    vecs = [[100.0, 0.0]] + [[-1.0, 0.01]] * 10
    emb = spark.createDataFrame(
        [(i, 7, v) for i, v in enumerate(vecs)],
        "vec_id long, label long, embedding array<double>",
    )
    cen = np.mean(np.array(vecs), axis=0)
    cos_micros = [
        int(round(1e6 * float(np.dot(v, cen))
                  / (float(np.linalg.norm(v)) * float(np.linalg.norm(cen)))))
        for v in vecs
    ]
    s, n = sum(cos_micros), len(cos_micros)
    assert s < 0 and s % n != 0, "corpus stopped being adversarial"
    cr = QUERIES["sim_cluster_cohesion"](spark, "unused", e=emb).collect()
    assert len(cr) == 1
    assert (cr[0]["sum_cos_micro"], cr[0]["cohesion_micro"]) == (s, s // n)

    # c4. sim_anisotropy_terms via e=: an anti-aligned 3-vector corpus
    # (exact-eighth components, so vm is exact) whose pair-dot sum is
    # NEGATIVE and non-divisible by n(n−1), and whose ppm numerator is
    # non-divisible by (n−1)·sn2 — both shifted floors must match
    # Python's native floor division.
    a_vecs = [
        [1 / 8] + [0.0] * 63,
        [-3 / 8] + [0.0] * 63,
        [1 / 8, 1 / 8] + [0.0] * 62,
    ]
    a_emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(a_vecs)],
        "vec_id long, embedding array<float>",
    )
    a_vm = [[round(x * 1_000_000) for x in v] for v in a_vecs]
    a_n = len(a_vm)
    a_sn2 = sum(x * x for v in a_vm for x in v)
    a_gram = sum(
        s_ * s_ for s_ in (sum(v[p] for v in a_vm) for p in range(64))
    )
    a_num = a_gram - a_sn2
    assert a_num < 0 and a_num % (a_n * (a_n - 1)) != 0, (
        "corpus stopped being adversarial (pair carrier)"
    )
    assert (1_000_000 * a_num) % ((a_n - 1) * a_sn2) != 0, (
        "corpus stopped being adversarial (ppm carrier)"
    )
    [ar] = QUERIES["sim_anisotropy_terms"](spark, "unused", e=a_emb).collect()
    assert ar["mean_pair_dot_u2"] == a_num // (a_n * (a_n - 1))
    assert ar["ani_ppm"] == (1_000_000 * a_num) // ((a_n - 1) * a_sn2)

    # c5. agg_higher_moments_terms via li=: quantities (1, 9, 9) give
    # the negatively-skewed m3 numerator −1024 over n² = 9 — floor
    # −114 where truncation would read −113.
    ldf = spark.createDataFrame(
        [("X", 1.0), ("X", 9.0), ("X", 9.0)],
        "l_returnflag string, l_quantity double",
    )
    [hr] = QUERIES["agg_higher_moments_terms"](spark, "unused", li=ldf).collect()
    hm_num = (
        hr["n"] ** 2 * hr["s3"]
        - 3 * hr["n"] * hr["s1"] * hr["s2"]
        + 2 * hr["s1"] ** 3
    )
    assert hm_num < 0 and hm_num % hr["n"] ** 2 != 0, (
        "corpus stopped being adversarial"
    )
    assert hr["m3c"] == hm_num // hr["n"] ** 2 == -114  # trunc reads −113

    # c6. sim_rocchio_feedback via e=: a 5-vector corpus whose top-5
    # dim-1 component sum is −3 (negative, non-divisible by 5) — the
    # centroid floor is −1 where truncation reads 0, and the
    # difference propagates into every dot_c_u2 of the dim-1-bearing
    # vectors.
    r_vecs = (
        [(0, [1.0, 0.0])]
        + [(i, [1.0, -1e-6]) for i in (1, 2, 3)]
        + [(i, [1.0, 0.0]) for i in (4, 5)]
    )
    r_emb = spark.createDataFrame(r_vecs, "vec_id long, embedding array<double>")
    cen_sum = 3 * round(-1e-6 * 1_000_000)  # Σ_{top5} vm at dim 1
    assert cen_sum < 0 and cen_sum % 5 != 0, "corpus stopped being adversarial"
    cm1 = cen_sum // 5  # −1; truncation would read 0
    rr = {
        r["vec_id"]: (r["rk"], r["dot_c_u2"], r["in_orig10"])
        for r in QUERIES["sim_rocchio_feedback"](spark, "unused", e=r_emb).collect()
    }
    want_rr = {
        i: (i, 10**12 + (-1) * cm1, 1) for i in (1, 2, 3)
    } | {i: (i, 10**12, 1) for i in (4, 5)}
    assert rr == want_rr  # trunc cm1=0 would read dot_c_u2 = 10¹² for 1-3

    # c7. analytics_lehr_sample_size via orders=: cohorts A=[0¢],
    # B=[0¢, 0¢, 301¢] give dnum = −301 → gap = floor(−301000/3) =
    # −100334 (truncation reads −100333); the two-step Lehr finale
    # reads s2p = 181202 div 6 = 30200 and n_lehr =
    # ⌈16·30200·9/90601⌉ = 48 — a genuine round-up (remainder 90553).
    l_odf = spark.createDataFrame(
        [("1-URGENT", 0.00), ("5-LOW", 0.00), ("5-LOW", 0.00), ("5-LOW", 3.01)],
        "o_orderpriority string, o_totalprice double",
    )
    [lr] = QUERIES["analytics_lehr_sample_size"](
        spark, "unused", orders=l_odf
    ).collect()
    l_dnum = 0 * 3 - 301 * 1  # s1a·nb − s1b·na
    assert (1000 * l_dnum) % (1 * 3) != 0, "corpus stopped being adversarial"
    assert (lr["na"], lr["nb"]) == (1, 3)
    assert lr["gap_milli_cents"] == (1000 * l_dnum) // 3 == -100334
    l_s2p = 181202 // 6
    assert (16 * l_s2p * 9) % (301 * 301) != 0, (
        "corpus stopped exercising the ceil"
    )
    assert lr["n_lehr"] == -((-16 * l_s2p * 9) // (301 * 301)) == 48

    # c8. analytics_permutation_rank via orders=: the Lehr corpus with
    # orderkeys — perm 0 (observed labels) reads cohorts A=[0¢],
    # B=[0¢, 0¢, 301¢], so gap_milli = floor(−301000/3) = −100334
    # where truncation reads −100333.
    p_odf = spark.createDataFrame(
        [
            (1, "1-URGENT", 0.00),
            (2, "5-LOW", 0.00),
            (3, "5-LOW", 0.00),
            (4, "5-LOW", 3.01),
        ],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    p_rows = {
        r["perm_id"]: r
        for r in QUERIES["analytics_permutation_rank"](
            spark, "unused", orders=p_odf
        ).collect()
    }
    p0 = p_rows[0]
    assert (p0["na"], p0["nb"]) == (1, 3)
    p_num = 1000 * (0 * 3 - 301 * 1)
    assert p_num < 0 and p_num % 3 != 0, "corpus stopped being adversarial"
    assert p0["gap_milli"] == p_num // 3 == -100334  # trunc reads −100333
