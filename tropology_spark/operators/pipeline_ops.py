"""Training-data pipeline operators (round-2 additions; SURVEY.md §2.M
M24-M30) — the end-to-end curation stages a 100 TB LLM data pipeline
runs between "crawl" and "train": near-dup clustering with canonical
selection, benchmark-contamination detection, deterministic dataset
splitting, n-gram Jaccard dedup, intra-document repetition scoring,
sequence packing, and token-length profiling.

All seven are declared queries with full DuckDB oracles: every float
is either an exact integer ratio or a single rounded division of exact
integers (functions/exact.py conventions).

Scale notes (§7.7): the cluster loop is THREE fixed label-propagation
rounds over the near-dup pair graph — near-dup clusters have tiny
diameter (a dup of a dup of a dup is still a dup), so a bounded unroll
is the honest production shape, and fixing the round count makes the
operator ANSI-SQL-expressible (same trick as graph_pagerank3).
Contamination joins the full corpus against a benchmark that is always
tiny → broadcast.  Splitting/profiling are one narrow pass + one
map-side-combinable aggregation.  Packing is a per-partition-key
window (running sum), the same shape as sessionization (K3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from tropology_spark.functions.exact import sql_exact_sum, sql_ts_str
from tropology_spark.plans.global_order import global_row_number, ntile_expr
from tropology_spark.registry import register
from tropology_spark.session import iter_materialize
from tropology_spark.sources.tables import load


def word_ngrams(toks: F.Column, n: int) -> F.Column:
    """Word ``n``-gram array from a token-array column (empty when the
    doc has fewer than ``n`` tokens — F.sequence would otherwise count
    DOWN and fabricate shingles)."""
    cnt = F.size(toks) - (n - 1)
    return F.when(
        cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast(ArrayType(StringType())))


def _ngram_tok_cte(n: int) -> str:
    """DuckDB CTE fragment ``tok(doc_id, pfx, token)``: distinct word
    ``n``-grams per doc with the 40-char blocking prefix (mirror of
    word_ngrams + the dedup.py J2 block)."""
    return f"""
    tok AS (
      SELECT DISTINCT doc_id, substring(text, 1, 40) AS pfx,
             array_to_string(l[i:i+{n - 1}], ' ') AS token
      FROM (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(l) - {n - 1}
    )
    """


# ---------------------------------------------------------------------------
# M24 — near-dup clustering + canonical selection
# ---------------------------------------------------------------------------

# The J2 pair CTE (dedup.py) reshaped as a WITH fragment ending in
# pairs(doc_a, doc_b).  Kept textually in sync with dedup_jaccard_pairs:
# same 40-char block, token-set Jaccard >= 0.5.
_PAIRS_CTE = """
    tok AS (
      SELECT DISTINCT doc_id, substring(text, 1, 40) AS pfx,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    siz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM tok a
      JOIN tok b ON a.token = b.token AND a.pfx = b.pfx AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN siz sa ON doc_a = sa.doc_id
      JOIN siz sb ON doc_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    )
"""

_LABEL_ITER = """
    , l{n} AS (
        SELECT e.d AS doc_id, min(l.lbl) AS lbl
        FROM es e JOIN l{p} l ON l.doc_id = e.s
        GROUP BY e.d)
"""


@register(
    "dedup_cluster_canonical",
    oracle="WITH "
    + _PAIRS_CTE
    + """
    , es AS (SELECT doc_a AS s, doc_b AS d FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs
             UNION ALL SELECT doc_id, doc_id FROM documents),
      l0 AS (SELECT doc_id, doc_id AS lbl FROM documents)
    """
    + _LABEL_ITER.format(n=1, p=0)
    + _LABEL_ITER.format(n=2, p=1)
    + _LABEL_ITER.format(n=3, p=2)
    + """
    SELECT doc_id, lbl AS canonical_id,
           CAST(CASE WHEN doc_id = lbl THEN 1 ELSE 0 END AS BIGINT) AS is_kept
    FROM l3
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M24 — near-dup CLUSTERING with canonical-document selection: the
    stage after pair generation that an actual dedup pipeline needs
    (pairs alone don't tell you which rows to drop).  The final label
    frame is a session-shared materialized view (round-19): the
    curation composition (M53) consumes the identical stage through
    ``QUERIES`` and used to re-run the whole 3-round propagation.

    Three min-label propagation rounds over the J2 Jaccard pair graph
    (plus self-loops) assign every doc the smallest doc_id reachable
    within 3 hops — for near-dup clusters (tiny diameter by
    construction: transitive edits stay similar) this IS the connected
    component, and the fixed round count unrolls into 3 DuckDB CTEs
    exactly like graph_pagerank3.  ``is_kept`` marks the canonical
    representative; `anti-join docs against is_kept=0` is the actual
    drop step.  For arbitrary-diameter graphs use
    graph_connected_components (fixpoint loop, rows-only)."""
    labels = canonical_labels_materialized(spark, sf_dir)
    return labels.select(
        "doc_id",
        F.col("lbl").alias("canonical_id"),
        F.when(F.col("doc_id") == F.col("lbl"), 1).otherwise(0).cast("bigint").alias("is_kept"),
    )


_CANON_LBL_CACHE: dict[tuple[str, str], DataFrame] = {}

from tropology_spark.sources.tables import SESSION_CACHES  # noqa: E402

SESSION_CACHES.append(_CANON_LBL_CACHE)


def canonical_labels_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M24 3-round min-label propagation result — the per-doc
    ``(doc_id, lbl)`` frame — materialized once per (session, sf_dir).
    Shared by the registered M24 query, M107 dedup_keep_best and
    (through ``QUERIES``) the M53 curation composition; round-19 A/B
    at sf0.1: the composition used to re-run the whole pair join + 3
    propagation rounds (~0.8 s warm) per reference."""
    from tropology_spark.sources.tables import cache_get_or_build

    def build() -> DataFrame:
        from tropology_spark.operators.dedup import jaccard_pairs_materialized
        from tropology_spark.operators.graph import min_label_rounds

        # Materialized once per session: three label rounds reuse it
        # (Spark does not reuse non-materialized shared subplans).
        pairs = jaccard_pairs_materialized(spark, sf_dir, block_width=40)
        und = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        labels = load(spark, sf_dir, "documents").select(
            "doc_id", F.col("doc_id").alias("lbl")
        )
        return min_label_rounds(und, labels, 3)

    return cache_get_or_build(
        _CANON_LBL_CACHE, (spark.sparkContext.applicationId, sf_dir), build
    )


# ---------------------------------------------------------------------------
# M25 — benchmark-contamination detection
# ---------------------------------------------------------------------------

_CONTAM_N = 4  # word n-gram width; the standard 8-13 token windows out-
# size the fixtures' 31-word vocab (5-grams leave one hit at sf0.01,
# 3-grams are collision noise) — 4 keeps the check discriminative
_CONTAM_EVAL_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark


@register(
    "text_contamination",
    oracle=f"""
    WITH {_ngram_tok_cte(_CONTAM_N)},
    ev AS (SELECT doc_id, token FROM tok WHERE doc_id % {_CONTAM_EVAL_MOD} = 0),
    tr AS (SELECT doc_id, token FROM tok WHERE doc_id % {_CONTAM_EVAL_MOD} <> 0)
    SELECT tr.doc_id AS doc_id,
           CAST(count(DISTINCT tr.token) AS BIGINT) AS n_shared_ngrams,
           CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs_hit
    FROM tr JOIN ev ON tr.token = ev.token
    GROUP BY tr.doc_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M25 — train/benchmark contamination check: which training docs
    share word {n}-grams with the held-out eval set (docs with
    doc_id % 97 == 0 stand in for the benchmark).

    The canonical decontamination shape: shingle both sides, join on
    the shingle, count distinct overlaps per training doc.  At 100 TB
    the eval side is always tiny (benchmarks are KBs) → Spark
    broadcasts it and the corpus is scanned exactly once, no shuffle
    of the training shingles."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(F.split(F.col("text"), " "), _CONTAM_N))
        ).alias("token"),
    )
    ev = tok.filter(F.col("doc_id") % _CONTAM_EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), F.col("token").alias("ev_token")
    )
    tr = tok.filter(F.col("doc_id") % _CONTAM_EVAL_MOD != 0)
    return (
        tr.join(F.broadcast(ev), tr.token == ev.ev_token)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("token").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs_hit"),
        )
    )


# ---------------------------------------------------------------------------
# M26 — deterministic train/val/test split
# ---------------------------------------------------------------------------


@register(
    "pipeline_split_assign",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             ((strpos('0123456789abcdef',
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef',
                       substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 10
               AS bucket,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM b
    GROUP BY 1, 2
    """,
)
def pipeline_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M26 — deterministic 80/10/10 train/val/test split by content-
    independent hash bucket (first md5 byte of the doc_id, mod 10),
    profiled per language.

    Hash splitting is THE production idiom: stable under reshuffling,
    re-ingestion, and cluster size (unlike `randomSplit`), and any
    engine can recompute membership — which is exactly what the DuckDB
    oracle does.  ``id_checksum`` pins the exact membership, not just
    the counts."""
    d = load(spark, sf_dir, "documents")
    md5 = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(md5, 1, 2), 16, 10).cast("int") % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
            "doc_id",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# M27 — n-gram Jaccard near-dup pairs (north-star "n-gram Jaccard")
# ---------------------------------------------------------------------------

_NGRAM_N = 3


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_ngram_tok_cte(_NGRAM_N)},
    siz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM tok a
      JOIN tok b ON a.token = b.token AND a.pfx = b.pfx AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN siz sa ON doc_a = sa.doc_id
    JOIN siz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.4
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M27 — word-trigram Jaccard near-dup pairs: the n-gram variant
    the north star lists alongside token-set Jaccard (J2).  Shingling
    makes the similarity order-sensitive — token-set Jaccard calls a
    shuffled doc a perfect dup, trigram Jaccard does not — at the cost
    of a larger shingle universe (good: sparser blocks at scale).
    Same 40-char prefix block and exact-integer-ratio discipline as
    J2; threshold 0.4 (trigram Jaccard runs lower than token Jaccard
    for the same edit density)."""
    d = load(spark, sf_dir, "documents")
    # Materialized once: the shingle explode feeds THREE plan branches
    # (both self-join sides + the size agg) and Spark re-derives
    # un-materialized shared subplans per branch (BASELINE.md).
    tok = d.select(
        "doc_id",
        F.substring(F.col("text"), 1, 40).alias("pfx"),
        F.explode(
            F.array_distinct(word_ngrams(F.split(F.col("text"), " "), _NGRAM_N))
        ).alias("token"),
    ).localCheckpoint(eager=True)
    siz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = siz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = siz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    # The per-doc size table is O(docs) rows: explicitly broadcast only
    # while that is provably driver-safe (the connected-components
    # gate); on a larger corpus leave strategy to AQE rather than
    # force-building a hash table that could OOM an executor.
    from tropology_spark.operators.graph import BROADCAST_NODE_LIMIT
    from tropology_spark.sources.tables import table_count

    if table_count(spark, sf_dir, "documents") <= BROADCAST_NODE_LIMIT:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.4)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# M28 — intra-document repetition (Gopher-style quality signal)
# ---------------------------------------------------------------------------


@register(
    "text_repetition",
    oracle="""
    WITH g AS (
      SELECT doc_id, l[i] || ' ' || l[i+1] AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(l) - 1
    ),
    st AS (SELECT doc_id, count(*) AS n_bigrams,
                  count(DISTINCT bg) AS n_unique
           FROM g GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_unique AS BIGINT) AS n_unique,
           round(CAST(n_bigrams - n_unique AS DOUBLE) / n_bigrams, 6)
             AS dup_bigram_ratio
    FROM st
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M28 — duplicate-bigram fraction per document: the Gopher-rules
    repetition signal (high ratio = boilerplate/spam loops; the filter
    downstream drops docs above a threshold).  Complements
    text_quality_score's surface stats with the one signal that needs
    an n-gram pass.  Exact integers + one rounded division.

    The per-doc bigram stats frame is a session-shared materialized
    view (round-19): the M53 curation composition consumes the
    identical stage through ``QUERIES`` and used to re-run the whole
    O(tokens) bigram explode (~2.5 s warm at sf0.1) per reference."""
    st = repetition_stats_materialized(spark, sf_dir)
    ratio = (F.col("n_bigrams") - F.col("n_unique")).cast("double") / F.col("n_bigrams")
    return st.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("n_unique").cast("bigint").alias("n_unique"),
        F.round(ratio, 6).alias("dup_bigram_ratio"),
    )


_REP_STATS_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_REP_STATS_CACHE)


def repetition_stats_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M28 per-doc bigram stats — ``(doc_id, n_bigrams, n_unique)``
    — materialized once per (session, sf_dir).  The bigram explode is
    the expensive upstream (O(total tokens)); the stats frame itself
    is one small row per document."""
    from tropology_spark.sources.tables import cache_get_or_build

    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        bg = d.select(
            "doc_id",
            F.explode(word_ngrams(F.split(F.col("text"), " "), 2)).alias("bg"),
        )
        return iter_materialize(
            bg.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.countDistinct("bg").alias("n_unique"),
            )
        )

    return cache_get_or_build(
        _REP_STATS_CACHE, (spark.sparkContext.applicationId, sf_dir), build
    )


# ---------------------------------------------------------------------------
# M29 — greedy sequence packing
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 512  # tokens per training sequence


@register(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM t
    )
    SELECT lang, CAST(cum_before // {_PACK_CAPACITY} AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM c
    GROUP BY 1, 2
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M29 — greedy sequence packing: concatenate docs (per language,
    in deterministic doc_id order) into ~{cap}-token training
    sequences, reporting per-bin composition.  The running-sum window
    is the same shape as sessionization (K3): one shuffle on the
    partition key, then a linear in-partition pass — at 100 TB the
    packing parallelism is the number of (lang, shard) partition keys,
    so production adds a shard column; semantics are unchanged."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.groupBy(
            "lang",
            F.expr(f"cum_before DIV {_PACK_CAPACITY}").cast("bigint").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# M30 — token-length histogram
# ---------------------------------------------------------------------------

_HIST_BUCKET = 8  # tokens per bucket


@register(
    "text_token_histogram",
    oracle=f"""
    SELECT CAST(len(string_split(text, ' ')) // {_HIST_BUCKET} AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
    FROM documents
    GROUP BY 1
    """,
)
def text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M30 — document-length histogram in {w}-token buckets: the
    profiling pass that sizes packing capacity (M29), batch shapes,
    and truncation losses before a training run.  One narrow scan +
    map-side-combinable aggregation."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return (
        d.select(n_tokens.alias("n_tokens"))
        .groupBy(F.expr(f"n_tokens DIV {_HIST_BUCKET}").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# M41 — incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------

_PRIOR_MOD = 7  # doc_id % 7 == 0 plays the already-ingested corpus


@register(
    "dedup_incremental",
    oracle=f"""
    WITH prior AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % {_PRIOR_MOD} = 0
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % {_PRIOR_MOD} <> 0
    )
    SELECT b.doc_id, b.h AS text_hash
    FROM batch b LEFT JOIN prior p ON b.h = p.h
    WHERE p.h IS NULL
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M41 — incremental ingestion dedup: which documents in the new
    batch are NOT already in the existing corpus, by content hash
    (docs with doc_id % 7 == 0 stand in for the prior snapshot).

    The daily-crawl shape: the prior corpus is represented by its hash
    set only — at 100 TB that set is a fraction of corpus bytes (16 B/
    doc), lives pre-bucketed on the hash, and the anti-join is
    shuffle-free against it; the new batch is the only full-width
    scan.  Expressed as a left-anti join (C6's frontier idiom applied
    to content identity)."""
    d = load(spark, sf_dir, "documents")
    prior = (
        d.filter(F.col("doc_id") % _PRIOR_MOD == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % _PRIOR_MOD != 0).select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    return batch.join(
        prior, batch.text_hash == prior.h, "left_anti"
    ).select("doc_id", "text_hash")


# ---------------------------------------------------------------------------
# M42 — inverted index (token → posting list)
# ---------------------------------------------------------------------------


@register(
    "text_inverted_index",
    oracle="""
    SELECT token,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(count(*) AS BIGINT) AS total_tf,
           array_to_string(list_sort(list(DISTINCT doc_id))[1:5], ',') AS top_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M42 — inverted-index construction: token → document frequency,
    total term frequency, and the first five posting doc_ids (sorted,
    comma-joined — a string so both engines serialize it identically).

    The retrieval-side primitive of a data pipeline (quality probes,
    corpus search, dedup forensics all query it).  One explode + one
    groupBy: the shuffle is proportional to distinct (token, doc)
    pairs and partial aggregation combines map-side; at 100 TB the
    posting lists are the large payload, which is why the declared
    query truncates them — production writes the full lists bucketed
    by token so index lookups are single-partition."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    # df derives from the collected posting set rather than a separate
    # countDistinct: a distinct-agg next to collect_set would plan a
    # second Exchange (expand + re-shuffle); this way the whole query
    # is one partial+final aggregation.
    postings = F.array_sort(F.collect_set("doc_id"))
    return (
        tok.groupBy("token")
        .agg(
            postings.alias("p"),
            F.count(F.lit(1)).alias("total_tf"),
        )
        .select(
            "token",
            F.size("p").cast("bigint").alias("df"),
            "total_tf",
            F.array_join(
                F.transform(F.slice(F.col("p"), 1, 5), lambda x: x.cast("string")), ","
            ).alias("top_docs"),
        )
    )


# ---------------------------------------------------------------------------
# M43 — deterministic global shuffle → shard layout
# ---------------------------------------------------------------------------

_N_SHARDS = 16


@register(
    "pipeline_shard_layout",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             ((strpos('0123456789abcdef',
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef',
                       substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               % {_N_SHARDS} AS shard
      FROM documents
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM b
    """,
)
def pipeline_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M43 — deterministic global shuffle: every doc gets a shard
    (first md5 byte of its id, mod {n}) and a position within the
    shard (row_number over the md5 hex, so the within-shard order is a
    content-independent pseudo-random permutation).

    This is how training data is actually shuffled at 100 TB: a full
    sort is pointless, a `rand()` order is irreproducible — a hash
    shard + hash order is both parallel (one shuffle on the shard key,
    then in-partition sort) and exactly reproducible on any engine,
    which the DuckDB oracle demonstrates.  Production follows with
    `partitionBy('shard')` parquet writes (A7)."""
    d = load(spark, sf_dir, "documents")
    md5 = F.md5(F.col("doc_id").cast("string"))
    b = d.select(
        "doc_id",
        md5.alias("h"),
        (F.conv(F.substring(md5, 1, 2), 16, 10).cast("int") % _N_SHARDS)
        .cast("bigint")
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return b.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


# ---------------------------------------------------------------------------
# M44 — per-language length-percentile quality gate
# ---------------------------------------------------------------------------


@register(
    "text_length_gate",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM r WHERE pr >= 0.05 AND pr <= 0.95
    """,
)
def text_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M44 — length-outlier gate: keep documents inside the per-
    language 5th–95th percentile band of n_chars (drop truncated
    fragments and concatenation blobs — the standard first quality
    filter).  percent_rank is (rank-1)/(n-1) on a unique integer
    ordering (n_chars, doc_id), so both engines compute bit-identical
    doubles and the band comparison is deterministic; the output
    itself is all integers.  One shuffle on lang; at 100 TB the
    per-lang rank would be computed on a sampled quantile sketch
    instead (approx_percentile), traded here for exactness."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    pr = F.percent_rank().over(w)
    return (
        d.select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"), pr.alias("pr"))
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# M45 — vocabulary build + per-doc OOV rate
# ---------------------------------------------------------------------------

_VOCAB_K = 20


@register(
    "text_vocab_oov",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    freq AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rn FROM freq
      ) WHERE rn <= {_VOCAB_K}
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M45 — vocabulary coverage: build the top-{k} corpus vocabulary
    (frequency desc, token asc tie-break — deterministic on integer
    counts) and report each document's out-of-vocabulary token count
    and rate (exact integer ratio, one rounded division).

    The tokenizer-fitting feedback loop: high corpus OOV → grow the
    vocab or fix normalization.  The vocab is by construction tiny →
    broadcast to the token pass, so the corpus is scanned once with
    no shuffle besides the per-doc aggregation.  The top-k window is
    a single-partition sort over distinct tokens only (already
    aggregated), not over raw corpus tokens."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    wv = Window.partitionBy(F.pmod(F.col("n"), F.lit(1))).orderBy(
        F.col("n").desc(), F.col("token")
    )
    vocab = (
        freq.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= _VOCAB_K)
        .select(F.col("token").alias("v_token"))
    )
    return (
        tok.join(F.broadcast(vocab), tok.token == F.col("v_token"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("v_token").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("v_token").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# M46 — stratified deterministic sample
# ---------------------------------------------------------------------------

_SAMPLE_PER_STRATUM = 25


@register(
    "pipeline_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS samp_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= {_SAMPLE_PER_STRATUM}
    """,
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M46 — stratified reproducible sampling: the {n} docs with the
    smallest md5(doc_id) per language — a uniform random sample per
    stratum that any engine reproduces exactly (the eval-set /
    human-inspection selection idiom; `TABLESAMPLE` and `rand()` give
    a different set every run and can't be re-derived).

    One shuffle on the stratum key; the per-partition top-n needs no
    full sort at scale (rank + filter; at 100 TB replace the window
    with a per-partition bounded heap via the same top-k-per-group
    shape as E7)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _SAMPLE_PER_STRATUM)
        .select("doc_id", "lang", F.col("rn").cast("bigint").alias("samp_rank"))
    )


# ---------------------------------------------------------------------------
# M47 — hot-key / skew profile (group-size histogram)
# ---------------------------------------------------------------------------


def _pow2_bucket_sql(col: str) -> str:
    """CASE chain mapping a positive integer count to floor(log2(n))
    with pure integer comparisons — no float log, so the bucket edges
    are exact in every engine."""
    whens = "\n".join(
        f"WHEN {col} >= {1 << p} THEN {p}" for p in range(30, 0, -1)
    )
    return f"CASE {whens} ELSE 0 END"


@register(
    "pipeline_skew_profile",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    )
    SELECT CAST({_pow2_bucket_sql('n')} AS BIGINT) AS bucket_pow,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n) AS BIGINT) AS sum_events,
           CAST(max(n) AS BIGINT) AS max_key_count
    FROM per_key
    GROUP BY 1
    """,
)
def pipeline_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M47 — shuffle-skew diagnosis: histogram of per-key group sizes
    in power-of-two buckets (how many join/groupBy keys carry 2^p..
    2^(p+1) rows), plus the heaviest key's count.  This is the report
    you run BEFORE a 100 TB join to decide between plain shuffle, AQE
    skew-split, and salting (M23's toolkit) — a long tail plus a
    multi-million-row bucket means salt the top keys.  Two map-side-
    combinable aggregations; the bucket edges are integer comparisons
    (no float log2), identical across engines."""
    ev = load(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    bucket = F.expr(_pow2_bucket_sql("n")).cast("bigint")
    return (
        per_key.groupBy(bucket.alias("bucket_pow"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").cast("bigint").alias("sum_events"),
            F.max("n").cast("bigint").alias("max_key_count"),
        )
    )


# ---------------------------------------------------------------------------
# M48 — Z-order layout key (multi-dimensional clustering)
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_BUCKET_SHIFT = 12


def _zkey_sql(a: str, b: str, shift: str) -> str:
    """Bit-interleave expression z = …b1a1b0a0 over the low {bits}
    bits of ``a`` and ``b`` as a sum of masked shifts — plain integer
    arithmetic (``shift`` spells the engine's right-shift: 'shiftright'
    style callables differ between Spark SQL and DuckDB)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"({shift.format(col=a, n=i)} & 1) * {1 << (2 * i)}")
        terms.append(f"({shift.format(col=b, n=i)} & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


_Z_DUCK = _zkey_sql("(o_custkey % 65536)", "(day % 65536)", "({col} >> {n})")
_Z_SPARK = _zkey_sql("(o_custkey % 65536)", "(day % 65536)", "shiftright({col}, {n})")


@register(
    "pipeline_zorder_layout",
    oracle=f"""
    WITH d AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS day
      FROM orders
    ),
    z AS (SELECT o_orderkey, CAST({_Z_DUCK} AS BIGINT) AS zkey FROM d)
    SELECT CAST(zkey >> {_Z_BUCKET_SHIFT} AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(zkey) AS BIGINT) AS min_z,
           CAST(max(zkey) AS BIGINT) AS max_z,
           CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
    FROM z GROUP BY 1
    """,
)
def pipeline_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M48 — Z-order (Morton) clustering key over (customer, order
    day): interleaving the two dimensions' bits gives a 1-D sort key
    whose ranges are 2-D locality boxes, so files sorted by it can be
    pruned by min/max statistics for BOTH `o_custkey` filters and date
    ranges — the data-layout trick behind Delta's OPTIMIZE ZORDER,
    expressed in pure integer arithmetic both engines evaluate
    identically.  The query reports per-bucket occupancy (the file-
    skipping profile a layout job would print); production follows
    with a range-partitioned write sorted by zkey.  One narrow scan +
    one aggregation."""
    o = load(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    )
    z = d.select("o_orderkey", F.expr(_Z_SPARK).cast("bigint").alias("zkey"))
    return (
        z.groupBy(
            F.shiftright(F.col("zkey"), _Z_BUCKET_SHIFT).cast("bigint").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("zkey").cast("bigint").alias("min_z"),
            F.max("zkey").cast("bigint").alias("max_z"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# M49 — CDC changelog apply (last-writer-wins snapshot)
# ---------------------------------------------------------------------------


@register(
    "pipeline_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events
    )
    SELECT user_id,
           CAST(event_id AS BIGINT) AS last_event_id,
           event_type AS last_type,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def pipeline_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M49 — changelog → snapshot materialization (the MERGE half of
    CDC ingestion): treat events as a per-user change stream, keep the
    last writer by (ts, event_id) — the unique tie-break the exactness
    rules require — and drop keys whose final change is a delete
    (``event_type = 'error'`` plays the tombstone).

    One shuffle on the key, one window pass: the same top-1-per-group
    shape as E7, which is exactly how Delta/Iceberg MERGE compaction
    resolves multiple updates to a key inside a batch.  Pairs with the
    M33 transactional sink (write the snapshot atomically) and M41
    (incremental arrival filtering)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    wc = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_changes"),
        )
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").cast("bigint").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("n_changes").cast("bigint").alias("n_changes"),
        )
    )


# ---------------------------------------------------------------------------
# M50 — data-quality constraint report
# ---------------------------------------------------------------------------


@register(
    "pipeline_dq_report",
    oracle="""
    SELECT 'orders_orphan_custkey' AS check_name,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
             AS n_violations,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_scanned
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'orders_dup_orderkey',
           CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'customer_null_name',
           CAST((SELECT count(*) FROM customer WHERE c_name IS NULL) AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)
    UNION ALL
    SELECT 'events_nonpositive_value',
           CAST((SELECT count(*) FROM events WHERE value <= 0) AS BIGINT),
           CAST((SELECT count(*) FROM events) AS BIGINT)
    """,
)
def pipeline_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M50 — dbt-style data-quality audit: referential integrity
    (orphan foreign keys via left-anti joins), primary-key uniqueness,
    null constraints, and a domain check, one row per check with the
    violation and scanned counts.  The gate a production pipeline runs
    between ingest and publish (M33's commit step would abort on
    n_violations > 0).

    Each same-table check is a single conditional aggregation (one
    scan per table); the two integrity checks are anti-joins where the
    lookup side ships as a broadcast at dim scale or a co-bucketed
    join at fact scale (M23).  Everything is a count → exact."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")

    def one(name: str, viol, scanned) -> DataFrame:
        return viol.crossJoin(scanned).select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("bigint").alias("n_violations"),
            F.col("s").cast("bigint").alias("n_scanned"),
        )

    n_orders = o.agg(F.count(F.lit(1)).alias("s"))
    checks = [
        one(
            "orders_orphan_custkey",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
            n_orders,
        ),
        one(
            "lineitem_orphan_orderkey",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
            li.agg(F.count(F.lit(1)).alias("s")),
        ),
        one(
            "orders_dup_orderkey",
            o.agg((F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v")),
            n_orders,
        ),
        one(
            "customer_null_name",
            c.agg(F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias("v")),
            c.agg(F.count(F.lit(1)).alias("s")),
        ),
        one(
            "events_nonpositive_value",
            ev.agg(F.sum(F.when(F.col("value") <= 0, 1).otherwise(0)).alias("v")),
            ev.agg(F.count(F.lit(1)).alias("s")),
        ),
    ]
    out = checks[0]
    for ck in checks[1:]:
        out = out.unionByName(ck)
    return out


# ---------------------------------------------------------------------------
# M62 — SCD Type-2 dimension build (the history-keeping half of CDC)
# ---------------------------------------------------------------------------


@register(
    "pipeline_scd2",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS attr_cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS version,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_id,
           attr_cents,
           {sql_ts_str('ts')} AS valid_from,
           CASE WHEN next_ts IS NULL THEN NULL
                ELSE {sql_ts_str('next_ts')} END AS valid_to,
           CAST(CASE WHEN next_ts IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_current
    FROM v
    """,
)
def pipeline_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M62 — slowly-changing-dimension Type 2: every change to a key's
    attribute becomes a version row with a [valid_from, valid_to)
    interval; the open interval (valid_to NULL) is the current row.
    The history-preserving complement of `pipeline_cdc_apply`'s
    last-writer-wins snapshot — together they are the two halves of a
    warehouse MERGE.

    The change stream is the purchase events per user; the tracked
    attribute is the cents-exact value.  Versioning orders by the
    unique (ts, event_id); validity bounds are second-granularity
    strings (the exactness timestamp convention).  Scale: one shuffle
    on user_id drives both window functions in a single stage; at
    100 TB the dimension would be range-partitioned on key and the
    open-interval rows compacted separately (txlog sink shape)."""
    from tropology_spark.functions.exact import ts_str

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("attr_cents"),
        )
        .withColumn("version", F.row_number().over(w).cast("bigint"))
        .withColumn("next_ts", F.lead("ts").over(w))
    )
    return v.select(
        "user_id",
        "version",
        "event_id",
        "attr_cents",
        ts_str(F.col("ts")).alias("valid_from"),
        F.when(F.col("next_ts").isNull(), F.lit(None).cast("string"))
        .otherwise(ts_str(F.col("next_ts")))
        .alias("valid_to"),
        F.when(F.col("next_ts").isNull(), 1).otherwise(0).cast("bigint").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# M63 — weighted reproducible sampling (A-ES with md5 randomness)
# ---------------------------------------------------------------------------

_WSAMPLE_K = 100


@register(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, u
    FROM pri
    ORDER BY CAST(u AS DOUBLE) / weight ASC, doc_id
    LIMIT {_WSAMPLE_K}
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M63 — weighted sampling without replacement, reproducible: each
    document draws a deterministic pseudo-uniform u (md5 low-32 of its
    id — the portable hash family from dedup_minhash_lsh) and the
    sample keeps the {k} smallest u/weight priorities — the A-ES
    exponential-jump scheme's deterministic core, weighting by
    n_chars so longer documents are proportionally likelier.

    Determinism: u and weight are exact integers; u/weight is ONE IEEE
    division, bit-identical in both engines, ranked with the unique
    doc_id tie-break (the CLAUDE.md rank rule).  Scale: a global top-k
    — TakeOrderedAndProject, per-partition heaps, no full sort, no
    shuffle of the corpus."""
    d = load(spark, sf_dir, "documents")
    pri = d.filter(F.col("n_chars") > 0).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("u"),
    )
    return pri.orderBy(
        (F.col("u").cast("double") / F.col("weight")).asc(), F.col("doc_id")
    ).limit(_WSAMPLE_K)


# ---------------------------------------------------------------------------
# M66 — integer min-max feature scaling (training-feature normalization)
# ---------------------------------------------------------------------------


@register(
    "pipeline_minmax_scale",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    b AS (
      SELECT event_type, min(cents) AS lo, max(cents) AS hi
      FROM c GROUP BY event_type
    )
    SELECT c.event_id, c.event_type, c.cents,
           CAST(CASE WHEN b.hi = b.lo THEN 0
                     ELSE (c.cents - b.lo) * 1000 // (b.hi - b.lo)
                END AS BIGINT) AS permille
    FROM c JOIN b USING (event_type)
    """,
)
def pipeline_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M66 — min-max feature normalization into integer per-mille
    (0-1000): the standard pre-training feature scaler, made
    cross-engine exact by floor-dividing the integer spread instead of
    producing a float in [0,1] (`(x-lo)*1000 // (hi-lo)` — every term
    an exact integer; a degenerate group scales to 0).

    Scale: the per-group bounds are a map-side-combinable aggregate of
    a handful of rows; they broadcast back onto the fact scan, so the
    normalization pass itself is shuffle-free over the big table."""
    ev = load(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    b = c.groupBy("event_type").agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    permille = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.floor((F.col("cents") - F.col("lo")) * 1000 / (F.col("hi") - F.col("lo")))
    )
    return c.join(F.broadcast(b), "event_type").select(
        "event_id",
        "event_type",
        "cents",
        permille.cast("bigint").alias("permille"),
    )


# ---------------------------------------------------------------------------
# M78 — point-in-time (temporal) join against the SCD2 dimension
# ---------------------------------------------------------------------------


@register(
    "join_point_in_time",
    oracle="""
    WITH v AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS version,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS attr_cents
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT c.event_id, c.user_id,
           CAST(v.version AS BIGINT) AS version, v.attr_cents
    FROM c JOIN v
      ON v.user_id = c.user_id
     AND v.valid_from <= c.ts
     AND (v.valid_to IS NULL OR c.ts < v.valid_to)
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M78 — point-in-time correctness: each click is enriched with the
    dimension version that was valid AT ITS TIMESTAMP (the M62 SCD2
    intervals rebuilt inline) — the feature-store / ML-training join
    where reading the current row instead of the as-at row is silent
    label leakage.  Intervals partition time per user, so every click
    matches at most one version.

    Scale: facts and versions shuffle once on user_id and the interval
    probe is within-key; a production feature store sorts versions per
    key so the probe is a binary search (the C9 as-of shape), not a
    scan of all versions."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("v_user"),
            "ts",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("attr_cents"),
        )
        .select(
            "v_user",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(
                Window.partitionBy("v_user").orderBy("ts", "event_id")
            ).alias("valid_to"),
            F.row_number()
            .over(Window.partitionBy("v_user").orderBy("ts", "event_id"))
            .cast("bigint")
            .alias("version"),
            "attr_cents",
        )
    )
    c = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return c.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).select("event_id", "user_id", "version", "attr_cents")


# ---------------------------------------------------------------------------
# M80 — deterministic negative sampling (link-prediction training pairs)
# ---------------------------------------------------------------------------

_NEG_NODES = 50  # sampled src/dst universe per side
_NEG_K = 500  # negatives kept


@register(
    "pipeline_negative_sample",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS src, l_partkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    s AS (
      SELECT src FROM (
        SELECT src, row_number() OVER (ORDER BY md5(CAST(src AS VARCHAR)), src) AS r
        FROM (SELECT DISTINCT src FROM e)
      ) WHERE r <= {_NEG_NODES}
    ),
    d AS (
      SELECT dst FROM (
        SELECT dst, row_number() OVER (ORDER BY md5(CAST(dst AS VARCHAR)), dst) AS r
        FROM (SELECT DISTINCT dst FROM e)
      ) WHERE r <= {_NEG_NODES}
    ),
    cand AS (SELECT s.src, d.dst FROM s, d),
    neg AS (
      SELECT c.src, c.dst
      FROM cand c LEFT JOIN e ON e.src = c.src AND e.dst = c.dst
      WHERE e.src IS NULL
    )
    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(row_number() OVER (
                  ORDER BY md5(CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)),
                           src, dst) AS BIGINT) AS rk
    FROM neg
    QUALIFY rk <= {_NEG_K}
    """,
)
def pipeline_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M80 — reproducible negative sampling: the non-edges a link
    predictor trains against.  A deterministic md5-ordered sample of
    {n} sources × {n} destinations forms the candidate grid; existing
    edges are anti-joined away; the {k} survivors with the smallest
    pair-hash are the negative set — every step pure md5 arithmetic
    (the M43/M46 reproducibility discipline), so the same training
    set regenerates on any engine, any partitioning, any day.

    Scale: both node samples are global top-n over distinct keys
    (TakeOrderedAndProject on O(nodes)); the candidate grid is
    |S|x|D| rows — constant-sized, broadcast into the anti-join probe
    against the edge table, which is scanned once; at 100 TB a bloom
    filter on (src,dst) replaces the exact anti-join's shuffle."""
    from tropology_spark.sources.tables import edges

    e = edges(spark, sf_dir).localCheckpoint(eager=True)
    s = (
        e.select("src")
        .distinct()
        .orderBy(F.md5(F.col("src").cast("string")), F.col("src"))
        .limit(_NEG_NODES)
    )
    d = (
        e.select("dst")
        .distinct()
        .orderBy(F.md5(F.col("dst").cast("string")), F.col("dst"))
        .limit(_NEG_NODES)
    )
    # hint the cross's build side only: a broadcast hint on the LEFT of
    # a left-anti is unsupported (build-left) — Spark ignored it with a
    # HintErrorLogger warning in every bench tail (VERDICT r8 cosmetic).
    cand = s.crossJoin(F.broadcast(d))
    neg = cand.join(e, ["src", "dst"], "left_anti")
    pair_hash = F.md5(
        F.concat(F.col("src").cast("string"), F.lit("_"), F.col("dst").cast("string"))
    )
    w = Window.partitionBy(F.pmod(F.col("src"), F.lit(1))).orderBy(
        pair_hash, "src", "dst"
    )
    return (
        neg.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _NEG_K)
        .select(
            F.col("src").cast("bigint").alias("src"),
            F.col("dst").cast("bigint").alias("dst"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# M82 — dataset card (per-language corpus summary)
# ---------------------------------------------------------------------------


@register(
    "pipeline_dataset_card",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    pert AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS sum_tokens,
             CAST(count(DISTINCT token) AS BIGINT) AS n_vocab
      FROM tok GROUP BY lang
    ),
    dups AS (
      SELECT lang, CAST(sum(n - 1) AS BIGINT) AS n_exact_dup_docs
      FROM (SELECT lang, md5(text) AS h, count(*) AS n
            FROM documents GROUP BY 1, 2)
      WHERE n > 1 GROUP BY lang
    ),
    base AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang
    )
    SELECT b.lang, b.n_docs, b.n_sources, b.sum_chars,
           p.sum_tokens, p.n_vocab,
           CAST(coalesce(d.n_exact_dup_docs, 0) AS BIGINT) AS n_exact_dup_docs
    FROM base b
    JOIN pert p USING (lang)
    LEFT JOIN dups d USING (lang)
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M82 — the dataset card: per language, the summary a data lead
    publishes next to a corpus release — document/source counts, char
    and token budgets, vocabulary size, and how many documents are
    redundant exact copies (J1's md5 identity; dup count = Σ(n-1),
    the rows a dedup pass would remove).  Every figure is an exact
    integer.

    Scale: one documents scan feeds the doc-level aggregate, one
    explode feeds the token aggregate (map-side combinable, the J4
    shape), and the dup table groups on the 16-byte hash — three
    shuffles over progressively smaller data, joined on the tiny lang
    key."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    pert = tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("sum_tokens"),
        F.countDistinct("token").alias("n_vocab"),
    )
    dups = (
        d.groupBy("lang", F.md5(F.col("text")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .groupBy("lang")
        .agg(F.sum(F.col("n") - 1).cast("bigint").alias("n_exact_dup_docs"))
    )
    base = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    return (
        base.join(pert, "lang")
        .join(dups, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_sources",
            "sum_chars",
            "sum_tokens",
            "n_vocab",
            F.coalesce(F.col("n_exact_dup_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_exact_dup_docs"),
        )
    )


# ---------------------------------------------------------------------------
# M84 — source-balanced interleave (training-order construction)
# ---------------------------------------------------------------------------


@register(
    "pipeline_interleave_sources",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS epoch_step
      FROM documents
    )
    SELECT doc_id, source, CAST(epoch_step AS BIGINT) AS epoch_step,
           CAST(row_number() OVER (ORDER BY epoch_step, source, doc_id)
                AS BIGINT) AS position
    FROM r
    """,
)
def pipeline_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M84 — source-balanced training order: documents are md5-shuffled
    WITHIN each source, then round-robin interleaved across sources —
    the curriculum trick that stops a giant source from monopolizing
    any training window, fully reproducible (M43's md5 discipline, no
    RNG state).

    Scale: BOTH ranks go through the two-pass range-partitioned
    prefix-sum (plans/global_order.py) — the per-source step because a
    handful of giant sources would otherwise each funnel through one
    window task, and the global position because it is a corpus-wide
    total order.  Two range shuffles + two broadcast offset joins; no
    single-partition WindowExec anywhere in the plan."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("__k")
    )
    r = global_row_number(
        d, ["__k", "doc_id"], group_cols=["source"], out="epoch_step"
    ).select("doc_id", "source", "epoch_step")
    return global_row_number(
        r, ["epoch_step", "source", "doc_id"], out="position"
    ).select("doc_id", "source", "epoch_step", "position")


# ---------------------------------------------------------------------------
# M86 — context-window chunking with overlap
# ---------------------------------------------------------------------------

_CHUNK_W = 16  # tokens per chunk (context window)
_CHUNK_S = 12  # stride (W - S = 4 tokens of overlap between chunks)


@register(
    "pipeline_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, n,
             1 + CAST(floor((CASE WHEN n > {_CHUNK_W} THEN n - {_CHUNK_W} ELSE 0 END
                             + {_CHUNK_S} - 1) / {_CHUNK_S}) AS BIGINT) AS n_chunks
      FROM t
    )
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
           CAST(least(1 + k * {_CHUNK_S} + {_CHUNK_W} - 1, n)
                - (1 + k * {_CHUNK_S}) + 1 AS BIGINT) AS chunk_tokens,
           md5(array_to_string(
                 toks[1 + k * {_CHUNK_S} : least(1 + k * {_CHUNK_S} + {_CHUNK_W} - 1, n)],
                 ' ')) AS chunk_md5
    FROM sized, (SELECT unnest(generate_series(0, 511)) AS k) s
    WHERE k < n_chunks
    """,
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M86 — split every document into fixed-size token windows
    (W={w}, stride S={s}: the context-window chunking every training
    and RAG pipeline runs before tokenization).  Chunk count is
    1 + ceil(max(0, n-W)/S) so the final partial window is always
    emitted and every token is covered; chunk identity is the md5 of
    the space-joined token slice, making the output hash-verifiable
    without carrying the text.

    Scale: embarrassingly parallel — one scan, a per-row sequence
    explode (fan-out ≤ n/S per doc), no shuffle at all; the array
    slice/join/md5 chain is whole-stage-codegen JVM work."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sized = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("n"),
    ).withColumn(
        "n_chunks",
        (
            F.lit(1)
            + F.floor(
                (
                    F.greatest(F.col("n") - _CHUNK_W, F.lit(0))
                    + _CHUNK_S
                    - 1
                )
                / _CHUNK_S
            )
        ).cast("bigint"),
    )
    start = F.lit(1) + F.col("k") * _CHUNK_S  # 1-based slice start
    end = F.least(start + _CHUNK_W - 1, F.col("n"))
    return (
        sized.select(
            "doc_id",
            "toks",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").cast("bigint").alias("chunk_id"),
            (end - start + 1).cast("bigint").alias("chunk_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), start, end - start + 1))
            ).alias("chunk_md5"),
        )
    )


# ---------------------------------------------------------------------------
# M87 — training-mixture sampling weights per source
# ---------------------------------------------------------------------------

_MIX_WEIGHT_CAP = 4.0  # never upsample a source more than 4 epochs


@register(
    "pipeline_mixture_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           CAST(floor(1000000 * n_docs / total) AS BIGINT) AS share_ppm,
           CAST(floor(1000000 / n_sources) AS BIGINT) AS target_ppm,
           least(CAST(total AS DOUBLE) / (n_sources * n_docs),
                 {_MIX_WEIGHT_CAP}) AS sample_weight,
           CAST(floor((total + n_sources * n_docs - 1) / (n_sources * n_docs))
                AS BIGINT) AS epochs
    FROM per_source, tot
    """,
)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M87 — per-source sampling weights that rebalance the corpus to a
    uniform target mixture (the data-mixing step before a training
    run): weight = target_share / actual_share, capped at {c}× so no
    source is over-epoched.  Every ratio is a SINGLE division of two
    exact integers — both engines perform the identical IEEE operation
    — and the integer views (ppm shares, ceil epochs) carry the
    decision-grade values exactly.

    Scale: the per-source aggregate is map-side combinable; the totals
    row is one scalar broadcast back over a source-cardinality frame —
    metadata-sized at any corpus scale."""
    d = load(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_docs").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(F.lit(1000000) * F.col("n_docs") / F.col("total"))
            .cast("bigint")
            .alias("share_ppm"),
            F.floor(F.lit(1000000) / F.col("n_sources"))
            .cast("bigint")
            .alias("target_ppm"),
            F.least(
                F.col("total").cast("double")
                / (F.col("n_sources") * F.col("n_docs")),
                F.lit(_MIX_WEIGHT_CAP),
            ).alias("sample_weight"),
            F.floor(
                (F.col("total") + F.col("n_sources") * F.col("n_docs") - 1)
                / (F.col("n_sources") * F.col("n_docs"))
            )
            .cast("bigint")
            .alias("epochs"),
        )
    )


# ---------------------------------------------------------------------------
# M89 — hot-key salted join as a declared query
# ---------------------------------------------------------------------------

_SALT_N = 8


@register(
    "join_salted_hotkey",
    oracle="""
    SELECT p_brand,
           {rev} AS revenue_sum,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """.format(rev=sql_exact_sum("l_extendedprice * (1 - l_discount)", 2)),
)
def join_salted_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M89 — the skew-mitigation join (plans/skew.py salted_join) as a
    declared, oracle-checked query: lineitem x part revenue per brand
    where the fact side carries a content-derived salt and the
    dimension is replicated once per salt value, spreading any hot
    part key across {n} tasks.  The oracle is the PLAIN join — the
    whole point is bit-identical output with a skew-proof plan.

    Scale: replication cost is n_salt x |dimension| (the small side
    only); the fact table still shuffles once on (key, salt).  AQE's
    skew splitting handles moderate skew automatically — this is the
    explicit tool for the pathological keys it can't (the TVTropes
    celebrity-node case, SCALE.md)."""
    from tropology_spark.functions.exact import exact_sum
    from tropology_spark.plans.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        salted_join(li, part, "l_partkey", n_salt=_SALT_N)
        .groupBy("p_brand")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue_sum"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# M93 — label-balance audit (exact Gini impurity)
# ---------------------------------------------------------------------------


@register(
    "pipeline_label_balance",
    oracle="""
    WITH per AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    agg AS (
      SELECT source,
             CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(sum(n * n) AS BIGINT) AS sum_sq
      FROM per GROUP BY source
    )
    SELECT source, n_docs, n_langs,
           CAST(n_docs * n_docs - sum_sq AS BIGINT) AS gini_num,
           CAST(n_docs * n_docs AS BIGINT) AS gini_den,
           CAST(n_docs * n_docs - sum_sq AS DOUBLE) / (n_docs * n_docs)
             AS gini_impurity
    FROM agg
    """,
)
def pipeline_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M93 — class-balance audit per source: Gini impurity of the lang
    distribution, the diversity line on a dataset card.  Entropy needs
    logs (float-order-dependent); Gini is 1 - Σ(nᵢ/N)² =
    (N² - Σnᵢ²)/N² — numerator and denominator are exact BIGINTs, the
    reported double is ONE division of the two (bit-identical in both
    engines).

    Scale: two map-side-combinable aggregates over (source, lang) —
    a metadata-cardinality result at any corpus size."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    agg = per.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sum_sq"),
    )
    num = (F.col("n_docs") * F.col("n_docs") - F.col("sum_sq")).cast("bigint")
    den = (F.col("n_docs") * F.col("n_docs")).cast("bigint")
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        num.alias("gini_num"),
        den.alias("gini_den"),
        (num.cast("double") / den).alias("gini_impurity"),
    )


# ---------------------------------------------------------------------------
# M107 — quality-priority canonical keep (dedup policy plug-in)
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_best",
    oracle="WITH "
    + _PAIRS_CTE
    + """
    , es AS (SELECT doc_a AS s, doc_b AS d FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs
             UNION ALL SELECT doc_id, doc_id FROM documents),
      l0 AS (SELECT doc_id, doc_id AS lbl FROM documents)
    """
    + _LABEL_ITER.format(n=1, p=0)
    + _LABEL_ITER.format(n=2, p=1)
    + _LABEL_ITER.format(n=3, p=2)
    + """
    , ntok AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents) t
        GROUP BY doc_id),
    ranked AS (
        SELECT l.doc_id, l.lbl, ntok.n_tokens,
               row_number() OVER (PARTITION BY l.lbl
                                  ORDER BY ntok.n_tokens DESC, l.doc_id) AS rn
        FROM l3 l JOIN ntok ON l.doc_id = ntok.doc_id),
    best AS (SELECT lbl, doc_id AS keep_id FROM ranked WHERE rn = 1)
    SELECT r.doc_id, r.lbl AS canonical_id, r.n_tokens, b.keep_id,
           CAST(CASE WHEN r.doc_id = b.keep_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_kept
    FROM ranked r JOIN best b ON r.lbl = b.lbl
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M107 — near-dup keep with a QUALITY policy instead of min-id:
    within each near-dup cluster (the M24 3-round label propagation over
    the J2 pair graph), keep the longest document (most whitespace
    tokens, doc_id tie-break) — the "keep the superset copy" rule real
    curation pipelines use, where M24's min-id keep is an arbitrary
    but reproducible fallback.

    Reads the session-cached M24 labels (canonical_labels_materialized),
    so the marginal cost is one token count + one per-cluster arg-max
    window.  At 100 TB the policy column rides along the label
    propagation — same shuffle count as plain canonical selection."""
    from pyspark.sql import Window

    labels = canonical_labels_materialized(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    ntok = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    # The (n_tokens desc, doc_id) order is total, so the first row of
    # each cluster's window is the oracle's rn = 1 keeper.
    w = Window.partitionBy("lbl").orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
    return (
        labels.join(ntok, "doc_id")
        .withColumn("keep_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            F.col("lbl").alias("canonical_id"),
            "n_tokens",
            "keep_id",
            F.when(F.col("doc_id") == F.col("keep_id"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# M108 — token-budget corpus selection
# ---------------------------------------------------------------------------

_TOKEN_BUDGET = 500  # per-source token budget (fixture-scaled; a real
# run sets this to the per-source share of the training token budget)


@register(
    "pipeline_token_budget",
    oracle=f"""
    WITH ntok AS (
        SELECT doc_id, source,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
              FROM documents) t
        GROUP BY doc_id, source),
    ordered AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM ntok)
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(CASE WHEN cum_tokens <= {_TOKEN_BUDGET} THEN 1 ELSE 0 END AS BIGINT)
             AS kept
    FROM ordered
    """,
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M108 — budgeted corpus selection: every training mix is built
    under a token budget, not a document count.  Docs are md5-shuffled
    within each source (reproducible sampling order, the M84 trick),
    then kept while the running token total stays inside the
    per-source budget — an exact integer cumulative-sum cutoff.

    Scale: one window per source partition; the running sum is
    integer, order pinned by (md5(doc_id), doc_id), so the kept set is
    identical across engines, partitionings, and reruns."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    ntok = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ntok.select(
        "doc_id",
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
    ).withColumn(
        "kept",
        F.when(F.col("cum_tokens") <= _TOKEN_BUDGET, 1).otherwise(0).cast("bigint"),
    )


# ---------------------------------------------------------------------------
# M115 — k-anonymity audit (privacy governance gate)
# ---------------------------------------------------------------------------

_KANON_K = 5


@register(
    "pipeline_kanon_audit",
    oracle=f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CASE WHEN count(*) < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
             AS suppress
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def pipeline_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M115 — k-anonymity audit over the quasi-identifier tuple
    (nation, market segment): any equivalence class smaller than k
    re-identifies its members and must be suppressed or generalized
    before the table is released — the standard privacy gate before a
    training corpus ships.

    Scale: one map-side-combinable aggregate on the QI columns; the
    suppression list is |distinct QI| rows, tiny at any input size.
    The release step (anti-join facts against suppress=1) composes
    with A6/A7 sinks."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .withColumn(
            "suppress",
            F.when(F.col("n_rows") < _KANON_K, 1).otherwise(0).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# M118 — filter-funnel observability report
# ---------------------------------------------------------------------------

_FUNNEL_MIN_TOKENS = 10
_FUNNEL_MAX_TOKENS = 1000
_FUNNEL_MIN_MWL_X1 = 3  # mean word length bounds, held as integer
_FUNNEL_MAX_MWL_X1 = 12  # cross-multiplications (no float division)


@register(
    "pipeline_filter_funnel",
    oracle=f"""
    WITH st AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(length(token)) AS BIGINT) AS sum_len
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents) t
      GROUP BY doc_id
    ),
    gated AS (
      SELECT doc_id,
             CASE WHEN n_tokens BETWEEN {_FUNNEL_MIN_TOKENS} AND {_FUNNEL_MAX_TOKENS}
                  THEN 1 ELSE 0 END AS g1,
             CASE WHEN sum_len >= {_FUNNEL_MIN_MWL_X1} * n_tokens
                   AND sum_len <= {_FUNNEL_MAX_MWL_X1} * n_tokens
                  THEN 1 ELSE 0 END AS g2
      FROM st
    )
    SELECT 1 AS step, 'length_gate' AS gate,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(1 - g1) AS BIGINT) AS n_dropped,
           CAST(sum(g1) AS BIGINT) AS n_out
    FROM gated
    UNION ALL
    SELECT 2, 'mean_word_len',
           CAST(sum(g1) AS BIGINT),
           CAST(sum(CASE WHEN g1 = 1 AND g2 = 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN g1 = 1 AND g2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM gated
    """,
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M118 — the filter-funnel report: per quality gate, how many
    docs entered, were dropped, and survived — the observability
    artifact every curation pipeline publishes alongside its output
    (a gate silently dropping 40% of a source is a bug you find HERE).

    Two sequential gates (token-count band, mean-word-length band via
    integer cross-multiplication); all counts are exact integer
    aggregates of one per-doc stats pass — the funnel costs one scan
    no matter how many gates stack."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    st = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("token")).cast("bigint").alias("sum_len"),
    )
    g1 = (
        F.col("n_tokens").between(_FUNNEL_MIN_TOKENS, _FUNNEL_MAX_TOKENS)
    ).cast("int")
    g2 = (
        (F.col("sum_len") >= _FUNNEL_MIN_MWL_X1 * F.col("n_tokens"))
        & (F.col("sum_len") <= _FUNNEL_MAX_MWL_X1 * F.col("n_tokens"))
    ).cast("int")
    gated = st.select("doc_id", g1.alias("g1"), g2.alias("g2"))
    step1 = gated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("n_dropped"),
        F.sum("g1").cast("bigint").alias("n_out"),
    ).select(
        F.lit(1).alias("step"), F.lit("length_gate").alias("gate"),
        "n_in", "n_dropped", "n_out",
    )
    step2 = gated.agg(
        F.sum("g1").cast("bigint").alias("n_in"),
        F.sum(F.when((F.col("g1") == 1) & (F.col("g2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when((F.col("g1") == 1) & (F.col("g2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_out"),
    ).select(
        F.lit(2).alias("step"), F.lit("mean_word_len").alias("gate"),
        "n_in", "n_dropped", "n_out",
    )
    return step1.unionByName(step2)


# ---------------------------------------------------------------------------
# M125 — duplicated-span fraction (cross-document boilerplate signal)
# ---------------------------------------------------------------------------

#: A trigram counts as boilerplate when it appears in more than this
#: many distinct documents.
_DUPSPAN_DF = 4
#: Keep a document while boilerplate trigrams are <= 10% of its
#: distinct trigrams (integer cross-multiplication, no float; 10% puts
#: ~2% of the fixture corpus in the drop class so both branches are
#: driver-exercised — the corpus boilerplate fraction tops out ~27%).
_DUPSPAN_PCT10 = 1


@register(
    "text_dup_span_frac",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(l) - 2
    ),
    bo AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > {_DUPSPAN_DF}),
    pd AS (
      SELECT g.doc_id,
             count(*) AS n_grams,
             sum(CASE WHEN bo.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      FROM g LEFT JOIN bo USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_boiler AS BIGINT) AS n_boiler,
           CAST(CASE WHEN n_boiler * 10 <= n_grams * {_DUPSPAN_PCT10}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_kept
    FROM pd
    """,
)
def text_dup_span_frac(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M125 — duplicated-span fraction: the RefinedWeb/C4-style
    CROSS-document boilerplate signal (distinct from M28's intra-doc
    repetition and M25's benchmark contamination).  A trigram seen in
    more than _DUPSPAN_DF distinct docs is boilerplate; a doc survives
    while boilerplate covers <= _DUPSPAN_PCT10*10% (= 10%) of its
    distinct trigrams — the keep decision is an exact integer
    cross-multiplication.

    Scale: one shingle explode (distinct per doc) feeding two
    map-side-combinable aggs; the boilerplate set is vocabulary-sized
    → gated-broadcast membership join back onto the shingle stream
    (the M45 vocab-OOV shape).  Nothing touches O(pairs).

    ``docs=`` substitutes the document frame — (doc_id, text) — for
    the weak-scaling probe (tools/scale_probes/textdup_scale.py); the
    driver contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    g = iter_materialize(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngrams(F.split(F.col("text"), " "), _NGRAM_N))
            ).alias("gram"),
        )
    )
    # g feeds TWO plan branches (the per-gram df agg and the probe
    # join) — the DOUBLE-REFERENCE RULE: without the materialization
    # Spark re-derives the split+ngram+array_distinct explode per
    # branch (round-19 A/B at sf0.1: 4.7 s -> 2.4 s warm).
    # g is distinct (doc_id, gram) by construction, so count(*) per
    # gram is its document frequency.
    bo = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _DUPSPAN_DF)
        .select("gram", F.lit(1).alias("is_bo"))
    )
    from tropology_spark.operators.graph import BROADCAST_NODE_LIMIT
    from tropology_spark.sources.tables import table_count

    n_docs = (
        docs.count()
        if docs is not None
        else table_count(spark, sf_dir, "documents")
    )
    if n_docs <= BROADCAST_NODE_LIMIT:
        bo = F.broadcast(bo)
    pd_ = (
        g.join(bo, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("is_bo"), F.lit(0))).cast("bigint").alias("n_boiler"),
        )
    )
    return pd_.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        F.when(
            F.col("n_boiler") * 10 <= F.col("n_grams") * _DUPSPAN_PCT10, 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# M127 — deterministic per-epoch shuffle order
# ---------------------------------------------------------------------------

_N_EPOCHS = 3


@register(
    "pipeline_epoch_shuffle",
    oracle=f"""
    WITH e AS (SELECT unnest(generate_series(0, {_N_EPOCHS - 1})) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS k
      FROM documents d, e
    )
    SELECT epoch, doc_id,
           CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS BIGINT)
             AS shuffle_rank
    FROM keyed
    """,
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M127 — per-epoch deterministic shuffle order: every training
    epoch must visit the corpus in a different but REPRODUCIBLE order
    (job restarts, data-parallel workers and audit replays all need to
    agree).  The order key is md5(epoch:doc_id) — pure arithmetic, no
    engine RNG — so any engine derives the identical permutation.

    The rank is computed with the two-pass range-partitioned
    prefix-sum (plans/global_order.py): epochs are range-partitioned
    TOGETHER with the hash key, so a 3-epoch corpus still spreads over
    every task — no ``Window.partitionBy(epoch)`` funnel (each epoch
    partition would hold corpus/3 rows).  At 100 TB the same layout is
    what the shard writer emits: readers stream range shards in key
    order and see exactly this permutation."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id").cast("string"))
        ).alias("k"),
    )
    return global_row_number(
        keyed, ["k", "doc_id"], group_cols=["epoch"], out="shuffle_rank"
    ).select("epoch", "doc_id", "shuffle_rank")


# ---------------------------------------------------------------------------
# M142 — tokenizer fertility audit (tokens per character, per slice)
# ---------------------------------------------------------------------------


@register(
    "pipeline_token_fertility",
    oracle="""
    WITH d AS (
      SELECT source, lang,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars
      FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(CASE WHEN sum(n_chars) = 0 THEN 0
                     ELSE (1000000 * sum(n_tokens)) // sum(n_chars) END
                AS BIGINT) AS tokens_per_char_ppm
    FROM d GROUP BY source, lang
    """,
)
def pipeline_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M142 — tokenizer FERTILITY per (source, lang) slice: tokens and
    characters summed exactly, plus the tokens-per-character ratio as
    an integer ppm (single integer division — the M70 pair
    discipline).  Fertility drift across corpus slices is the standard
    pre-training audit for tokenizer fit (a slice whose fertility is
    an outlier wastes context length or signals mis-identified
    language); whitespace tokens here stand in for the M5/M30 BPE-ish
    counting family.  Scale: one narrow projection computes both
    per-doc integers without exploding tokens (len(split) — no
    per-token rows at all), then a map-side-combinable agg on the tiny
    (source, lang) key space."""
    d = load(spark, sf_dir, "documents")
    per = d.select(
        "source",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        per.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .withColumn(
            # All-empty-text slice → n_chars 0; emit 0 fertility
            # identically in both engines instead of div-by-zero
            # (DuckDB error vs Spark NULL — ADVICE r5 guard).
            "tokens_per_char_ppm",
            F.when(F.col("n_chars") == 0, F.lit(0))
            .otherwise(F.expr("(1000000 * n_tokens) div n_chars"))
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# M146 — duplication-rate audit per corpus slice
# ---------------------------------------------------------------------------


@register(
    "pipeline_dup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST((1000000 * (count(*) - count(DISTINCT md5(text)))) // count(*)
                AS BIGINT) AS dup_rate_ppm
    FROM documents GROUP BY source
    """,
)
def pipeline_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M146 — exact-duplication rate per SOURCE slice: docs, distinct
    md5 payloads, and the dup fraction as an integer ppm (one integer
    division).  This is J1's answer re-cut along provenance — the
    first question a curation review asks ("which feed is shipping us
    copies?") and the per-source input to M87's mixture reweighting.
    Scale: one shuffle of (source, 16-byte hash) with map-side
    distinct combine; no pair joins, no text movement."""
    d = load(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).cast("bigint").alias("n_distinct_texts"),
    )
    return agg.withColumn(
        "dup_rate_ppm",
        F.expr("(1000000 * (n_docs - n_distinct_texts)) div n_docs").cast("bigint"),
    )


# ---------------------------------------------------------------------------
# M152 — train/val/test near-dup leakage audit
# ---------------------------------------------------------------------------


@register(
    "pipeline_split_leakage",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, substring(text, 1, 40) AS pfx,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    siz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM tok a
      JOIN tok b ON a.token = b.token AND a.pfx = b.pfx AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN siz sa ON doc_a = sa.doc_id
      JOIN siz sb ON doc_b = sb.doc_id
      WHERE 2 * n_common >= (sa.n + sb.n - n_common)
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                       % 10 < 8 THEN 'train'
                  WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                       % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT least(pa.split, pb.split) AS split_a,
           greatest(pa.split, pb.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN pa.split = pb.split THEN 0 ELSE 1 END AS BIGINT)
             AS is_leak
    FROM pairs
    JOIN sp pa ON pairs.doc_a = pa.doc_id
    JOIN sp pb ON pairs.doc_b = pb.doc_id
    GROUP BY 1, 2, 4
    """,
)
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M152 — near-dup LEAKAGE across train/val/test: every J2
    candidate pair (the >= 0.5 gate as the exact 2·|∩| >= |∪|
    cross-multiplication) labeled with its endpoints' M26 hash-bucket
    splits, rolled up per unordered split pair with an is_leak flag.
    A val/test doc whose near-duplicate sits in train silently
    inflates eval — this is the audit GPT-class pipelines run before
    trusting a benchmark number, composed from the SAME split
    expression M26 ships and the SAME pair generator J2/M53 use (no
    drift possible between audit and pipeline).  Scale: pair
    generation is the J2/LSH path; the split join is two broadcastable
    md5 lookups and the rollup has at most 6 rows."""
    from tropology_spark.operators.dedup import jaccard_pairs_materialized

    pairs = jaccard_pairs_materialized(spark, sf_dir, block_width=40)
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("int")
        % 10
    )
    sp = d.select(
        "doc_id",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    pa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
    pb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
    return (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .groupBy(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
            F.when(F.col("sp_a") == F.col("sp_b"), 0)
            .otherwise(1)
            .cast("bigint")
            .alias("is_leak"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select("split_a", "split_b", "n_pairs", "is_leak")
    )


# ---------------------------------------------------------------------------
# M162 — document-length profile per language slice
# ---------------------------------------------------------------------------


@register(
    "pipeline_length_profile",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           round(median(n_chars), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def pipeline_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M162 — per-language document-length profile (count, min,
    interpolated p50/p90 per the proven M11 convention, max): the
    first slide of any curation review, and the input that sets M44's
    length gates per language instead of globally (CJK languages pack
    ~3× the information per character — one global gate is wrong
    somewhere).  Scale: one map-side-combinable agg per language;
    percentiles of integer lengths via the built-in exact percentile,
    which at 100 TB becomes approx_percentile with a declared error —
    this exact form is that path's oracle reference."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.round(F.median("n_chars"), 4).alias("p50_chars"),
        F.round(F.percentile("n_chars", 0.9), 4).alias("p90_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# M174 — Bloom-filter dedup audit (false-positive rate vs exact truth)
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # hash functions (double hashing h1 + j*h2)


@register(
    "pipeline_bloom_dedup_audit",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             ('0x' || substring(md5(text), 1, 8))::BIGINT AS h1,
             ('0x' || substring(md5(text), 9, 8))::BIGINT AS h2,
             md5(text) AS th
      FROM documents
    ),
    bits AS (
      SELECT DISTINCT doc_id, (h1 + j * h2) % {_BLOOM_M} AS bit
      FROM base, unnest([0, 1, 2]) AS t(j)
    ),
    setters AS (SELECT bit, CAST(count(*) AS BIGINT) AS n_set
                FROM bits GROUP BY bit),
    flags AS (
      SELECT b.doc_id,
             CASE WHEN min(s.n_set - 1) >= 1 THEN 1 ELSE 0 END AS bloom_hit
      FROM bits b JOIN setters s ON b.bit = s.bit
      GROUP BY b.doc_id
    ),
    dup AS (
      SELECT th, CASE WHEN count(*) > 1 THEN 1 ELSE 0 END AS is_dup
      FROM base GROUP BY th
    )
    SELECT base.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dup.is_dup) AS BIGINT) AS n_exact_dup,
           CAST(sum(flags.bloom_hit) AS BIGINT) AS n_bloom_hit,
           CAST(sum(CASE WHEN flags.bloom_hit = 1 AND dup.is_dup = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST((1000000 * sum(CASE WHEN flags.bloom_hit = 1
                                    AND dup.is_dup = 0
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS fp_ppm
    FROM base
    JOIN flags ON flags.doc_id = base.doc_id
    JOIN dup ON dup.th = base.th
    GROUP BY base.source
    """,
)
def pipeline_bloom_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M174 — the approximate-membership audit for incremental dedup
    (M41's scale path): a 4096-bit / 3-hash Bloom filter is what a
    100 TB pipeline consults BEFORE the exact anti-join — this query
    measures, per source, how many documents the filter would flag as
    already-seen (all k bits set by OTHER documents) against the exact
    duplicate truth, yielding the observed false-positive rate in
    integer ppm.  A fixture-scale fp_ppm far above (1-e^(-kn/m))^k
    says the filter is undersized before production finds out.

    Portability: the k bit positions are double-hashed (h1 + j·h2
    mod m) from the SAME md5-low-32 idiom every sketch in this repo
    uses (dedup.py:161), so DuckDB reproduces the filter bit-for-bit.

    Scale: the bit table is 3 rows/doc; the setter counts combine
    map-side into a ≤4096-row table; the per-doc verdict joins doc-keyed
    frames.  The filter ITSELF is the mergeable artifact — per-shard
    bitmaps OR together — and this audit costs one extra pass over
    hashes, never over text."""
    d = load(spark, sf_dir, "documents")
    # base feeds bits + dup + final rollup — DOUBLE-REFERENCE RULE.
    base = iter_materialize(
        d.select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h1"),
            F.conv(F.substring(F.md5("text"), 9, 8), 16, 10)
            .cast("bigint")
            .alias("h2"),
            F.md5("text").alias("th"),
        )
    )
    bits = (
        base.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.pmod(F.col("h1") + F.lit(j) * F.col("h2"), F.lit(_BLOOM_M))
                        for j in range(_BLOOM_K)
                    ]
                )
            ).alias("bit"),
        )
        .distinct()
    )
    setters = bits.groupBy("bit").agg(F.count(F.lit(1)).cast("bigint").alias("n_set"))
    flags = (
        bits.join(F.broadcast(setters), "bit")
        .groupBy("doc_id")
        .agg(
            F.when(F.min(F.col("n_set") - 1) >= 1, F.lit(1))
            .otherwise(F.lit(0))
            .alias("bloom_hit")
        )
    )
    dup = base.groupBy("th").agg(
        F.when(F.count(F.lit(1)) > 1, F.lit(1)).otherwise(F.lit(0)).alias("is_dup")
    )
    return (
        base.join(flags, "doc_id")
        .join(dup, "th")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_exact_dup"),
            F.sum("bloom_hit").cast("bigint").alias("n_bloom_hit"),
            F.sum(
                F.when((F.col("bloom_hit") == 1) & (F.col("is_dup") == 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pos"),
            F.expr(
                "(1000000 * sum(CASE WHEN bloom_hit = 1 AND is_dup = 0 "
                "THEN 1 ELSE 0 END)) div count(1)"
            )
            .cast("bigint")
            .alias("fp_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# M177 — global decile profile (the range-partitioned rank as a user op)
# ---------------------------------------------------------------------------


@register(
    "pipeline_global_deciles",
    oracle="""
    WITH r AS (
      SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM r GROUP BY decile
    """,
)
def pipeline_global_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M177 — corpus-wide length deciles: every document placed in its
    exact global decile by (n_chars, doc_id), then per-decile count /
    min / max / sum — the table that turns M44's ad-hoc length gates
    into data-driven cutoffs.

    This is plans/global_order.py AS A FIRST-CLASS OPERATOR (the r5
    verdict asked for the helper; this makes it user-visible surface):
    rank and tile come from the two-pass range-partitioned prefix-sum
    — sample ranges, partition-local row_number, broadcast offsets,
    exact integer ntile from (rank, total) — never the
    single-partition ntile window the oracle uses.  Bit-equality of
    the two is exactly what the oracle check proves, at every
    shuffle.partitions setting (the invariance probe).

    Scale: the only data-sized stages are one range shuffle and one
    partition-local sort; the offsets table is config-bounded.  The
    final rollup is 10 keys."""
    d = load(spark, sf_dir, "documents")
    r = global_row_number(
        d.select("doc_id", "n_chars"),
        ["n_chars", "doc_id"],
        out="pos",
        total_col="tot",
    )
    dec = r.withColumn("decile", ntile_expr(F.col("pos"), F.col("tot"), 10))
    return dec.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# M188 — Kolmogorov-Smirnov split audit (train vs test length drift)
# ---------------------------------------------------------------------------


@register(
    "pipeline_split_ks_audit",
    oracle="""
    WITH b AS (
      SELECT n_chars,
             ((strpos('0123456789abcdef',
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef',
                       substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 10
               AS bucket
      FROM documents
    ),
    c AS (
      SELECT n_chars,
             CAST(sum(CASE WHEN bucket < 8 THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN bucket = 9 THEN 1 ELSE 0 END) AS BIGINT) AS ce
      FROM b WHERE bucket < 8 OR bucket = 9
      GROUP BY n_chars
    ),
    w AS (
      SELECT n_chars,
             CAST(sum(ct) OVER (ORDER BY n_chars) AS BIGINT) AS cum_t,
             CAST(sum(ce) OVER (ORDER BY n_chars) AS BIGINT) AS cum_e,
             CAST(sum(ct) OVER () AS BIGINT) AS n_t,
             CAST(sum(ce) OVER () AS BIGINT) AS n_e
      FROM c
    ),
    k AS (
      SELECT n_chars, n_t, n_e,
             abs(cum_t * n_e - cum_e * n_t) AS ks_num
      FROM w
    )
    SELECT n_t AS n_train, n_e AS n_test,
           CAST(ks_num AS BIGINT) AS ks_num,
           CAST(n_chars AS BIGINT) AS ks_at_value,
           CAST((1000000 * ks_num) // (n_t * n_e) AS BIGINT) AS ks_ppm
    FROM k ORDER BY ks_num DESC, n_chars LIMIT 1
    """,
)
def pipeline_split_ks_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M188 — two-sample Kolmogorov-Smirnov audit between M26's train
    and test splits over document length: KS = max over the merged
    support of |F_train(x) − F_test(x)|, computed exactly as the
    cross-multiplied integer |cum_t·n_e − cum_e·n_t| (no fractions
    until the single final ppm division; exact while n_t·n_e < 2^63 —
    holds to ~3·10⁹ docs per side).  A hash split SHOULD show a tiny
    KS; a large one means the split key correlates with length and
    eval metrics will drift — the statistical companion to M152's
    membership-leakage audit.

    Scale: the corpus collapses to per-length counts (map-side
    combine); the cumulative windows run over the MERGED SUPPORT —
    O(distinct lengths), bounded by the length-gate ceiling (M44),
    the documented bounded-cardinality window family (vocab ranks /
    day spine), kept off the partition-less-WindowExec path via the
    same non-foldable constant partition key global_order uses."""
    d = load(spark, sf_dir, "documents")
    # The M26 bucket expression verbatim (first md5 byte of doc_id mod
    # 10) — the audit must bucket EXACTLY as the split it audits.
    md5 = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(md5, 1, 2), 16, 10).cast("int") % 10
    b = d.select("n_chars", bucket.alias("bucket"))
    c = (
        b.filter((F.col("bucket") < 8) | (F.col("bucket") == 9))
        .groupBy("n_chars")
        .agg(
            F.sum(F.when(F.col("bucket") < 8, 1).otherwise(0))
            .cast("bigint")
            .alias("ct"),
            F.sum(F.when(F.col("bucket") == 9, 1).otherwise(0))
            .cast("bigint")
            .alias("ce"),
        )
    )
    const_part = F.pmod(F.col("n_chars"), F.lit(1))  # non-foldable constant
    w_cum = Window.partitionBy(const_part).orderBy("n_chars")
    w_all = Window.partitionBy(const_part)
    w = c.select(
        "n_chars",
        F.sum("ct").over(w_cum).cast("bigint").alias("cum_t"),
        F.sum("ce").over(w_cum).cast("bigint").alias("cum_e"),
        F.sum("ct").over(w_all).cast("bigint").alias("n_t"),
        F.sum("ce").over(w_all).cast("bigint").alias("n_e"),
    )
    k = w.select(
        "n_chars", "n_t", "n_e",
        F.abs(F.col("cum_t") * F.col("n_e") - F.col("cum_e") * F.col("n_t")).alias(
            "ks_num"
        ),
    )
    return (
        k.orderBy(F.desc("ks_num"), F.asc("n_chars"))
        .limit(1)
        .select(
            F.col("n_t").alias("n_train"),
            F.col("n_e").alias("n_test"),
            F.col("ks_num").cast("bigint").alias("ks_num"),
            F.col("n_chars").cast("bigint").alias("ks_at_value"),
            F.expr("(1000000 * ks_num) div (n_t * n_e)")
            .cast("bigint")
            .alias("ks_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# M205 — column profile (dataset-docs statistics per column)
# ---------------------------------------------------------------------------


@register(
    "pipeline_column_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_v,
           CAST(max(o_orderkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_cents', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT),
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR),
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
    FROM orders
    """,
)
def pipeline_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M205 — the per-column profile a dataset card / dbt-docs page
    shows: row count, null count, distinct cardinality, and canonical
    min/max for each profiled column of ``orders`` — the human-facing
    sibling of M50's pass/fail checks (M50 answers "is it valid",
    this answers "what does it look like").  Money profiles as exact
    cents (the functions/exact.py rule); min/max canonicalize to
    strings so one schema carries every column type.

    One pass: a single aggregate row computes all 5×4 metrics (the
    multi-distinct expand, M73's declared shape), then ``stack``
    unpivots it to one row per column — the oracle's UNION-of-
    aggregates form is the same function column-by-column.

    Scale: one scan; count-distinct expand is the only multiplier
    (×5) and combines map-side; the unpivot is 5 rows on the driver
    side of the plan — nothing data-sized after the agg."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    a = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            x
            for col, expr_, alias in [
                ("o_orderkey", F.col("o_orderkey"), "ok"),
                ("o_custkey", F.col("o_custkey"), "ck"),
                ("o_orderstatus", F.col("o_orderstatus"), "st"),
                ("o_orderpriority", F.col("o_orderpriority"), "pr"),
                ("o_totalprice_cents", cents, "tp"),
            ]
            for x in (
                F.sum(F.when(expr_.isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"null_{alias}"),
                F.countDistinct(expr_).cast("bigint").alias(f"dist_{alias}"),
                F.min(expr_).cast("string").alias(f"min_{alias}"),
                F.max(expr_).cast("string").alias(f"max_{alias}"),
            )
        ],
    )
    return a.selectExpr(
        """stack(5,
            'o_orderkey', null_ok, dist_ok, min_ok, max_ok,
            'o_custkey', null_ck, dist_ck, min_ck, max_ck,
            'o_orderstatus', null_st, dist_st, min_st, max_st,
            'o_orderpriority', null_pr, dist_pr, min_pr, max_pr,
            'o_totalprice_cents', null_tp, dist_tp, min_tp, max_tp
        ) AS (column_name, n_null, n_distinct, min_v, max_v)""",
        "n_rows",
    ).select("column_name", "n_rows", "n_null", "n_distinct", "min_v", "max_v")


# ---------------------------------------------------------------------------
# M212 — near-dup contamination across the train/test split
# ---------------------------------------------------------------------------


def _split_contamination_oracle() -> str:
    from tropology_spark.registry import ORACLES

    return f"""
    WITH pairs AS ({ORACLES['dedup_minhash_lsh']}),
    bk AS (
      SELECT doc_id,
             ((strpos('0123456789abcdef',
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef',
                       substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 10
               AS bucket
      FROM documents
    ),
    lab AS (
      SELECT p.doc_a, p.doc_b,
             CASE WHEN ba.bucket < 8 THEN 'train'
                  WHEN ba.bucket = 9 THEN 'test' ELSE 'val' END AS split_a,
             CASE WHEN bb.bucket < 8 THEN 'train'
                  WHEN bb.bucket = 9 THEN 'test' ELSE 'val' END AS split_b
      FROM pairs p
      JOIN bk ba ON ba.doc_id = p.doc_a
      JOIN bk bb ON bb.doc_id = p.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN (split_a = 'train' AND split_b = 'test')
                           OR (split_a = 'test' AND split_b = 'train')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
           CAST(sum(CASE WHEN split_a = 'test' AND split_b = 'test'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_test,
           CAST(CASE WHEN count(*) = 0 THEN NULL
                     ELSE (1000000 * sum(CASE WHEN (split_a = 'train'
                                                    AND split_b = 'test')
                                           OR (split_a = 'test'
                                               AND split_b = 'train')
                                         THEN 1 ELSE 0 END)) // count(*)
                END AS BIGINT) AS cross_ppm
    FROM lab
    """


@register("pipeline_split_contamination", oracle=_split_contamination_oracle())
def pipeline_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M212 — NEAR-DUP contamination across the train/test boundary:
    of the MinHash-LSH candidate pairs (J3 — edits anywhere in the
    document, unlike M25's exact n-gram containment or M152's exact
    full-text leakage), how many straddle M26's train/test buckets —
    the pair a benchmark decontamination pass must break before a test
    score means anything.  Reported with the within-test pair count
    (test-internal redundancy deflates variance) and the cross rate in
    ppm of all candidate pairs.

    Composed, not copied (the _J2_ORACLE discipline): the oracle wraps
    ``ORACLES['dedup_minhash_lsh']`` verbatim and the Spark side runs
    the REGISTERED J3 query, then joins the M26 bucket expression onto
    both pair ends.

    Scale: the pair table is O(docs·bands) by J3's banding; the split
    label is a pure hash of doc_id (no lookup table), so the two
    labeling joins are hash joins on doc ids of an already-small pair
    set — at 100 TB this audit costs the index, not the corpus."""
    from tropology_spark.registry import QUERIES

    pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    md5 = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(md5, 1, 2), 16, 10).cast("int") % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 9, "test").otherwise("val")
    )
    bk = d.select("doc_id", split.alias("split"))
    lab = (
        pairs.join(
            bk.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            bk.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
    )
    cross = (
        (F.col("split_a") == "train") & (F.col("split_b") == "test")
    ) | ((F.col("split_a") == "test") & (F.col("split_b") == "train"))
    return lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(cross, 1).otherwise(0)).cast("bigint").alias("n_cross"),
        F.sum(
            F.when(
                (F.col("split_a") == "test") & (F.col("split_b") == "test"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_within_test"),
        # An empty candidate set (tiny fixtures) leaves the rate
        # undefined — NULL both engines, never ANSI divide-by-zero.
        F.expr(
            "CASE WHEN count(1) = 0 THEN NULL"
            " ELSE (1000000 * sum(CASE WHEN (split_a = 'train' AND split_b = 'test')"
            " OR (split_a = 'test' AND split_b = 'train') THEN 1 ELSE 0 END))"
            " div count(1) END"
        )
        .cast("bigint")
        .alias("cross_ppm"),
    )


# ---------------------------------------------------------------------------
# M215 — point-in-time leakage audit (M78's join vs the naive current-row join)
# ---------------------------------------------------------------------------


def _pit_leakage_oracle() -> str:
    from tropology_spark.registry import ORACLES

    return f"""
    WITH pit AS (SELECT event_id AS p_event, CAST(version AS BIGINT)
                   AS pit_version
                 FROM ({ORACLES['join_point_in_time']}) tp),
    scd AS (SELECT user_id AS c_user, CAST(version AS BIGINT)
              AS current_version
            FROM ({ORACLES['pipeline_scd2']}) ts WHERE is_current = 1),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT substring({sql_ts_str('c.ts')}, 1, 10) AS click_date,
           CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(sum(CASE WHEN pit_version IS NULL
                          AND current_version IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_phantom,
           CAST(sum(CASE WHEN pit_version IS NOT NULL
                          AND current_version <> pit_version
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
           CAST((1000000 * sum(CASE WHEN (pit_version IS NULL
                                          AND current_version IS NOT NULL)
                                      OR (pit_version IS NOT NULL
                                          AND current_version <> pit_version)
                                    THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS leak_ppm
    FROM c
    LEFT JOIN pit ON c.event_id = pit.p_event
    LEFT JOIN scd ON c.user_id = scd.c_user
    GROUP BY click_date
    """


@register("pipeline_pit_leakage_audit", oracle=_pit_leakage_oracle())
def pipeline_pit_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M215 — feature-store leakage audit: per click date, how many
    clicks a NAIVE current-row feature join (dimension row with
    is_current = 1, M62's open interval) would enrich DIFFERENTLY from
    the point-in-time-correct join (M78) — the M152/M212 composed-
    audit discipline applied to features instead of text.  Two leakage
    classes: ``n_stale`` (an as-at version exists but the current row
    is a LATER version — training would read the future) and
    ``n_phantom`` (the click predates the user's first purchase, so no
    feature existed at all, yet the naive join fabricates one);
    ``leak_ppm`` is their combined rate.  Clicks of users with no
    purchase history join to neither side and are clean by definition.

    Composed, not copied: the oracle wraps
    ``ORACLES['join_point_in_time']`` and ``ORACLES['pipeline_scd2']``
    verbatim; the Spark side runs the two REGISTERED queries and joins
    their outputs — the audit can never drift from the operators it
    audits.

    Scale: both inputs shuffle once on their join keys (event_id /
    user_id); the current-version side is one row per user (the SCD2
    open interval), so the second join is a broadcast at any realistic
    dimension size; the rollup is a handful of date keys, map-side
    combinable."""
    from tropology_spark.functions.exact import ts_str
    from tropology_spark.registry import QUERIES

    pit = QUERIES["join_point_in_time"](spark, sf_dir).select(
        F.col("event_id").alias("p_event"),
        F.col("version").cast("bigint").alias("pit_version"),
    )
    cur = (
        QUERIES["pipeline_scd2"](spark, sf_dir)
        .filter(F.col("is_current") == 1)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("version").cast("bigint").alias("current_version"),
        )
    )
    c = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    j = c.join(pit, F.col("event_id") == F.col("p_event"), "left").join(
        cur, F.col("user_id") == F.col("c_user"), "left"
    )
    phantom = F.col("pit_version").isNull() & F.col("current_version").isNotNull()
    stale = F.col("pit_version").isNotNull() & (
        F.col("current_version") != F.col("pit_version")
    )
    return j.groupBy(
        F.substring(ts_str(F.col("ts")), 1, 10).alias("click_date")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
        F.sum(F.when(phantom, 1).otherwise(0)).cast("bigint").alias("n_phantom"),
        F.sum(F.when(stale, 1).otherwise(0)).cast("bigint").alias("n_stale"),
        F.expr(
            "(1000000 * sum(CASE WHEN (pit_version IS NULL"
            " AND current_version IS NOT NULL)"
            " OR (pit_version IS NOT NULL"
            " AND current_version <> pit_version)"
            " THEN 1 ELSE 0 END)) div count(1)"
        )
        .cast("bigint")
        .alias("leak_ppm"),
    )


# ---------------------------------------------------------------------------
# M216 — per-stratum weighted reservoir sample (A-ES per group)
# ---------------------------------------------------------------------------

_STRAT_RESERVOIR_K = 10


@register(
    "pipeline_stratified_reservoir",
    oracle=f"""
    WITH pri AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
      FROM documents WHERE n_chars > 0
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY CAST(u AS DOUBLE) / weight, doc_id)
                  AS rn
      FROM pri
    )
    SELECT source, doc_id, weight, u, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_STRAT_RESERVOIR_K}
    """,
)
def pipeline_stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M216 — weighted reservoir sampling PER STRATUM: the {k}
    lowest-priority documents per source under the A-ES deterministic
    priority u/weight (M63's scheme, partitioned by source) — the
    mixture-sampling primitive: drawing each source's quota
    independently IS stratified mixture sampling with per-source
    reservoirs, the streaming-fill shape (each stratum's reservoir
    fills independently; a merge of two runs keeps the k smallest
    priorities — the sketch-mergeability property that makes it a
    per-stream operator).

    Determinism: u (md5 low-32) and weight are exact integers; u/weight
    is ONE IEEE division, bit-identical in both engines, ranked with
    the unique doc_id tie-break (the CLAUDE.md rank rule).

    Scale: one shuffle on source; within a stratum the window is a
    per-partition top-k (rank-filter pushes the sort down to a bounded
    heap per group).  Skewed strata cost their row count, not a global
    sort — and the A-ES form means a 100 TB run would pre-reduce each
    partition to its local k before the shuffle."""
    d = load(spark, sf_dir, "documents")
    pri = d.filter(F.col("n_chars") > 0).select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("u"),
    )
    w = Window.partitionBy("source").orderBy(
        (F.col("u").cast("double") / F.col("weight")).asc(), F.col("doc_id")
    )
    return (
        pri.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _STRAT_RESERVOIR_K)
        .select("source", "doc_id", "weight", "u", "rn")
    )


pipeline_stratified_reservoir.__doc__ = pipeline_stratified_reservoir.__doc__.format(
    k=_STRAT_RESERVOIR_K
)


# ---------------------------------------------------------------------------
# M237 pipeline_dataset_diff — corpus version diff (added/removed/changed)
# ---------------------------------------------------------------------------

#: Deterministic derivation of the two fixture "corpus versions" the
#: diff/drift audits compare (single home — M237 and the staged
#: per-source drift both read these): version A drops doc_id % 17 == 3,
#: version B drops % 13 == 5 and appends an edit marker to % 19 == 0.
DIFF_DROP_A = (17, 3)
DIFF_DROP_B = (13, 5)
DIFF_EDIT_MOD = 19
DIFF_EDIT_SUFFIX = " zchanged"

#: The two version CTEs (va / vb) as a shared oracle prefix.
DIFF_VERSIONS_SQL = f"""
    WITH va AS (
      SELECT doc_id, source, md5(text) AS h, len(text) AS n_chars
      FROM documents WHERE doc_id % {DIFF_DROP_A[0]} <> {DIFF_DROP_A[1]}
    ),
    vb AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0
                      THEN text || '{DIFF_EDIT_SUFFIX}'
                      ELSE text END) AS h,
             len(CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0
                      THEN text || '{DIFF_EDIT_SUFFIX}'
                      ELSE text END) AS n_chars
      FROM documents WHERE doc_id % {DIFF_DROP_B[0]} <> {DIFF_DROP_B[1]}
    )
"""


def diff_versions(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Spark twin of DIFF_VERSIONS_SQL: the (va, vb) version frames —
    (doc_id, source, h, n_chars) each."""
    d = load(spark, sf_dir, "documents")
    va = d.filter(F.col("doc_id") % DIFF_DROP_A[0] != DIFF_DROP_A[1]).select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("h"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    btext = F.when(
        F.col("doc_id") % DIFF_EDIT_MOD == 0,
        F.concat(F.col("text"), F.lit(DIFF_EDIT_SUFFIX)),
    ).otherwise(F.col("text"))
    vb = d.filter(F.col("doc_id") % DIFF_DROP_B[0] != DIFF_DROP_B[1]).select(
        "doc_id",
        "source",
        F.md5(btext).alias("h"),
        F.length(btext).cast("bigint").alias("n_chars"),
    )
    return va, vb


@register(
    "pipeline_dataset_diff",
    oracle=DIFF_VERSIONS_SQL
    + """
    ,
    j AS (
      SELECT coalesce(va.doc_id, vb.doc_id) AS doc_id,
             CASE WHEN va.doc_id IS NULL THEN 'added'
                  WHEN vb.doc_id IS NULL THEN 'removed'
                  WHEN va.h <> vb.h THEN 'changed'
                  ELSE 'unchanged' END AS status,
             coalesce(vb.n_chars, va.n_chars) AS n_chars
      FROM va FULL OUTER JOIN vb ON va.doc_id = vb.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM j GROUP BY status
    """,
)
def pipeline_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M237 — the DATASET-VERSION DIFF every corpus release
    pipeline publishes: added / removed / changed / unchanged document
    counts (+ character volume) between two versions, classified by a
    full outer join on doc_id with content-hash comparison — the
    data-versioning read-side of M49's CDC apply.  Versions are
    derived deterministically from the fixture (A drops doc_id%17=3,
    B drops %13=5 and edits %19=0) so both engines diff the same pair;
    a production caller passes two real snapshots.

    Scale: content reduces to md5 scan-side (the J1 move), so the
    full outer join shuffles 16-byte hashes + ids, never text; the
    classification is a projection and the rollup is 4 keys with
    map-side combine.  The version derivation lives in the shared
    DIFF_VERSIONS_SQL / diff_versions pair (single home — the
    per-source drift audit composes the same versions)."""
    va0, vb0 = diff_versions(spark, sf_dir)
    va = va0.select(
        "doc_id",
        F.col("h").alias("h_a"),
        F.col("n_chars").alias("chars_a"),
    )
    vb = vb0.select(
        F.col("doc_id").alias("b_id"),
        F.col("h").alias("h_b"),
        F.col("n_chars").alias("chars_b"),
    )
    j = va.join(vb, va.doc_id == vb.b_id, "full_outer").select(
        F.when(F.col("doc_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("h_a") != F.col("h_b"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.col("chars_b"), F.col("chars_a")).alias("n_chars"),
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# M245 pipeline_compaction_plan — small-files compaction by cumulative binning
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 32768  # target output-file payload, chars


def _compaction_oracle() -> str:
    from tropology_spark.registry import ORACLES

    return f"""
    WITH layout AS ({ORACLES['pipeline_shard_layout']}),
    files AS (
      SELECT l.shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(d.n_chars) AS BIGINT) AS bytes
      FROM layout l JOIN documents d ON l.doc_id = d.doc_id
      GROUP BY l.shard
    ),
    binned AS (
      SELECT shard, n_docs, bytes,
             CAST(coalesce(sum(bytes) OVER (ORDER BY shard
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0)
                  // {_COMPACT_TARGET} AS BIGINT) AS bin
      FROM files
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_shards,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           CAST((1000000 * sum(bytes)) // {_COMPACT_TARGET} AS BIGINT)
             AS fill_ppm
    FROM binned GROUP BY bin
    """


@register("pipeline_compaction_plan", oracle=_compaction_oracle())
def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M245 — the COMPACTION PLAN every lakehouse maintenance
    job computes: pack the M43 shard "files" into target-size output
    bins by the deterministic first-fit rule bin = (exclusive prefix
    sum of bytes, in shard order) div TARGET — a shard starts a new
    bin exactly when the running total crosses the target, so bins are
    contiguous shard ranges (merge-friendly: each output file reads
    consecutive inputs).  Per bin: shard count, docs, bytes, fill
    ratio in ppm (>1e6 = the bin that absorbed an oversized shard).

    Composed, not copied: the oracle wraps ORACLES['pipeline_shard_
    layout'] verbatim and the Spark side runs the registered M43
    query.  Scale: the corpus collapses to O(shards) file rows before
    the plan; the prefix sum rides the pmod constant key over the
    bounded shard axis (M196's bounded-domain argument — shard count
    is a config constant, not a data size)."""
    from tropology_spark.registry import QUERIES

    layout = QUERIES["pipeline_shard_layout"](spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    files = (
        layout.join(d, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("bytes"),
        )
    )
    w = (
        Window.partitionBy(F.pmod(F.col("shard"), F.lit(1)))
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = files.select(
        "shard",
        "n_docs",
        "bytes",
        F.coalesce(F.sum("bytes").over(w), F.lit(0))
        .cast("bigint")
        .alias("prefix"),
    ).select(
        "shard",
        "n_docs",
        "bytes",
        F.expr(f"prefix div {_COMPACT_TARGET}").cast("bigint").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("bytes").cast("bigint").alias("bytes"),
        F.expr(f"(1000000 * sum(bytes)) div {_COMPACT_TARGET}")
        .cast("bigint")
        .alias("fill_ppm"),
    )


# ---------------------------------------------------------------------------
# M247 pipeline_profile_drift — per-source drift between corpus versions
# ---------------------------------------------------------------------------


def _profile_drift_oracle() -> str:
    return (
        DIFF_VERSIONS_SQL
        + """
    , sa AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_a,
             CAST(sum(n_chars) AS BIGINT) AS chars_a
      FROM va GROUP BY source
    ),
    sb AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(n_chars) AS BIGINT) AS chars_b
      FROM vb GROUP BY source
    )
    SELECT coalesce(sa.source, sb.source) AS source,
           CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
           CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
           CAST(coalesce(chars_a, 0) AS BIGINT) AS chars_a,
           CAST(coalesce(chars_b, 0) AS BIGINT) AS chars_b,
           CAST(coalesce(n_b, 0) - coalesce(n_a, 0) AS BIGINT) AS delta_docs,
           CAST(coalesce(chars_b, 0) - coalesce(chars_a, 0) AS BIGINT)
             AS delta_chars
    FROM sa FULL OUTER JOIN sb ON sa.source = sb.source
    """
    )


@register("pipeline_profile_drift", oracle=_profile_drift_oracle())
def pipeline_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M247 — the PER-SOURCE DRIFT report between two corpus
    versions: document and character deltas per source, margins kept
    by the full outer join (a source present in only one version IS
    the headline finding) — the release-note companion of M237's
    global diff and the version-axis sibling of M94's temporal source
    drift.  Composed, not copied: both engines derive the versions
    from the shared DIFF_VERSIONS_SQL / diff_versions pair (the M237
    single home).

    Scale: each version collapses to O(sources) rows before the
    join; deltas are exact integer differences (n_chars is a stored
    BIGINT)."""
    va, vb = diff_versions(spark, sf_dir)
    sa = va.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("n_chars").cast("bigint").alias("chars_a"),
    )
    sb = vb.groupBy(F.col("source").alias("source_b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("n_chars").cast("bigint").alias("chars_b"),
    )
    j = sa.join(sb, sa.source == sb.source_b, "full_outer")
    z = F.lit(0).cast("bigint")
    return j.select(
        F.coalesce(F.col("source"), F.col("source_b")).alias("source"),
        F.coalesce(F.col("n_a"), z).alias("n_a"),
        F.coalesce(F.col("n_b"), z).alias("n_b"),
        F.coalesce(F.col("chars_a"), z).alias("chars_a"),
        F.coalesce(F.col("chars_b"), z).alias("chars_b"),
        (F.coalesce(F.col("n_b"), z) - F.coalesce(F.col("n_a"), z))
        .cast("bigint")
        .alias("delta_docs"),
        (F.coalesce(F.col("chars_b"), z) - F.coalesce(F.col("chars_a"), z))
        .cast("bigint")
        .alias("delta_chars"),
    )


# ---------------------------------------------------------------------------
# M253 pipeline_quota_sample — largest-remainder (Hare) quota allocation
# ---------------------------------------------------------------------------

_QUOTA_BUDGET = 1000


@register(
    "pipeline_quota_sample",
    oracle=f"""
    WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM s),
    q AS (SELECT source, n_docs,
                 CAST(({_QUOTA_BUDGET} * n_docs) // total AS BIGINT) AS base_quota,
                 CAST(({_QUOTA_BUDGET} * n_docs) % total AS BIGINT) AS rem
          FROM s CROSS JOIN t),
    k AS (SELECT CAST({_QUOTA_BUDGET} - sum(base_quota) AS BIGINT) AS seats
          FROM q),
    r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
    SELECT source, n_docs, base_quota, rem,
           CAST(CASE WHEN rk <= seats THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base_quota + CASE WHEN rk <= seats THEN 1 ELSE 0 END AS BIGINT)
             AS quota
    FROM r CROSS JOIN k
    """,
)
def pipeline_quota_sample(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M253 — LARGEST-REMAINDER (Hare) quota allocation: split
    a fixed sample budget of 1000 documents across sources proportional
    to their counts — base = floor(N·n_s/T) per source, then the
    leftover seats go to the largest fractional remainders (tie-break
    by source name) — the apportionment rule every fixed-budget
    eval-set / human-annotation draw uses, with the classic guarantee
    Σ quota = N exactly (floor-only allocation under-fills; naive
    rounding over- or under-fills).  All integer arithmetic: remainders
    compare as exact integers because every source shares the
    denominator T.

    Scale: the corpus collapses to O(sources) rows in one map-side-
    combinable pass; the total, the remainder rank, and the leftover
    seat count all ride pmod-constant-key windows over the bounded
    source axis — no scalar-attach join, no second corpus scan.

    ``docs=`` substitutes the document frame — (source,) suffices —
    for the Hare-invariant property test; the driver contract never
    passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = Window.partitionBy(F.pmod(F.length("source"), F.lit(1)))
    q = s.select(
        "source",
        "n_docs",
        F.sum("n_docs").over(w).cast("bigint").alias("total"),
    ).select(
        "source",
        "n_docs",
        F.expr(f"({_QUOTA_BUDGET} * n_docs) div total")
        .cast("bigint")
        .alias("base_quota"),
        (F.lit(_QUOTA_BUDGET) * F.col("n_docs") % F.col("total"))
        .cast("bigint")
        .alias("rem"),
    )
    wr = w.orderBy(F.desc("rem"), F.asc("source"))
    r = q.select(
        "source",
        "n_docs",
        "base_quota",
        "rem",
        F.row_number().over(wr).alias("rk"),
        (F.lit(_QUOTA_BUDGET) - F.sum("base_quota").over(w))
        .cast("bigint")
        .alias("seats"),
    )
    extra = F.when(F.col("rk") <= F.col("seats"), 1).otherwise(0)
    return r.select(
        "source",
        "n_docs",
        "base_quota",
        "rem",
        extra.cast("bigint").alias("extra"),
        (F.col("base_quota") + extra).cast("bigint").alias("quota"),
    )


# ---------------------------------------------------------------------------
# M255 pipeline_rolling_cv_folds — rolling-origin time-series CV audit
# ---------------------------------------------------------------------------

_CV_FOLDS = 3
_CV_STEP_DAYS = 7


@register(
    "pipeline_rolling_cv_folds",
    oracle=f"""
    WITH dc AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    d0 AS (SELECT CAST(min(day) AS BIGINT) AS d0 FROM dc),
    f AS (SELECT unnest(generate_series(1, {_CV_FOLDS})) AS fold)
    SELECT CAST(f.fold AS BIGINT) AS fold,
           CAST(d0.d0 + {_CV_STEP_DAYS} * f.fold - 1 AS BIGINT) AS train_end_day,
           CAST(coalesce(sum(CASE WHEN dc.day < d0.d0 + {_CV_STEP_DAYS} * f.fold
                                  THEN dc.n END), 0) AS BIGINT) AS n_train,
           CAST(coalesce(sum(CASE WHEN dc.day >= d0.d0 + {_CV_STEP_DAYS} * f.fold
                                   AND dc.day < d0.d0 + {_CV_STEP_DAYS} * (f.fold + 1)
                                  THEN dc.n END), 0) AS BIGINT) AS n_val
    FROM f CROSS JOIN d0 CROSS JOIN dc
    GROUP BY f.fold, d0.d0
    """,
)
def pipeline_rolling_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M255 — ROLLING-ORIGIN cross-validation folds over the
    event stream: for fold f ∈ 1..3, train = everything before
    origin + 7·f days, validation = the next 7-day window — the
    only CV scheme that respects time's arrow (random K-fold leaks the
    future into training; the M215 PIT-leakage audit's prevention
    counterpart).  Per fold: the training cutoff day and exact
    train/validation event counts; by construction train(f) ⊇
    train(f−1) + val(f−1) — the expanding-window property a
    forecasting eval harness asserts before trusting fold metrics.

    Scale: events collapse to the bounded O(days) count table first;
    the ×3 fold explode rides that table, never the event stream;
    the origin day is a pmod-constant-key window min over the same
    bounded axis — one corpus pass total."""
    e = load(spark, sf_dir, "events")
    dc = e.groupBy(
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy(F.pmod(F.col("day"), F.lit(1)))
    folds = F.explode(
        F.expr(f"sequence(1L, {_CV_FOLDS}L)")
    ).alias("fold")
    x = dc.select(
        "day", "n", F.min("day").over(w).cast("bigint").alias("d0")
    ).select("day", "n", "d0", folds)
    cut = F.col("d0") + _CV_STEP_DAYS * F.col("fold")
    return (
        x.groupBy("fold", "d0")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("day") < cut, F.col("n"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_train"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("day") >= cut)
                        & (F.col("day") < cut + _CV_STEP_DAYS),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_val"),
        )
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            (F.col("d0") + _CV_STEP_DAYS * F.col("fold") - 1)
            .cast("bigint")
            .alias("train_end_day"),
            "n_train",
            "n_val",
        )
    )


# ---------------------------------------------------------------------------
# M269 dedup_method_overlap — cross-method dedup Venn profile (composed)
# ---------------------------------------------------------------------------


def _method_overlap_oracle() -> str:
    from tropology_spark.registry import ORACLES

    return """
    WITH ex AS ({ex}),
    mh AS ({mh}),
    sh AS ({sh}),
    ng AS ({ng}),
    flags AS (
      SELECT 'exact' AS method, d.doc_id
      FROM documents d JOIN ex
        ON md5(d.text) = ex.text_hash AND d.doc_id > ex.keep_doc_id
      UNION ALL SELECT 'minhash', doc_b FROM mh
      UNION ALL SELECT 'simhash', doc_b FROM sh
      UNION ALL SELECT 'ngram', doc_b FROM ng
    ),
    bm AS (
      SELECT doc_id,
             max(CASE WHEN method = 'exact' THEN 1 ELSE 0 END) AS f_exact,
             max(CASE WHEN method = 'minhash' THEN 1 ELSE 0 END) AS f_minhash,
             max(CASE WHEN method = 'simhash' THEN 1 ELSE 0 END) AS f_simhash,
             max(CASE WHEN method = 'ngram' THEN 1 ELSE 0 END) AS f_ngram
      FROM flags GROUP BY doc_id)
    SELECT CAST(f_exact AS BIGINT) AS f_exact,
           CAST(f_minhash AS BIGINT) AS f_minhash,
           CAST(f_simhash AS BIGINT) AS f_simhash,
           CAST(f_ngram AS BIGINT) AS f_ngram,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM bm GROUP BY f_exact, f_minhash, f_simhash, f_ngram
    """.format(
        ex=ORACLES["dedup_exact"],
        mh=ORACLES["dedup_minhash_lsh"],
        sh=ORACLES["dedup_simhash"],
        ng=ORACLES["dedup_ngram_jaccard"],
    )


@register("dedup_method_overlap", oracle=_method_overlap_oracle())
def dedup_method_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M269 — which dedup families flag which documents: the
    per-doc drop-side flag under each of the four text methods (exact
    md5, MinHash-LSH candidates, SimHash Hamming<=6, trigram Jaccard
    >=0.4) rolled up to the full Venn combination profile (flag
    bitmap -> doc count + min doc id anchor).  The audit a curation
    team runs before ordering a cascade: a method whose flags are a
    subset of a cheaper method's is redundant; the exclusive cells
    are each stage's marginal contribution.

    Composed, not copied: all four flag sets come from the REGISTERED
    pipelines — QUERIES on the Spark side (sharing the session's
    minhash-band and simhash signature caches), ORACLES verbatim on
    the DuckDB side (the dedup_lsh_recall rule).  Drop-side
    convention: a doc is flagged if it is the LARGER id of a candidate
    pair (keep-smallest), and for exact groups every non-representative
    copy.

    Scale: every underlying method is banded/blocked (never
    all-pairs); the overlay adds one union + two doc-keyed
    map-side-combinable groupBys — the profile itself is O(2^4)
    rows."""
    from tropology_spark.registry import QUERIES

    docs = load(spark, sf_dir, "documents")
    ex = QUERIES["dedup_exact"](spark, sf_dir)
    exact_flagged = docs.join(
        ex,
        (F.md5(F.col("text")) == F.col("text_hash"))
        & (F.col("doc_id") > F.col("keep_doc_id")),
    ).select(F.lit("exact").alias("method"), "doc_id")
    flagged = exact_flagged
    for method, qname in (
        ("minhash", "dedup_minhash_lsh"),
        ("simhash", "dedup_simhash"),
        ("ngram", "dedup_ngram_jaccard"),
    ):
        flagged = flagged.unionAll(
            QUERIES[qname](spark, sf_dir).select(
                F.lit(method).alias("method"), F.col("doc_b").alias("doc_id")
            )
        )
    bm = flagged.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("method") == m, 1).otherwise(0)).alias(f"f_{m}")
            for m in ("exact", "minhash", "simhash", "ngram")
        ]
    )
    return bm.groupBy(
        *[F.col(f"f_{m}").cast("bigint").alias(f"f_{m}")
          for m in ("exact", "minhash", "simhash", "ngram")]
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# M277 pipeline_curriculum_stages — quality-ordered curriculum buckets
# ---------------------------------------------------------------------------

from tropology_spark.operators.text import _STOPWORDS  # noqa: E402

_CURR_STAGES = 4

#: Integer quality carrier: the M-quality heuristic (stopword ratio ×
#: 0.5 + min(n_tokens,100)/200) in exact ppm — (500000·n_stop) div
#: n_tokens + 5000·least(n_tokens, 100).  Non-negative numerators →
#: div//floor agree; ties broken by doc_id everywhere.
_CURR_ORACLE = f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    st AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN token IN {_STOPWORDS!r} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_stop
      FROM tok GROUP BY doc_id
    ),
    q AS (SELECT doc_id, n_tokens,
                 (500000 * n_stop) // n_tokens
                   + 5000 * least(n_tokens, 100) AS q_ppm
          FROM st),
    r AS (SELECT *, ntile({_CURR_STAGES})
                      OVER (ORDER BY q_ppm DESC, doc_id) AS stage
          FROM q)
    SELECT CAST(stage AS BIGINT) AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(min(q_ppm) AS BIGINT) AS min_q_ppm,
           CAST(max(q_ppm) AS BIGINT) AS max_q_ppm
    FROM r GROUP BY stage
"""


@register("pipeline_curriculum_stages", oracle=_CURR_ORACLE)
def pipeline_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M277 — curriculum staging for training-data scheduling: rank
    the corpus by an exact integer quality score (the M-quality
    stopword/length heuristic in ppm — (500000·n_stop) div n_tokens +
    5000·least(n_tokens, 100); highest quality first, doc_id
    tie-break), cut it into {n} equal ntile stages, and emit each
    stage's document count, token budget, and quality range — the
    stage manifest a curriculum-ordered training run consumes (stage 1
    = cleanest data first).

    The global quality ORDER is the scale hazard: a bare
    ``ntile OVER (ORDER BY ...)`` funnels the corpus through one task,
    so the Spark side uses the two-pass range-partitioned rank
    (plans/global_order.py: global_row_number + ntile_expr — exact SQL
    ntile semantics, bit-equal to the oracle's window at every
    partitioning).  Everything is integer: the ppm score's numerators
    are non-negative so div//floor agree, and the stage aggregate is
    map-side combinable on a {n}-value key."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    st = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("token").isin(*_STOPWORDS), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stop"),
    )
    q = st.select(
        "doc_id",
        "n_tokens",
        F.expr(
            "(500000 * n_stop) div n_tokens"
            " + 5000 * least(n_tokens, 100L)"
        ).alias("q_ppm"),
    )
    ranked = global_row_number(
        q,
        [F.col("q_ppm").desc(), F.col("doc_id")],
        out="position",
        total_col="n_total",
    )
    staged = ranked.select(
        "n_tokens",
        "q_ppm",
        ntile_expr(F.col("position"), F.col("n_total"), _CURR_STAGES).alias(
            "stage"
        ),
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.min("q_ppm").cast("bigint").alias("min_q_ppm"),
        F.max("q_ppm").cast("bigint").alias("max_q_ppm"),
    )


pipeline_curriculum_stages.__doc__ = pipeline_curriculum_stages.__doc__.format(
    n=_CURR_STAGES
)


# ---------------------------------------------------------------------------
# pipeline_ldp_freq_audit — k-randomized-response local-DP frequency release
# (M290)
# ---------------------------------------------------------------------------

_LDP_ORACLE = """
    WITH tt AS (
      SELECT event_type AS tname,
             row_number() OVER (ORDER BY event_type) - 1 AS idx
      FROM (SELECT DISTINCT event_type FROM events)
    ),
    e AS (
      SELECT ev.event_type AS true_type, tt.idx AS i,
             CASE WHEN substring(md5(CAST(ev.event_id AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS keep,
             ('0x' || substring(md5(CAST(ev.event_id AS VARCHAR)), 2, 1))::BIGINT
               % 4 AS j
      FROM events ev JOIN tt ON ev.event_type = tt.tname
    ),
    rep AS (
      SELECT e.true_type,
             CASE WHEN e.keep = 1 THEN e.true_type ELSE t2.tname END AS rep_type
      FROM e LEFT JOIN tt t2
        ON t2.idx = e.j + CASE WHEN e.j >= e.i THEN 1 ELSE 0 END
    ),
    tc AS (SELECT true_type AS event_type, CAST(count(*) AS BIGINT) AS true_n
           FROM rep GROUP BY true_type),
    rc AS (SELECT rep_type AS event_type, CAST(count(*) AS BIGINT) AS reported_n
           FROM rep GROUP BY rep_type),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM rep)
    SELECT tc.event_type, tc.true_n,
           CAST(coalesce(rc.reported_n, 0) AS BIGINT) AS reported_n,
           CAST(8 * coalesce(rc.reported_n, 0) - n.nt AS BIGINT) AS t3_est,
           CAST(8 * coalesce(rc.reported_n, 0) - n.nt - 3 * tc.true_n AS BIGINT)
             AS err3
    FROM tc LEFT JOIN rc ON tc.event_type = rc.event_type
    CROSS JOIN n
    """


@register("pipeline_ldp_freq_audit", oracle=_LDP_ORACLE)
def pipeline_ldp_freq_audit(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """M290 — k-RANDOMIZED-RESPONSE local-DP frequency release
    (Warner's mechanism, the local-privacy primitive every telemetry
    pipeline that cannot see raw values runs): each event reports its
    TRUE type with p = 1/2, else one of the other k−1 = 4 types
    uniformly — both coins DETERMINISTIC md5 hex digits of event_id
    (the I7/M43 reproducibility discipline; real deployments use a
    private RNG, the audit needs replayability), the replacement
    picked by alphabetical index arithmetic j + (j ≥ i) so both
    engines choose identically.  Per type: true count, reported
    (perturbed) count, and the exact debias carrier
    t3_est = 8·c − n ≡ 3·t̂ (from c = t/2 + (n−t)/8 — NO division, a
    SIGNED BIGINT) plus err3 = t3_est − 3·true — the utility-loss
    audit (ε = ln(p·(k−1)/(1−p)) = ln 4 here) a privacy review signs
    off on.

    Scale: one events pass (the ×1 tt join is a broadcast against the
    bounded type table), two map-side-combinable rollups, a 1-row
    total via the bounded-axis window.

    ``events=`` substitutes the event frame for probes; the driver
    contract never passes it."""
    e = events if events is not None else load(spark, sf_dir, "events")
    tt = (
        e.select("event_type")
        .distinct()
        .select(
            F.col("event_type").alias("tname"),
            (
                F.row_number().over(
                    Window.partitionBy(
                        F.pmod(F.length("event_type"), F.lit(1))
                    ).orderBy("event_type")
                )
                - 1
            ).alias("idx"),
        )
    )
    md = F.md5(F.col("event_id").cast("string"))
    ev = e.select(
        F.col("event_type").alias("true_type"),
        F.when(F.substring(md, 1, 1) < "8", 1).otherwise(0).alias("keep"),
        (F.conv(F.substring(md, 2, 1), 16, 10).cast("bigint") % 4).alias("j"),
    ).join(
        F.broadcast(tt.select(F.col("tname").alias("true_type"), F.col("idx").alias("i"))),
        "true_type",
    )
    t2 = tt.select(F.col("tname").alias("alt_type"), F.col("idx").alias("idx2"))
    rep = ev.join(
        F.broadcast(t2),
        F.col("idx2")
        == F.col("j") + F.when(F.col("j") >= F.col("i"), 1).otherwise(0),
        "left",
    ).select(
        "true_type",
        F.when(F.col("keep") == 1, F.col("true_type"))
        .otherwise(F.col("alt_type"))
        .alias("rep_type"),
    )
    tc = rep.groupBy(F.col("true_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    rc = rep.groupBy(F.col("rep_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("reported_n")
    )
    w = Window.partitionBy(F.pmod(F.length("event_type"), F.lit(1)))
    out = (
        tc.join(rc, "event_type", "left")
        .withColumn("reported_n", F.coalesce(F.col("reported_n"), F.lit(0)))
        .withColumn("nt", F.sum("true_n").over(w).cast("bigint"))
    )
    return out.select(
        "event_type",
        "true_n",
        F.col("reported_n").cast("bigint").alias("reported_n"),
        (8 * F.col("reported_n") - F.col("nt")).cast("bigint").alias("t3_est"),
        (8 * F.col("reported_n") - F.col("nt") - 3 * F.col("true_n"))
        .cast("bigint")
        .alias("err3"),
    )


# ---------------------------------------------------------------------------
# pipeline_importance_weights — uniform-target mixture reweighting (M293)
# ---------------------------------------------------------------------------


@register(
    "pipeline_importance_weights",
    oracle="""
    WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS k FROM s)
    SELECT source, n_docs,
           CAST((1000000 * total) // (k * n_docs) AS BIGINT) AS w_ppm,
           CAST(n_docs * ((1000000 * total) // (k * n_docs)) AS BIGINT)
             AS contrib_w,
           CAST(n_docs * ((1000000 * total) // (k * n_docs))
                       * ((1000000 * total) // (k * n_docs)) AS BIGINT)
             AS contrib_w2
    FROM s CROSS JOIN t
    """,
)
def pipeline_importance_weights(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M293 — IMPORTANCE REWEIGHTING to a uniform source mix:
    per source, the exact ppm weight w = (T/k)/n_s (the ratio that
    makes every source contribute equally in expectation — the
    domain-reweighting primitive behind every data-mixture retrain,
    M87's weights applied as per-EXAMPLE importance factors), plus the
    ESS terms n_s·w and n_s·w² whose client-side ratio (Σw)²/Σw² is
    Kish's effective sample size — the number that says how much the
    reweighting costs in variance before anyone trains.

    All integer: w_ppm = (10⁶·T) div (k·n_s) (non-negative integral
    division, both engines agree), and the ESS contributions reuse the
    w_ppm integer verbatim so the audit is self-consistent.  Scale:
    the corpus collapses to O(sources) in one map-side-combinable
    pass; totals ride pmod-constant-key windows on the bounded source
    axis.

    ``docs=`` substitutes the document frame for probes; the driver
    contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy(F.pmod(F.length("source"), F.lit(1)))
    out = s.select(
        "source",
        "n_docs",
        F.sum("n_docs").over(w).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("k"),
    ).withColumn(
        "w_ppm",
        F.expr("(1000000 * total) div (k * n_docs)").cast("bigint"),
    )
    return out.select(
        "source",
        "n_docs",
        "w_ppm",
        (F.col("n_docs") * F.col("w_ppm")).cast("bigint").alias("contrib_w"),
        (F.col("n_docs") * F.col("w_ppm") * F.col("w_ppm"))
        .cast("bigint")
        .alias("contrib_w2"),
    )


# ---------------------------------------------------------------------------
# pipeline_cascade_marginals — dedup cascade marginal contributions
# ---------------------------------------------------------------------------

_CASCADE = ("exact", "minhash", "simhash", "ngram")


def _cascade_oracle() -> str:
    from tropology_spark.registry import ORACLES

    return """
    WITH ex AS ({ex}),
    mh AS ({mh}),
    sh AS ({sh}),
    ng AS ({ng}),
    flags AS (
      SELECT 1 AS stage, d.doc_id
      FROM documents d JOIN ex
        ON md5(d.text) = ex.text_hash AND d.doc_id > ex.keep_doc_id
      UNION ALL SELECT 2, doc_b FROM mh
      UNION ALL SELECT 3, doc_b FROM sh
      UNION ALL SELECT 4, doc_b FROM ng
    ),
    first_stage AS (
      SELECT doc_id, CAST(min(stage) AS BIGINT) AS stage
      FROM flags GROUP BY doc_id
    ),
    axis AS (SELECT unnest(generate_series(1, 4)) AS stage),
    per AS (
      SELECT axis.stage,
             CAST(coalesce(f.n_flagged, 0) AS BIGINT) AS n_flagged,
             CAST(coalesce(m.n_marginal, 0) AS BIGINT) AS n_marginal
      FROM axis
      LEFT JOIN (SELECT stage, count(DISTINCT doc_id) AS n_flagged
                 FROM flags GROUP BY stage) f ON axis.stage = f.stage
      LEFT JOIN (SELECT stage, count(*) AS n_marginal
                 FROM first_stage GROUP BY stage) m ON axis.stage = m.stage
    )
    SELECT CAST(stage AS BIGINT) AS stage,
           CASE stage WHEN 1 THEN 'exact' WHEN 2 THEN 'minhash'
                      WHEN 3 THEN 'simhash' ELSE 'ngram' END AS method,
           n_flagged, n_marginal,
           CAST(sum(n_marginal) OVER (ORDER BY stage) AS BIGINT)
             AS cum_removed
    FROM per
    """.format(
        ex=ORACLES["dedup_exact"],
        mh=ORACLES["dedup_minhash_lsh"],
        sh=ORACLES["dedup_simhash"],
        ng=ORACLES["dedup_ngram_jaccard"],
    )


@register("pipeline_cascade_marginals", oracle=_cascade_oracle())
def pipeline_cascade_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M299 — the dedup CASCADE economics under the production
    order exact → MinHash → SimHash → n-gram: per stage, the raw flag
    count AND the MARGINAL contribution (docs first flagged at that
    stage — what the stage still removes AFTER everything cheaper ran)
    plus the cumulative removal — the table that justifies (or kills)
    each stage of a 100 TB dedup budget.  M269's Venn says which
    methods OVERLAP; the cascade view is order-aware: a method with
    large flags but zero marginal is pure cost.  All four stage rows
    are ALWAYS emitted (LEFT joins from the stage axis — the
    threshold-curve rule; at sf0.001 the fixture has no exact dups
    and stage 1 legitimately reads 0/0).

    Composed, not copied: all four flag sets come from the REGISTERED
    pipelines — QUERIES on the Spark side (sharing the session's band
    and signature caches), ORACLES verbatim on the DuckDB side (the
    M269/dedup_lsh_recall rule); drop-side convention identical to
    M269 (larger id of a pair; non-representative copies for exact).
    Scale: every underlying method is banded/blocked; the overlay
    adds one union + a doc-keyed min-stage rollup + a 4-row window."""
    from tropology_spark.registry import QUERIES

    docs = load(spark, sf_dir, "documents")
    ex = QUERIES["dedup_exact"](spark, sf_dir)
    flagged = docs.join(
        ex,
        (F.md5(F.col("text")) == F.col("text_hash"))
        & (F.col("doc_id") > F.col("keep_doc_id")),
    ).select(F.lit(1).alias("stage"), "doc_id")
    for stage, qname in (
        (2, "dedup_minhash_lsh"),
        (3, "dedup_simhash"),
        (4, "dedup_ngram_jaccard"),
    ):
        flagged = flagged.unionAll(
            QUERIES[qname](spark, sf_dir).select(
                F.lit(stage).alias("stage"), F.col("doc_b").alias("doc_id")
            )
        )
    from tropology_spark.session import iter_materialize

    flagged = iter_materialize(
        flagged.distinct()
    )  # referenced by the per-stage count AND the min-stage rollup
    per_stage = flagged.groupBy("stage").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_flagged")
    )
    first = flagged.groupBy("doc_id").agg(
        F.min("stage").cast("bigint").alias("stage")
    )
    marg = first.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_marginal")
    )
    axis = spark.range(1, len(_CASCADE) + 1).select(
        F.col("id").cast("int").alias("stage")
    )
    w = (
        Window.partitionBy(F.pmod(F.col("stage"), F.lit(1)))
        .orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    method = (
        F.when(F.col("stage") == 1, "exact")
        .when(F.col("stage") == 2, "minhash")
        .when(F.col("stage") == 3, "simhash")
        .otherwise("ngram")
    )
    return (
        axis.join(per_stage, "stage", "left")
        .join(marg, "stage", "left")
        .withColumn("n_flagged", F.coalesce(F.col("n_flagged"), F.lit(0)))
        .withColumn("n_marginal", F.coalesce(F.col("n_marginal"), F.lit(0)))
        .select(
            F.col("stage").cast("bigint").alias("stage"),
            method.alias("method"),
            F.col("n_flagged").cast("bigint").alias("n_flagged"),
            F.col("n_marginal").cast("bigint").alias("n_marginal"),
            F.sum("n_marginal").over(w).cast("bigint").alias("cum_removed"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_truncation_loss_curve — token loss vs context length
# ---------------------------------------------------------------------------

_TRUNC_LENS = (128, 256, 512)

_TRUNC_ORACLE = f"""
    WITH tok AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS n_tokens
                 FROM documents),
    h AS (SELECT n_tokens, CAST(count(*) AS BIGINT) AS n_docs
          FROM tok GROUP BY n_tokens),
    cfg AS (SELECT CAST(unnest([{", ".join(str(n) for n in _TRUNC_LENS)}]) AS BIGINT)
                     AS max_len)
    SELECT cfg.max_len,
           CAST(sum(CASE WHEN h.n_tokens > cfg.max_len THEN h.n_docs
                         ELSE 0 END) AS BIGINT) AS n_docs_over,
           CAST(sum(CASE WHEN h.n_tokens > cfg.max_len
                         THEN (h.n_tokens - cfg.max_len) * h.n_docs
                         ELSE 0 END) AS BIGINT) AS tokens_lost,
           CAST(sum(h.n_tokens * h.n_docs) AS BIGINT) AS tokens_total,
           CAST((1000000 * sum(CASE WHEN h.n_tokens > cfg.max_len
                                    THEN (h.n_tokens - cfg.max_len) * h.n_docs
                                    ELSE 0 END))
                // sum(h.n_tokens * h.n_docs) AS BIGINT) AS loss_ppm
    FROM h CROSS JOIN cfg GROUP BY cfg.max_len
"""


@register("pipeline_truncation_loss_curve", oracle=_TRUNC_ORACLE)
def pipeline_truncation_loss_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """M304 — Context-length budgeting curve: the exact token loss at
    max-length {lens} — documents over the limit, tokens truncated,
    and loss_ppm = (10⁶·lost) div total per setting.  This is the
    first number a training-data pipeline reads when choosing a
    context length (M108 budgets a corpus DOWN to a token target;
    this measures what each TRUNCATION point costs), and the curve
    shape tells whether the corpus is truncation-bound or
    padding-bound.

    Scale discipline: the corpus collapses to the LENGTH HISTOGRAM
    first (bounded by distinct lengths — the bounded-domain counting
    rule), and the ×{k} config axis explodes the histogram, never the
    corpus; every aggregate map-side combinable, integer-exact
    (non-negative numerators)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    h = tok.groupBy("n_tokens").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    cfg_arr = F.array(*[F.lit(n).cast("bigint") for n in _TRUNC_LENS])
    x = h.select("n_tokens", "n_docs", F.explode(cfg_arr).alias("max_len"))
    return x.groupBy("max_len").agg(
        F.sum(
            F.when(F.col("n_tokens") > F.col("max_len"), F.col("n_docs")).otherwise(0)
        )
        .cast("bigint")
        .alias("n_docs_over"),
        F.sum(
            F.when(
                F.col("n_tokens") > F.col("max_len"),
                (F.col("n_tokens") - F.col("max_len")) * F.col("n_docs"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tokens_lost"),
        F.sum(F.col("n_tokens") * F.col("n_docs"))
        .cast("bigint")
        .alias("tokens_total"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN n_tokens > max_len"
            " THEN (n_tokens - max_len) * n_docs ELSE 0 END))"
            " div sum(n_tokens * n_docs) AS BIGINT)"
        ).alias("loss_ppm"),
    )


pipeline_truncation_loss_curve.__doc__ = (
    pipeline_truncation_loss_curve.__doc__.format(
        lens="/".join(str(n) for n in _TRUNC_LENS), k=len(_TRUNC_LENS)
    )
)


# ---------------------------------------------------------------------------
# Consistent-hashing ring helpers — the permanent single home (ADVICE r13
# item 1): pipeline_consistent_hash_moves (staged r16) and
# pipeline_shard_balance (staged r17) both build on these, so neither
# slate's activation order can break the other.  Registers nothing.
# ---------------------------------------------------------------------------

import hashlib  # noqa: E402


_CH_VNODES = 4
_CH_MOD = 1 << 32


def _ring_points(n_shards: int) -> list[tuple[int, int, int]]:
    """(shard, vnode, ring_position) for ``n_shards`` — md5-low-32 of
    "<shard>_<vnode>", computed once at import and embedded as
    LITERALS in both engines (the _CMS_ROWS constant discipline; the
    twin re-derives them with hashlib independently).  The n=8 points
    are a strict subset of the n=9 points — the consistent-hashing
    property under test."""
    return [
        (s, v, int(hashlib.md5(f"{s}_{v}".encode()).hexdigest()[:8], 16))
        for s in range(n_shards)
        for v in range(_CH_VNODES)
    ]


_RING8 = _ring_points(8)
_RING9 = _ring_points(9)


def ring_assign(
    h: DataFrame, points: list[tuple[int, int, int]], out: str
) -> DataFrame:
    """Successor-on-the-ring assignment for a ``(doc_id, h)`` frame:
    ``out`` = the shard whose nearest clockwise ring point follows the
    key hash — array_min over the literal (dist, shard, r) structs, so
    the whole ring rides the row (no join at all).  The single Spark
    home of the ring arithmetic, shared by the moves audit (M320) and
    the registered balance profile (M330, below)."""
    structs = F.array(
        *[
            F.struct(
                ((F.lit(r) - F.col("h") + _CH_MOD) % _CH_MOD).alias("dist"),
                F.lit(s).cast("bigint").alias("shard"),
                F.lit(r).cast("bigint").alias("r"),
            )
            for s, _v, r in points
        ]
    )
    return h.select(
        "doc_id", F.array_min(structs).getField("shard").alias(out)
    )


# ---------------------------------------------------------------------------
# pipeline_contamination_ngram_curve — contamination vs shingle width
# ---------------------------------------------------------------------------

_CONTAM_NS = (2, 3, 4)


def _contam_curve_oracle() -> str:
    parts = []
    for n in _CONTAM_NS:
        parts.append(
            f"""
    SELECT CAST({n} AS BIGINT) AS n,
           (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
            WHERE doc_id % {_CONTAM_EVAL_MOD} <> 0) AS n_train_docs,
           CAST(count(DISTINCT tr.doc_id) AS BIGINT) AS n_flagged,
           CAST(count(DISTINCT (tr.doc_id, ev.doc_id)) AS BIGINT) AS n_pairs,
           CAST((1000000 * count(DISTINCT tr.doc_id))
                // (SELECT count(DISTINCT doc_id) FROM documents
                    WHERE doc_id % {_CONTAM_EVAL_MOD} <> 0) AS BIGINT)
             AS flagged_ppm
    FROM (
      SELECT DISTINCT doc_id,
             array_to_string(l[i:i+{n - 1}], ' ') AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(l) - {n - 1}
    ) tr
    JOIN (
      SELECT DISTINCT doc_id,
             array_to_string(l[i:i+{n - 1}], ' ') AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
            WHERE doc_id % {_CONTAM_EVAL_MOD} = 0),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(l) - {n - 1}
    ) ev ON tr.token = ev.token
    WHERE tr.doc_id % {_CONTAM_EVAL_MOD} <> 0
    """
        )
    return " UNION ALL ".join(parts)


@register("pipeline_contamination_ngram_curve", oracle=_contam_curve_oracle())
def pipeline_contamination_ngram_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """M315 — Contamination rate vs SHINGLE WIDTH n ∈ {2, 3, 4} — the
    decontamination DISCRIMINATION axis: short shingles flag the
    whole corpus (collision noise — at n=2 nearly every training doc
    shares a bigram with the benchmark), long ones miss paraphrases;
    the curve shows the cliff and is how a pipeline picks the width
    the registered M25 fixes at 4.  Per width: training docs flagged
    (≥1 shared n-gram with the doc_id%97 benchmark split), distinct
    (train, eval) pairs hit, and the flagged fraction in ppm.

    Each point is one tokenize pass at its width (shingle sets at
    different n do NOT derive from each other) — ×|ns| corpus-linear
    scans, the same deliberate cost class as the winnowing curve;
    at 100 TB the eval side stays tiny and broadcasts, so each pass
    is exactly M25's one-scan shape.  flagged_ppm divides by the
    total training-doc count (a 1-row attach — BNLJ-allowlisted).
    The twin pins the monotone containment flagged(n+1) ⊆ flagged(n)
    (an (n+1)-gram match contains an n-gram match)."""
    from tropology_spark.session import iter_materialize

    d = load(spark, sf_dir, "documents")
    # the 1-row train count is referenced once per curve point — the
    # double-reference rule (each bare reference re-scans documents).
    n_train = iter_materialize(
        d.filter(F.col("doc_id") % _CONTAM_EVAL_MOD != 0).agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_train_docs")
        )
    )
    out = None
    for n in _CONTAM_NS:
        tok = d.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngrams(F.split(F.col("text"), " "), n))
            ).alias("token"),
        )
        ev = tok.filter(F.col("doc_id") % _CONTAM_EVAL_MOD == 0).select(
            F.col("doc_id").alias("eval_id"), F.col("token").alias("ev_token")
        )
        tr = tok.filter(F.col("doc_id") % _CONTAM_EVAL_MOD != 0)
        j = tr.join(F.broadcast(ev), tr.token == ev.ev_token)
        row = (
            j.agg(
                F.countDistinct("doc_id").cast("bigint").alias("n_flagged"),
                F.countDistinct("doc_id", "eval_id")
                .cast("bigint")
                .alias("n_pairs"),
            )
            .crossJoin(F.broadcast(n_train))
            .select(
                F.lit(n).cast("bigint").alias("n"),
                "n_train_docs",
                "n_flagged",
                "n_pairs",
                F.expr(
                    "CAST((1000000 * n_flagged) div n_train_docs AS BIGINT)"
                ).alias("flagged_ppm"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# pipeline_consistent_hash_moves (M320) — mod vs ring reassignment at 8 -> 9
# ---------------------------------------------------------------------------


def _ch_oracle() -> str:
    r8 = ", ".join(f"({s}, {r})" for s, _v, r in _RING8)
    r9 = ", ".join(f"({s}, {r})" for s, _v, r in _RING9)
    assign = """
      SELECT h.doc_id,
             (SELECT shard FROM {ring} rp
              ORDER BY (rp.r - h.h + {m}) % {m}, rp.shard, rp.r
              LIMIT 1) AS a
      FROM h"""
    return f"""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM documents
    ),
    ring8(shard, r) AS (VALUES {r8}),
    ring9(shard, r) AS (VALUES {r9}),
    a8 AS ({assign.format(ring="ring8", m=_CH_MOD)}),
    a9 AS ({assign.format(ring="ring9", m=_CH_MOD)}),
    per AS (
      SELECT h.doc_id,
             h.h % 8 AS m8, h.h % 9 AS m9,
             a8.a AS r8a, a9.a AS r9a
      FROM h JOIN a8 ON h.doc_id = a8.doc_id
             JOIN a9 ON h.doc_id = a9.doc_id
    )
    SELECT method, n_keys, n_moved,
           CAST(CASE WHEN n_keys = 0 THEN NULL
                ELSE (1000000 * n_moved) // n_keys END AS BIGINT) AS moved_ppm,
           n_to_new
    FROM (
      SELECT 'mod' AS method,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(CASE WHEN m8 <> m9 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
             CAST(sum(CASE WHEN m8 <> m9 AND m9 = 8 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_to_new
      FROM per
      UNION ALL
      SELECT 'ring',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN r8a <> r9a THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN r8a <> r9a AND r9a = 8 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM per
    ) t
    """


@register("pipeline_consistent_hash_moves", oracle=_ch_oracle())
def pipeline_consistent_hash_moves(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M320 — CONSISTENT-HASHING reassignment audit: grow the shard
    count 8 → 9 and count, per placement scheme, how many keys MOVE —
    mod hashing reassigns ~8/9 of the corpus (every residue shifts),
    the consistent ring (4 virtual nodes per shard, md5 ring
    positions, successor assignment) reassigns ~1/(n+1), and EVERY
    ring-moved key lands on the NEW shard (n_moved == n_to_new for
    'ring' — the structural guarantee, twin-pinned; under mod it is a
    ~1/9 coincidence).  This is the shuffle-economics argument for
    ring-partitioned layouts at 100 TB: re-sharding cost is
    proportional to 1/n of the data, not all of it.

    Determinism: key hash = md5-low-32 of doc_id; ring positions are
    import-time md5 literals embedded in BOTH engines (the _CMS_ROWS
    constant discipline — the twin re-derives them with hashlib).
    Scale: the ring is a 36-row broadcast riding an EXPLODE on the key
    rows (no BNLJ); assignment is one per-key min-struct aggregation —
    map-side combinable.

    ``docs=`` substitutes the document frame for probes; the driver
    contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    # DOUBLE-REFERENCE RULE: the mod and ring rows both aggregate this
    # frame — without the materialization each union branch re-derives
    # the documents scan, the per-key md5 and BOTH ring assignments
    # (2x the corpus work at scale).
    per = iter_materialize(
        h.select(
            "doc_id",
            (F.col("h") % 8).alias("m8"),
            (F.col("h") % 9).alias("m9"),
        )
        .join(ring_assign(h, _RING8, "r8a"), "doc_id")
        .join(ring_assign(h, _RING9, "r9a"), "doc_id")
    )

    def row(method: str, old: str, new: str) -> DataFrame:
        return per.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col(old) != F.col(new), 1).otherwise(0))
            .cast("bigint")
            .alias("n_moved"),
            F.sum(
                F.when((F.col(old) != F.col(new)) & (F.col(new) == 8), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_to_new"),
        ).select(
            "method",
            "n_keys",
            "n_moved",
            F.expr(
                "CASE WHEN n_keys = 0 THEN NULL"
                " ELSE (1000000 * n_moved) div n_keys END"
            )
            .cast("bigint")
            .alias("moved_ppm"),
            "n_to_new",
        )

    return row("mod", "m8", "m9").unionByName(row("ring", "r8a", "r9a"))


# ---------------------------------------------------------------------------
# pipeline_ldiversity_audit (M322) — l-diversity per quasi-identifier group
# ---------------------------------------------------------------------------

_LDIV_BUCKET = 200  # n_chars generalization width (the QI coarsening)


@register(
    "pipeline_ldiversity_audit",
    oracle=f"""
    SELECT source,
           CAST(n_chars // {_LDIV_BUCKET} AS BIGINT) AS size_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT lang) AS BIGINT) AS l_distinct,
           CAST(CASE WHEN count(DISTINCT lang) < 2 THEN 1 ELSE 0 END AS BIGINT)
             AS below_l2,
           CAST(CASE WHEN count(DISTINCT lang) < 3 THEN 1 ELSE 0 END AS BIGINT)
             AS below_l3
    FROM documents
    GROUP BY source, n_chars // {_LDIV_BUCKET}
    """,
)
def pipeline_ldiversity_audit(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M322 — L-DIVERSITY audit over the quasi-identifier tuple
    (source, generalized length bucket) with ``lang`` as the sensitive
    attribute: per equivalence class, the row count AND the number of
    DISTINCT sensitive values, plus the l<2 / l<3 violation flags —
    the privacy gate k-anonymity (M115) cannot express: a class of
    1,000 rows that all share one language still discloses the
    attribute of every member (the homogeneity attack Machanavajjhala
    et al. named l-diversity to stop).  Release rule: suppress or
    re-generalize every below-l class before the corpus ships.

    Scale: one aggregate keyed by the QI tuple; count(DISTINCT) over
    the bounded sensitive domain is a partial-agg-friendly shuffle of
    (QI, lang) projections; the violation list is |distinct QI| rows.

    ``docs=`` substitutes the document frame for probes; the driver
    contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    g = d.groupBy(
        "source",
        F.expr(f"n_chars div {_LDIV_BUCKET}").cast("bigint").alias("size_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("lang").cast("bigint").alias("l_distinct"),
    )
    return g.select(
        "source",
        "size_bucket",
        "n_rows",
        "l_distinct",
        F.when(F.col("l_distinct") < 2, 1).otherwise(0).cast("bigint").alias(
            "below_l2"
        ),
        F.when(F.col("l_distinct") < 3, 1).otherwise(0).cast("bigint").alias(
            "below_l3"
        ),
    )


# ---------------------------------------------------------------------------
# pipeline_shard_balance — per-shard occupancy under mod vs ring placement
# ---------------------------------------------------------------------------


def _md5_low32_pl(col: F.Column) -> F.Column:
    """The repo-wide portable hash: md5-low-32 of the string form."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


_SHARD_BAL_ORACLE = f"""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM documents
    ),
    ring8(shard, r) AS (VALUES {", ".join(f"({s}, {r})" for s, _v, r in _RING8)}),
    a8 AS (
      SELECT h.doc_id,
             (SELECT shard FROM ring8 rp
              ORDER BY (rp.r - h.h + {_CH_MOD}) % {_CH_MOD}, rp.shard, rp.r
              LIMIT 1) AS a
      FROM h
    ),
    cnt AS (
      SELECT 'mod8' AS scheme, h.h % 8 AS shard, CAST(count(*) AS BIGINT) AS c
      FROM h GROUP BY 2
      UNION ALL
      SELECT 'ring8', a, CAST(count(*) AS BIGINT) FROM a8 GROUP BY 2
    ),
    spine AS (
      SELECT sc.scheme, sh.shard
      FROM (SELECT unnest(['mod8', 'ring8']) AS scheme) sc,
           (SELECT unnest(generate_series(0, 7)) AS shard) sh
    ),
    f AS (
      SELECT spine.scheme, CAST(spine.shard AS BIGINT) AS shard,
             CAST(coalesce(cnt.c, 0) AS BIGINT) AS n_keys
      FROM spine LEFT JOIN cnt
        ON spine.scheme = cnt.scheme AND spine.shard = cnt.shard
    ),
    t AS (
      SELECT scheme, shard, n_keys,
             CAST(sum(n_keys) OVER (PARTITION BY scheme) AS BIGINT) AS n_total
      FROM f
    )
    SELECT scheme, shard, n_keys,
           CAST(CASE WHEN n_total = 0 THEN NULL
                ELSE (1000000 * n_keys) // n_total END AS BIGINT) AS share_ppm,
           CAST(1000 * n_keys - (1000 * n_total) // 8 AS BIGINT) AS dev_milli
    FROM t
    """


@register("pipeline_shard_balance", oracle=_SHARD_BAL_ORACLE)
def pipeline_shard_balance(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M330 — per-shard OCCUPANCY under the two placement schemes the
    M320 moves audit compares: mod hashing (perfectly balanced on a
    uniform hash) vs the 4-vnode consistent ring (arc lengths are
    uneven, so low vnode counts buy cheap re-sharding at the price of
    skewed shards — THE vnode-count trade-off, and exactly the skew a
    100 TB ring-partitioned layout must size executor memory for).
    Per (scheme, shard): key count, share_ppm, and the signed
    deviation from the ideal n/8 in milli-keys.  The 8-shard spine is
    zero-filled (an arc can be empty), the per-scheme total rides a
    PARTITION BY scheme window — real key, no scalar attach.

    Composed: the ring successor arithmetic is ``ring_assign``'s
    permanent single home above (ADVICE r13 item 1 — no cross-slate
    coupling).  Scale: one hash pass, a 16-row rollup.

    ``docs=`` substitutes the document frame for probes (an EMPTY
    frame still emits the 16-row spine with n_keys 0, share_ppm
    guarded NULL in both engines, dev_milli 0 — injection-pinned);
    the driver contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    # h feeds the mod count AND the ring assignment — DOUBLE-REFERENCE.
    h = iter_materialize(
        d.select("doc_id", _md5_low32_pl(F.col("doc_id")).alias("h"))
    )
    cnt = (
        h.select(F.lit("mod8").alias("scheme"), (F.col("h") % 8).alias("shard"))
        .unionByName(
            ring_assign(h, _RING8, "shard").select(
                F.lit("ring8").alias("scheme"), "shard"
            )
        )
        .groupBy("scheme", "shard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    spine = spark.createDataFrame(
        [(sc, sh) for sc in ("mod8", "ring8") for sh in range(8)],
        "scheme string, shard long",
    )
    f = spine.join(cnt, ["scheme", "shard"], "left").select(
        "scheme",
        F.col("shard").cast("bigint").alias("shard"),
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_keys"),
    )
    w = Window.partitionBy("scheme")
    t = f.withColumn("n_total", F.sum("n_keys").over(w).cast("bigint"))
    return t.select(
        "scheme",
        "shard",
        "n_keys",
        F.expr(
            "CASE WHEN n_total = 0 THEN NULL"
            " ELSE (1000000 * n_keys) div n_total END"
        )
        .cast("bigint")
        .alias("share_ppm"),
        (F.lit(1000) * F.col("n_keys") - F.expr("(1000 * n_total) div 8"))
        .cast("bigint")
        .alias("dev_milli"),
    )


# ---------------------------------------------------------------------------
# pipeline_reservoir_merge_audit — per-source top-k merge == global sample
# ---------------------------------------------------------------------------

_RES_K = 20


@register(
    "pipeline_reservoir_merge_audit",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, h,
             row_number() OVER (ORDER BY h, doc_id) AS pos_global
      FROM h
    ),
    shard AS (
      SELECT doc_id, h,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rs17
      FROM h
    ),
    merged AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY h, doc_id) AS pos_merged
      FROM shard WHERE rs17 <= {_RES_K}
    )
    SELECT g.doc_id, g.source, g.h,
           CAST(g.pos_global AS BIGINT) AS pos_global,
           CAST(m.pos_merged AS BIGINT) AS pos_merged,
           CAST(CASE WHEN g.pos_global = m.pos_merged THEN 1 ELSE 0 END
                AS BIGINT) AS agree
    FROM g JOIN merged m ON g.doc_id = m.doc_id
    WHERE g.pos_global <= {_RES_K} AND m.pos_merged <= {_RES_K}
    """,
)
def pipeline_reservoir_merge_audit(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M331 — the MERGEABLE-SAMPLE guarantee, audited: a deterministic
    uniform k-sample (bottom-k by the md5 key — the bottom-k sketch)
    taken PER SOURCE and merged must equal the GLOBAL k-sample
    exactly, positions and all, because the global bottom-k of a
    union is the bottom-k of the per-part bottom-ks.  This is what
    makes distributed uniform sampling a map-side operation at
    100 TB: each executor keeps k rows, the driver merges s·k — no
    global shuffle of the corpus.  The audit derives both sides
    INDEPENDENTLY — the global side through the two-pass
    range-partitioned rank (plans/global_order.py, no
    single-partition window), the merged side through per-source
    windows + the bounded ≤ sources·k re-rank — and joins them: k
    rows, agree = 1 everywhere.

    Scale: the global rank is the measured two-pass idiom (0.14×
    per-unit at 10×, SCALE.md); the merged side shuffles once on
    source and once on a ≤ s·k frame.

    ``docs=`` substitutes the document frame for probes (an EMPTY
    injected frame yields zero rows from both engines — no guard
    exists to diverge, pinned by the seventh-fold injection); the
    driver contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    # h feeds the global rank AND the per-source ranks — DOUBLE-REF.
    h = iter_materialize(
        d.select("doc_id", "source", _md5_low32_pl(F.col("doc_id")).alias("h"))
    )
    g = global_row_number(
        h, [F.col("h").asc(), F.col("doc_id").asc()], out="pos_global"
    ).filter(F.col("pos_global") <= _RES_K)
    ws = Window.partitionBy("source").orderBy("h", "doc_id")
    cand = (
        h.withColumn("rs17", F.row_number().over(ws))
        .filter(F.col("rs17") <= _RES_K)
    )
    wm = Window.partitionBy(F.pmod(F.col("h"), F.lit(1))).orderBy("h", "doc_id")
    merged = (
        cand.withColumn("pos_merged", F.row_number().over(wm))
        .filter(F.col("pos_merged") <= _RES_K)
        .select("doc_id", "pos_merged")
    )
    return g.join(merged, "doc_id").select(
        "doc_id",
        "source",
        "h",
        F.col("pos_global").cast("bigint").alias("pos_global"),
        F.col("pos_merged").cast("bigint").alias("pos_merged"),
        F.when(F.col("pos_global") == F.col("pos_merged"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("agree"),
    )


# ---------------------------------------------------------------------------
# M344 pipeline_kanon_curve — k-anonymity risk vs generalization width
# ---------------------------------------------------------------------------

_KC_WIDTHS = (100_000, 200_000, 400_000)  # acctbal bucket widths, cents
_KC_SHIFT = 10_000_000  # acctbal >= -$1000; multiple of every width,
# so the +shift keeps buckets NESTING across widths AND makes the
# numerator non-negative (div//floor trap on negative balances)
_KC_K = 5


@register(
    "pipeline_kanon_curve",
    oracle=f"""
    WITH b AS (
      SELECT w.w, c_nationkey AS nat,
             (CAST(round(c_acctbal * 100) AS BIGINT) + {_KC_SHIFT}) // w.w
               AS bucket
      FROM customer,
           (SELECT unnest([{", ".join(str(w) for w in _KC_WIDTHS)}]) AS w) w
    ),
    cls AS (
      SELECT w, nat, bucket, CAST(count(*) AS BIGINT) AS n_rows
      FROM b GROUP BY 1, 2, 3
    )
    SELECT CAST(w AS BIGINT) AS width_cents,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN n_rows < {_KC_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below_k,
           CAST(sum(CASE WHEN n_rows < {_KC_K} THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST((1000000 * sum(CASE WHEN n_rows < {_KC_K} THEN n_rows
                                    ELSE 0 END)) // sum(n_rows) AS BIGINT)
             AS risk_ppm
    FROM cls GROUP BY w
    """,
)
def pipeline_kanon_curve(
    spark: SparkSession, sf_dir: str, customers: DataFrame | None = None
) -> DataFrame:
    """M344 — the K-ANONYMITY GENERALIZATION curve: re-run the
    M115 below-k audit at account-balance bucket widths $1000 / $2000
    / $4000 over the QI (nationkey, balance bucket) and report classes,
    below-k classes and ROWS AT RISK per width — the
    generalization-vs-utility trade every privacy release tunes (M115
    audits ONE fixed QI; this prices the knob).  The at-risk row sets
    NEST as buckets coarsen — a merged class only gains population, so
    a below-k class at width 4W implies every constituent W-class was
    below k (twin-pinned containment); the +shift constant is a
    multiple of every width, preserving the nesting AND keeping the
    bucket numerator non-negative (balances go to −$1000: the
    div//floor trap).

    Scale: one scan; the ×3 width axis explodes the customer rows;
    class rollups are map-side combinable.

    ``customers=`` substitutes the customer frame for probes; the
    driver contract never passes it."""
    c = customers if customers is not None else load(spark, sf_dir, "customer")
    b = c.select(
        F.col("c_nationkey").alias("nat"),
        (F.round(F.col("c_acctbal") * 100).cast("bigint") + _KC_SHIFT).alias(
            "cents_sh"
        ),
        F.explode(F.array(*[F.lit(w) for w in _KC_WIDTHS])).alias("w"),
    ).select("w", "nat", F.expr("cents_sh div w").alias("bucket"))
    cls = b.groupBy("w", "nat", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    return cls.groupBy(F.col("w").cast("bigint").alias("width_cents")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("n_rows") < _KC_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_below_k"),
        F.sum(F.when(F.col("n_rows") < _KC_K, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.expr(
            f"CAST((1000000 * sum(CASE WHEN n_rows < {_KC_K} THEN n_rows"
            f" ELSE 0 END)) div sum(n_rows) AS BIGINT)"
        ).alias("risk_ppm"),
    )


# ---------------------------------------------------------------------------
# M350 pipeline_loo_source_impact — leave-one-source-out corpus statistics
# ---------------------------------------------------------------------------


@register(
    "pipeline_loo_source_impact",
    oracle="""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT source, n_docs, n_tokens,
             CAST(sum(n_docs) OVER () AS BIGINT) AS nn,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS tt
      FROM per
    )
    SELECT source, n_docs, n_tokens,
           CAST((1000 * tt) // nn AS BIGINT) AS full_mean_milli,
           CAST(CASE WHEN nn = n_docs THEN NULL
                     ELSE (1000 * (tt - n_tokens)) // (nn - n_docs) END
                AS BIGINT) AS loo_mean_milli,
           CAST(CASE WHEN nn = n_docs THEN NULL
                     ELSE (1000 * (tt - n_tokens)) // (nn - n_docs)
                          - (1000 * tt) // nn END AS BIGINT) AS delta_milli
    FROM t
    """,
)
def pipeline_loo_source_impact(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """SURVEY §2.M M350 — LEAVE-ONE-SOURCE-OUT impact on the corpus
    mean document length (milli-tokens): per source, the corpus mean
    with that source REMOVED next to the full mean and the signed
    delta — the cheapest data-valuation screen (a source whose removal
    moves the corpus statistic is the one to audit first; the
    Shapley-style full attribution starts from exactly these marginal
    deltas).  delta is a DIFFERENCE OF TWO EXACT FLOORS — each floor
    is deterministic in both engines, so the difference is too (no
    signed division anywhere).  A SINGLE-SOURCE corpus has no
    leave-one-out population (nn = n_docs): loo/delta are NULL in both
    engines — the probe-kwarg guard rule (an injected one-source frame
    would otherwise zero the denominator; injection-pinned in
    tests/test_r19_twins.py).

    Scale: one token-count scan collapsing to |sources| rows; the
    totals ride the pmod-constant window on the bounded source axis.
    The LOO arithmetic is pure subtraction from the totals — removal
    never rescans the corpus.

    ``docs=`` substitutes the document frame for probes; the driver
    contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = Window.partitionBy(F.pmod(F.col("n_docs"), F.lit(1)))
    t = per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).cast("bigint").alias("nn"),
        F.sum("n_tokens").over(w).cast("bigint").alias("tt"),
    )
    return t.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(1000 * tt) div nn").cast("bigint").alias("full_mean_milli"),
        F.expr(
            "CASE WHEN nn = n_docs THEN NULL"
            " ELSE (1000 * (tt - n_tokens)) div (nn - n_docs) END"
        )
        .cast("bigint")
        .alias("loo_mean_milli"),
        F.expr(
            "CASE WHEN nn = n_docs THEN NULL"
            " ELSE (1000 * (tt - n_tokens)) div (nn - n_docs)"
            "      - (1000 * tt) div nn END"
        )
        .cast("bigint")
        .alias("delta_milli"),
    )


# ---------------------------------------------------------------------------
# M356 pipeline_sample_bias_audit — sampled vs full statistics per source
# ---------------------------------------------------------------------------

_SB_MOD = 16


@register(
    "pipeline_sample_bias_audit",
    oracle=f"""
    WITH d AS (
      SELECT source, len(string_split(text, ' ')) AS tok,
             CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % {_SB_MOD} = 0 THEN 1 ELSE 0 END AS samp
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_full,
           CAST(sum(samp) AS BIGINT) AS n_sample,
           CAST((1000 * sum(tok)) // count(*) AS BIGINT) AS full_mean_milli,
           CAST(CASE WHEN sum(samp) = 0 THEN NULL
                     ELSE (1000 * sum(samp * tok)) // sum(samp) END AS BIGINT)
             AS sample_mean_milli,
           CAST(CASE WHEN sum(samp) = 0 THEN NULL
                     ELSE (1000 * sum(samp * tok)) // sum(samp)
                          - (1000 * sum(tok)) // count(*) END AS BIGINT)
             AS bias_milli
    FROM d GROUP BY source
    """,
)
def pipeline_sample_bias_audit(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """SURVEY §2.M M356 — SAMPLING-BIAS audit: per source, the mean
    document length of the deterministic 1/16 md5 row sample next to
    the full-corpus mean and the signed bias (a difference of two
    exact floors) — the check run before trusting any sampled
    dashboard: md5 sampling is unbiased in EXPECTATION, but a small
    per-source sample can sit far from its stratum mean, and this
    audit puts the realized gap on the table (sources whose sample is
    EMPTY report NULL — absence of evidence, loudly; the empty-sample
    branch is injection-pinned in tests/test_r19_twins.py).

    Scale: one scan with the sample flag as a computed column — the
    audit costs nothing beyond the rollup it grades; the same pattern
    prices any md5-mod sampling rate.

    ``docs=`` substitutes the document frame for probes; the driver
    contract never passes it."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("tok"),
        F.when(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % _SB_MOD
            == 0,
            1,
        )
        .otherwise(0)
        .alias("samp"),
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_full"),
        F.sum("samp").cast("bigint").alias("n_sample"),
        F.expr("(1000 * sum(tok)) div count(*)")
        .cast("bigint")
        .alias("full_mean_milli"),
        F.expr(
            "CASE WHEN sum(samp) = 0 THEN NULL"
            " ELSE (1000 * sum(samp * tok)) div sum(samp) END"
        )
        .cast("bigint")
        .alias("sample_mean_milli"),
        F.expr(
            "CASE WHEN sum(samp) = 0 THEN NULL"
            " ELSE (1000 * sum(samp * tok)) div sum(samp)"
            "      - (1000 * sum(tok)) div count(*) END"
        )
        .cast("bigint")
        .alias("bias_milli"),
    )
