"""Deduplication operators (SURVEY.md §2 J1-J3) — north-star additions.

Training-data dedup over the ``documents`` table: exact (hash groupBy),
blocked Jaccard candidate pairs, and MinHash-LSH for the 100 TB path
where all-pairs comparison is infeasible.

Scale notes (§7.7): J1 is one shuffle on a 16-byte key.  J2's
complexity is bounded by its blocking key (here the 40-char prefix
FIXTURES.md §5 identifies as the planted near-dup signature; at scale
the block is any cheap locality key).  J3 replaces O(pairs) with
O(docs·bands): signatures are computed in one narrow pass and
candidates emerge from band-bucket groupBys — the standard
shuffle-bounded LSH shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tropology_spark.registry import ORACLES, register
from tropology_spark.sources.tables import (
    SESSION_CACHES,
    cache_get_or_build,
    load,
    publish_parquet,
)


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — exact dedup: md5 content hash, keep the smallest doc_id as
    the deterministic representative."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_jaccard_pairs",
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
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN siz sa ON doc_a = sa.doc_id
    JOIN siz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — near-dup candidate pairs: prefix-blocked token-set Jaccard
    (the declared query pins block_width=40, which the fixture's
    duplicate generator never edits inside; see ``jaccard_pairs`` for
    the recall/width contract)."""
    return jaccard_pairs(load(spark, sf_dir, "documents"), block_width=40)


def jaccard_pairs(
    docs: DataFrame,
    block_width: int = 40,
    threshold: float = 0.5,
    include_sizes: bool = False,
) -> DataFrame:
    """Token-set Jaccard >= ``threshold`` over pairs sharing the same
    ``block_width``-char prefix.  The ratio is an exact integer
    division → deterministic across engines.

    Recall/width trade-off: the prefix block is a RECALL PRECONDITION,
    not a heuristic — a true near-dup pair is found iff its edits all
    occur strictly after ``block_width`` characters.  Wider blocks mean
    fewer candidate pairs (cost shrinks roughly with block selectivity)
    but silently miss near-dups edited early in the document;
    ``block_width=0`` disables blocking entirely (exact all-pairs
    Jaccard, O(n²) — only for small corpora or within another block).
    Pick the width to match where your duplicates actually diverge
    (crawl dumps: boilerplate header length).  For edits anywhere in
    the document at scale, use MinHash-LSH (J3, `dedup_minhash_lsh`) —
    its banding recalls pairs regardless of edit position.  Property
    test: tests/test_properties.py::test_jaccard_block_width_recall."""
    tok = docs.select(
        "doc_id",
        F.substring(F.col("text"), 1, block_width).alias("pfx"),
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    siz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.alias("a")
    b = tok.alias("b")
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
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    out = ["doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard")]
    if include_sizes:
        out += [F.col("na"), F.col("nb")]
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select(*out)
    )


#: Checkpointed (doc_a, doc_b) pair table per (session, sf, width) —
#: the near-dup pair graph feeds both the clustering query (M24) and
#: the curation composition (M53); the same handle-reuse policy as
#: sources.tables._LOAD_CACHE so one session pays the pair join once.
_PAIRS_CACHE: dict[tuple[str, str, int], DataFrame] = {}
SESSION_CACHES.append(_PAIRS_CACHE)


def jaccard_pairs_materialized(
    spark: SparkSession, sf_dir: str, block_width: int = 40
) -> DataFrame:
    """The J2 pair graph (doc_a, doc_b only), eagerly materialized and
    cached per (session, sf): the label-propagation rounds reference it
    from several plan branches, and two declared queries share it."""
    key = (spark.sparkContext.applicationId, sf_dir, block_width)
    return cache_get_or_build(
        _PAIRS_CACHE,
        key,
        lambda: jaccard_pairs(
            load(spark, sf_dir, "documents"), block_width=block_width
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
    )


# MinHash parameters: 16 permutations in 4 bands of 4 rows.  The hash
# family is (a*x + b) mod p over the low 32 bits of md5(token) — the
# base hash is md5 (not crc32/xxhash) precisely so ANY engine can
# recompute the signature: both Spark (`conv(substring(md5,1,8),16,
# 10)`) and DuckDB (`('0x' || substring(md5,1,8))::BIGINT`) parse the
# same 8 hex chars to the same integer.  Fixed large odd multipliers
# (a well-mixed universal family) keep the signature deterministic
# across runs and partitionings.
_MH_PRIME = 4294967311  # smallest prime > 2^32
# Multipliers are < 2^30 so a*h < 2^62 never overflows int64
# (Spark runs ANSI mode: overflow would raise, not wrap).
_MH_AS = [
    664525013, 931386389, 822752279, 668265263, 374761393, 536870923,
    715827883, 611603851, 483570327, 998244353, 754974721, 469762049,
    920350133, 858993461, 741103597, 637534207,
]
_MH_BS = [1073741789 - 97 * i for i in range(16)]
_MH_PERMS = list(zip(_MH_AS, _MH_BS))
_MH_BAND_ROWS = 4


def _minhash_sig_cte(prefix: str = "WITH") -> str:
    """The signature-arithmetic SQL single home: shingles → md5-low-32
    hashes → ``sig(doc_id, mh0..mh15)``.  ``prefix`` lets a composing
    oracle that already opened its own WITH chain splice this in with
    a leading comma."""
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {_MH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(_MH_PERMS)
    )
    return f"""
    {prefix} sh AS (
      SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           (SELECT unnest(generate_series(1, 4096)) AS i)
      WHERE i <= len(l) - 1
    ),
    hv AS (SELECT doc_id,
                  ('0x' || substring(md5(token), 1, 8))::BIGINT AS h
           FROM sh),
    sig AS (SELECT doc_id,
             {mins}
            FROM hv GROUP BY doc_id)"""


def _band_rows_cte(band_rows: int = _MH_BAND_ROWS, name: str = "bands") -> str:
    """A ``{name}(doc_id, band, bucket)`` CTE over ``sig``, grouping
    the 16 signatures into bands of ``band_rows`` — parameterized so
    the staged band-tuning curve can evaluate (b, r) configurations
    other than the registered 4×4 from the SAME signature pass."""
    n_bands = len(_MH_PERMS) // band_rows
    body = "\n      UNION ALL ".join(
        "SELECT doc_id, {j} AS band, concat_ws('_', {cols}) AS bucket FROM sig".format(
            j=j,
            cols=", ".join(
                f"mh{j * band_rows + r}" for r in range(band_rows)
            ),
        )
        for j in range(n_bands)
    )
    return f""",
    {name} AS (
      {body}
    )"""


def _minhash_bands_cte() -> str:
    """The shared CTE prefix (shingles → 16 affine min-hashes →
    ``bands(doc_id, band, bucket)``), generated from the permutation
    constant table — appended with different final SELECTs by the
    candidate-pair oracle (J3) and the index-health oracle (M211)."""
    return _minhash_sig_cte() + _band_rows_cte() + "\n    "


def _minhash_oracle_sql() -> str:
    """DuckDB twin of dedup_minhash_lsh, generated from the SAME
    permutation constants: distinct word-bigram shingles → 16 affine
    min-hashes over md5-low-32 → 4 band buckets → distinct bucket-
    sharing pairs."""
    return (
        _minhash_bands_cte()
        + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
    """
    )


def minhash_sigs_frame(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Spark twin of the :func:`_minhash_sig_cte` prefix: one narrow
    pass from documents to ``sig(doc_id, mh0..mh15)`` — the signature
    arithmetic's single Spark home.  ``docs`` substitutes a pre-built
    ``(doc_id, text)`` frame for the table scan (scale probes)."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    shingles = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )
    tok = d.select("doc_id", F.explode(shingles).alias("token")).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    return tok.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)).alias(f"mh{i}")
            for i, (a, b) in enumerate(_MH_PERMS)
        ]
    )


def bands_from_sigs(
    sigs: DataFrame, band_rows: int = _MH_BAND_ROWS
) -> DataFrame:
    """``(doc_id, band, bucket)`` from a signature frame, grouping the
    16 min-hashes into bands of ``band_rows`` — the Spark twin of
    :func:`_band_rows_cte`, parameterized for the band-tuning curve
    (the registered J3 path always uses the default 4)."""
    n_bands = len(_MH_PERMS) // band_rows
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{j * band_rows + r}")
                                for r in range(band_rows)
                            ],
                        ).alias("bucket"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_bands_frame(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Spark twin of the :func:`_minhash_bands_cte` prefix: one narrow
    pass from documents to ``(doc_id, band, bucket)`` — shared by the
    J3 candidate join and the M211 index-health audit so the signature
    arithmetic exists exactly once.  ``docs`` substitutes a pre-built
    ``(doc_id, text)`` frame for the table scan (scale probes)."""
    return bands_from_sigs(minhash_sigs_frame(spark, sf_dir, docs=docs))


#: Session-shared J3 band table per (session, sf): FOUR registered
#: queries read this shape (J3 candidates, M211 band stats, and the
#: M212/M219 composed audits that run J3) — one signature pass serves
#: them all (the edges_materialized discipline; worth ~4-5 s in-suite
#: at sf0.1).
_BANDS_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_BANDS_CACHE)


def minhash_bands_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, band, bucket)`` eagerly materialized per (session,
    sf).  Callers that substitute their own docs frame (scale probes)
    keep using :func:`minhash_bands_frame` directly.

    Index persistence (the quantizer-env precedent, completing the
    artifact family's env wiring): when ``TROPOLOGY_MINHASH_INDEX_DIR``
    is set, a cold cache reads the band table from ``<dir>/bands_<sf>``
    if present (gated on the parquet ``_SUCCESS`` marker — a partial
    writer dir must trigger a rebuild) and writes it there after the
    signature pass otherwise — the signature scan runs at most once
    across sessions.  The driver contract never sets the env var, so
    registered-query behavior is unchanged by default.  For the
    plan-level benefit (zero-shuffle band joins) persist via
    :func:`minhash_write_index`, which keeps the bucketing metadata a
    plain parquet round-trip loses."""
    import os

    def build() -> DataFrame:
        idx_dir = os.environ.get("TROPOLOGY_MINHASH_INDEX_DIR")
        idx_path = None
        if idx_dir:
            idx_path = os.path.join(
                idx_dir, f"bands_{os.path.basename(os.path.normpath(sf_dir))}"
            )
            if os.path.exists(os.path.join(idx_path, "_SUCCESS")):
                return spark.read.parquet(idx_path).localCheckpoint(eager=True)
        bands = minhash_bands_frame(spark, sf_dir)
        if idx_path is not None:
            publish_parquet(bands, idx_path)  # atomic (ADVICE r13)
            return spark.read.parquet(idx_path).localCheckpoint(eager=True)
        return bands.localCheckpoint(eager=True)

    return cache_get_or_build(
        _BANDS_CACHE, (spark.sparkContext.applicationId, sf_dir), build
    )


def minhash_candidate_pairs(bands: DataFrame) -> DataFrame:
    """The J3 LSH candidate join over a ``(doc_id, band, bucket)``
    frame: distinct ordered pairs of docs sharing any band bucket.
    Single home of the band-bucket equi-join — shared by the
    registered query below and tools/scale_probes/minhash_scale.py
    (ADVICE r7: the probe must time the EXACT registered join path,
    not a hand-rewrite)."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_MH_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_MH_PAIRS_CACHE)


def minhash_pairs_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered J3 candidate-pair frame ``(doc_a, doc_b)`` at
    the production band config, eagerly materialized once per
    (session, sf_dir) — shared by dedup_minhash_lsh and every
    composed consumer of the J3 candidate set (cluster3, the
    estimator audit, the method-overlap/survivorship compositions via
    QUERIES); each used to re-run the band-bucket join + DISTINCT
    (round-19).  Probe (``docs=``) and non-default band configs keep
    calling :func:`minhash_candidate_pairs` directly."""
    from tropology_spark.sources.tables import cache_get_or_build

    def build() -> DataFrame:
        from tropology_spark.session import iter_materialize

        return iter_materialize(
            minhash_candidate_pairs(minhash_bands_materialized(spark, sf_dir))
        )

    return cache_get_or_build(
        _MH_PAIRS_CACHE, (spark.sparkContext.applicationId, sf_dir), build
    )


@register("dedup_minhash_lsh", oracle=_minhash_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — MinHash-LSH near-dup candidates, the 100 TB-scale
    replacement for J2's pair enumeration.

    One narrow pass computes 16 min-hashes per doc (explode tokens →
    groupBy min per permutation — map-side combinable), bands of 4 are
    hashed to buckets, and candidate pairs are docs sharing any band
    bucket.  Shingles are word 2-grams — unigrams carry no signal
    against the fixtures' 31-word vocabulary.

    Full SQL oracle (upgraded from rows-only): because the base hash
    is md5-low-32 and the permutations are fixed integer constants,
    the entire sketch is portable arithmetic — the DuckDB twin is
    generated from the same constant table, so the driver hash-compares
    the candidate set exactly.  Recall against J2's confirmed pairs is
    additionally pinned by tests/test_units.py.  Round-19: served
    from the session-shared :func:`minhash_pairs_materialized` view."""
    return minhash_pairs_materialized(spark, sf_dir)


# --------------------------------------------------------------------------
# SimHash (north-star dedup family; BASELINE.json north star lists
# exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine).
# --------------------------------------------------------------------------

_SH_BITS = 32  # simhash width: 8 md5 nibbles x 4 bits
_SH_HAMMING_MAX = 6


def _simhash_sql() -> str:
    """DuckDB SQL computing the 32-bit simhash per doc (generated — 32
    bit-majority expressions over 8 md5 nibbles of each distinct
    token)."""
    nibs = ", ".join(
        f"strpos('0123456789abcdef', substring(md5(token), {j + 1}, 1)) - 1 AS nib{j}"
        for j in range(8)
    )
    bits = " + ".join(
        f"(CASE WHEN sum(((nib{p // 4} >> {p % 4}) & 1) * 2 - 1) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(_SH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, l[i] || ' ' || l[i + 1] AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             (SELECT unnest(generate_series(1, 4096)) AS i)
        WHERE i <= len(l) - 1
      )
    ),
    nib AS (SELECT doc_id, {nibs} FROM tok),
    sh AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM nib GROUP BY doc_id),
    keyed AS (SELECT doc_id, simhash,
                     simhash >> 16 AS hi, simhash & 65535 AS lo FROM sh),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sa, b.simhash AS sb
      FROM keyed a JOIN keyed b ON a.hi = b.hi AND a.doc_id < b.doc_id
      UNION
      SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
      FROM keyed a JOIN keyed b ON a.lo = b.lo AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {_SH_HAMMING_MAX}
    """


#: Session-shared SimHash signature table per (session, sf): the M1
#: pair query and the M219 survivorship composition both read it —
#: one Charikar vote pass serves both (the bands-cache discipline).
_SIMHASH_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_SIMHASH_CACHE)


def simhash_keyed_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, simhash, hi, lo)`` eagerly materialized per
    (session, sf)."""
    return cache_get_or_build(
        _SIMHASH_CACHE,
        (spark.sparkContext.applicationId, sf_dir),
        lambda: _simhash_keyed_frame(spark, sf_dir).localCheckpoint(eager=True),
    )


@register("dedup_simhash", oracle=_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit token-majority signature (bits
    from md5 nibbles — portable across engines, unlike engine hash
    functions), LSH-blocked on the two 16-bit halves, confirmed by
    Hamming distance <= 6.

    The classic Charikar scheme: each shingle votes ±1 per bit
    position; the signature keeps the majority sign, so near-identical
    shingle sets flip few bits.  Shingles are word 2-grams — unigram
    votes saturate against the fixtures' 31-word vocabulary (870
    identical signatures among unrelated docs, measured).  At 100 TB
    the half-key blocking bounds the join exactly like MinHash
    banding."""
    keyed = simhash_keyed_materialized(spark, sf_dir)
    a, b = keyed.alias("a"), keyed.alias("b")
    lt = F.col("a.doc_id") < F.col("b.doc_id")
    pair_cols = [
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("sa"),
        F.col("b.simhash").alias("sb"),
    ]
    cand = (
        a.join(b, (F.col("a.hi") == F.col("b.hi")) & lt).select(*pair_cols)
        .unionByName(a.join(b, (F.col("a.lo") == F.col("b.lo")) & lt).select(*pair_cols))
        .distinct()
    )
    hamming = F.expr("bit_count(sa ^ sb)")
    return (
        cand.filter(hamming <= _SH_HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
    )


def _simhash_keyed_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Charikar signature pass: distinct word-2-gram shingles →
    per-bit ±1 votes → 32-bit majority signature with its two 16-bit
    LSH half keys."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    toked = d.select("doc_id", toks.alias("t"))
    shingles = F.array_distinct(
        F.zip_with(
            F.slice(F.col("t"), 1, F.greatest(F.size(F.col("t")) - 1, F.lit(0))),
            F.slice(F.col("t"), 2, F.greatest(F.size(F.col("t")) - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )
    tok = toked.select("doc_id", F.explode(shingles).alias("token"))
    nib = tok.select(
        "doc_id",
        *[
            (F.expr(f"instr('0123456789abcdef', substring(md5(token), {j + 1}, 1))") - 1)
            .alias(f"nib{j}")
            for j in range(8)
        ],
    )
    bit_sums = [
        F.sum(F.shiftright(F.col(f"nib{p // 4}"), p % 4).bitwiseAND(F.lit(1)) * 2 - 1).alias(
            f"w{p}"
        )
        for p in range(_SH_BITS)
    ]
    weights = nib.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        (F.when(F.col(f"w{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0)))
        for p in range(_SH_BITS)
    )
    return weights.select(
        "doc_id",
        simhash.cast("bigint").alias("simhash"),
    ).select(
        "doc_id",
        "simhash",
        F.shiftright(F.col("simhash"), 16).alias("hi"),
        F.col("simhash").bitwiseAND(F.lit(65535)).alias("lo"),
    )


def _embedding_cosine_oracle() -> str:
    # Deferred import keeps the module header light; similarity.py
    # does not import dedup, so this is cycle-free at registration.
    from tropology_spark.operators.similarity import KNN_ASSIGN_CTE

    return (
        KNN_ASSIGN_CTE
        + f"""
    , d AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(ea.val * eb.val) AS dp
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN ex ea ON ea.vec_id = a.vec_id
      JOIN ex eb ON eb.vec_id = b.vec_id AND ea.pos = eb.pos
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_a, vec_b, round(d.dp / (na.nv * nb.nv), 6) AS cosine
    FROM d JOIN nrm na ON vec_a = na.vec_id JOIN nrm nb ON vec_b = nb.vec_id
    WHERE round(d.dp / (na.nv * nb.nv), 6) >= {_EMB_COS_MIN}
    """
    )


#: M2 near-dup threshold: the fixtures' embeddings are near-orthogonal
#: random vectors (within-cell max cosine ~0.47), so the threshold
#: sits where the fixture has genuine positives; with real near-dup
#: embeddings the same query runs at ~0.95.
_EMB_COS_MIN = 0.4


@register("dedup_embedding_cosine", oracle=_embedding_cosine_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the LEARNED coarse-
    quantizer cell (cosine >= {t}) — round-7 rewrite (VERDICT r6 item
    3): the old block was the STORED label, within-block all-pairs,
    which grows quadratically per label at scale; the block is now the
    ceil(sqrt(n))-cell quantizer J9 already trains (session-shared via
    ``quantizer_assign_materialized``), so cell count AND expected
    population both grow as sqrt(n), bounding the within-block pair
    count at O(n^1.5) — and cells are REAL clusters (Lloyd-refined),
    so near-dup recall inside a cell beats an arbitrary label block.
    The oracle composes ``KNN_ASSIGN_CTE`` verbatim, the single SQL
    home of the cell arithmetic (the _J2_ORACLE rule).

    Round-19 optimization: served from the session-shared
    :func:`embedding_cosine_materialized` view — three registered
    queries consume the identical pair frame (this one + the M189
    cluster closure + the M257 threshold curve), and each used to
    re-run the full cell-blocked pair join."""
    return embedding_cosine_materialized(spark, sf_dir)


_EMB_COS_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_EMB_COS_CACHE)


def embedding_cosine_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered M2 pair frame ``(vec_a, vec_b, cosine)``
    (cosine ≥ the 0.4 threshold, quantizer-cell-blocked), eagerly
    materialized once per (session, sf_dir) — shared by
    dedup_embedding_cosine, dedup_embedding_clusters (M189) and
    dedup_threshold_curve (M257)."""
    from tropology_spark.sources.tables import cache_get_or_build

    def build() -> DataFrame:
        from tropology_spark.session import iter_materialize

        return iter_materialize(_embedding_cosine_frame(spark, sf_dir))

    return cache_get_or_build(
        _EMB_COS_CACHE, (spark.sparkContext.applicationId, sf_dir), build
    )


def _embedding_cosine_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tropology_spark.operators.similarity import (
        dot,
        quantizer_assign_materialized,
    )

    e, assign = quantizer_assign_materialized(spark, sf_dir)
    ea = e.join(assign, "vec_id").select(
        F.col("vec_id").alias("vec_a"), F.col("cell"),
        F.col("emb").alias("ea"), F.col("nv").alias("na"),
    )
    eb = e.join(assign, "vec_id").select(
        F.col("vec_id").alias("vec_b"), F.col("cell").alias("cb"),
        F.col("emb").alias("eb"), F.col("nv").alias("nb"),
    )
    cos = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    return (
        ea.join(eb, (F.col("cell") == F.col("cb")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= _EMB_COS_MIN)
    )


dedup_embedding_cosine.__doc__ = dedup_embedding_cosine.__doc__.format(t=_EMB_COS_MIN)


# ---------------------------------------------------------------------------
# M95 — containment near-dup pairs (asymmetric overlap)
# ---------------------------------------------------------------------------

_CONTAIN_NUM = 4  # containment threshold 4/5 = 0.8, held as integers
_CONTAIN_DEN = 5


@register(
    "dedup_containment",
    oracle=f"""
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
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS size_a,
           CAST(sb.n AS BIGINT) AS size_b,
           CAST(n_common AS DOUBLE) / sa.n AS contain_a,
           CAST(n_common AS DOUBLE) / sb.n AS contain_b
    FROM inter
    JOIN siz sa ON doc_a = sa.doc_id
    JOIN siz sb ON doc_b = sb.doc_id
    WHERE n_common * {_CONTAIN_DEN} >= {_CONTAIN_NUM} * least(sa.n, sb.n)
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M95 — near-containment pairs: the smaller document's token set
    is >= {n}/{d} inside the other's.  Catches the quote/excerpt/
    boilerplate-wrapper duplicates Jaccard misses (a short doc embedded
    in a long one has low Jaccard but high containment — the dedup
    literature's C(A,B) = |A∩B|/|A|).  The threshold compares
    cross-multiplied integers; the reported containments are single
    divisions of exact integers (bit-identical both engines).

    Shares J2's prefix blocking and intersection shape (same recall
    precondition, see ``jaccard_pairs``); at 100 TB the scale path is
    MinHash with containment-calibrated banding instead of the
    prefix."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.substring(F.col("text"), 1, 40).alias("pfx"),
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    siz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.alias("a")
    b = tok.alias("b")
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
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_common") * _CONTAIN_DEN
            >= _CONTAIN_NUM * F.least(F.col("na"), F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("na").cast("bigint").alias("size_a"),
            F.col("nb").cast("bigint").alias("size_b"),
            (F.col("n_common").cast("double") / F.col("na")).alias("contain_a"),
            (F.col("n_common").cast("double") / F.col("nb")).alias("contain_b"),
        )
    )


# ---------------------------------------------------------------------------
# M126 — LSH recall/precision audit (the dedup counterpart of M112)
# ---------------------------------------------------------------------------

# The audit's DuckDB truth is the REGISTERED J2 oracle, not a copy: the
# Spark side calls QUERIES['dedup_jaccard_pairs'], so any future edit to
# J2 propagates to both halves of the recall audit at once.
_J2_ORACLE = ORACLES["dedup_jaccard_pairs"]


@register(
    "dedup_lsh_recall",
    oracle=f"""
    WITH truth AS (SELECT doc_a, doc_b FROM ({{j2}}) t),
    cand AS (SELECT doc_a, doc_b FROM ({{lsh}}) c),
    hit AS (SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cand)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / greatest((SELECT count(*) FROM cand), 1), 6) AS precision
    """.format(j2=_J2_ORACLE, lsh=_minhash_oracle_sql()),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M126 — the dedup counterpart of the ANN recall audit (M112):
    run BOTH registered near-dup pipelines — exact prefix-blocked
    Jaccard (J2, ground truth at threshold 0.5) and MinHash-LSH
    candidates (J3) — and report hit counts plus recall/precision as
    one audit row.  The ratios divide exact integers and are rounded
    once.  This is the table that justifies shipping LSH at 100 TB:
    the exact pipeline cannot run there, so its agreement with LSH is
    measured at oracle scale per corpus snapshot."""
    from tropology_spark import QUERIES

    # Checkpoint both sides: each is referenced twice (its own count +
    # the intersect), and Spark re-runs the full pair pipeline per
    # reference otherwise (25 exchanges measured, 7 after).
    truth = (
        QUERIES["dedup_jaccard_pairs"](spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    cand = (
        QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    hit = truth.intersect(cand)
    # Fully declarative (the M112 shape): three single-row aggregates
    # crossJoined — broadcast-of-one-row scalar attaches, no
    # driver-side collect.
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.greatest(F.col("n_true"), F.lit(1)), 6
            ).alias("recall"),
            F.round(
                F.col("n_hit").cast("double")
                / F.greatest(F.col("n_candidates"), F.lit(1)),
                6,
            ).alias("precision"),
        )
    )


# ---------------------------------------------------------------------------
# M141 — per-document top-k most-similar neighbors (integer-ppm rank)
# ---------------------------------------------------------------------------


@register(
    "dedup_topk_similar",
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
      SELECT doc_a, doc_b, n_common,
             (1000000 * n_common) // (sa.n + sb.n - n_common) AS jaccard_ppm
      FROM inter
      JOIN siz sa ON doc_a = sa.doc_id
      JOIN siz sb ON doc_b = sb.doc_id
      WHERE 2 * n_common >= (sa.n + sb.n - n_common)
    ),
    und AS (
      SELECT doc_a AS doc_id, doc_b AS neighbor_id, jaccard_ppm FROM pairs
      UNION ALL
      SELECT doc_b, doc_a, jaccard_ppm FROM pairs
    )
    SELECT doc_id, neighbor_id,
           CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm,
           CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY jaccard_ppm DESC, neighbor_id) AS rn
          FROM und) t
    WHERE rn <= 3
    """,
)
def dedup_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M141 — per-document top-3 most-similar neighbors over the J2
    candidate graph, ranked by INTEGER-ppm Jaccard
    ((10⁶·|∩|) // |∪| — no float carrier, unique neighbor-id
    tie-break): the "which copy do I drop, and how close was it"
    review table a dedup pipeline publishes next to its keep
    decisions.  The >= 0.5 gate is applied as the exact integer
    cross-multiplication 2·|∩| >= |∪|.

    Scale: candidate generation is J2's prefix-blocked join (at 100 TB
    swap in J3's LSH candidates — same downstream rank); the mirror is
    a unionAll (no shuffle) and the top-3 is a per-key window over
    each doc's candidates only."""
    # Checkpoint the half pair table before the mirror: both unionAll
    # branches would otherwise re-run the J2 token self-join (the
    # store-half/mirror-lazy rule, graph.py::_copair_build).
    pairs = jaccard_pairs(
        load(spark, sf_dir, "documents"), block_width=40, include_sizes=True
    ).select(
        "doc_a",
        "doc_b",
        # Integer div, not float-division-then-cast: matches the
        # oracle's `//` and the repo-wide no-float-carrier rule
        # (operands are non-negative, so div == floor — ADVICE r5).
        F.expr("(1000000 * n_common) div (na + nb - n_common)")
        .cast("bigint")
        .alias("jaccard_ppm"),
    ).localCheckpoint(eager=True)
    und = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor_id"),
        "jaccard_ppm",
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor_id"),
            "jaccard_ppm",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard_ppm").desc(), F.col("neighbor_id")
    )
    return und.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(
        F.col("rn") <= 3
    )


# ---------------------------------------------------------------------------
# M189 — semantic near-dup clusters (CC over the cosine pair graph)
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (SELECT vec_a, vec_b FROM ({{cos}}) t),
    bi AS (SELECT vec_a AS u, vec_b AS v FROM pairs
           UNION ALL SELECT vec_b, vec_a FROM pairs),
    walk(node, lab) AS (
        SELECT u, u FROM bi
        UNION
        SELECT bi.v, walk.lab FROM walk JOIN bi ON walk.node = bi.u
    ),
    comp AS (SELECT node, min(lab) AS cluster_id FROM walk GROUP BY node)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(node) AS BIGINT) AS max_vec,
           CAST(sum(node) AS BIGINT) AS id_checksum
    FROM comp GROUP BY cluster_id
    """.format(cos=ORACLES["dedup_embedding_cosine"]),
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M189 — semantic dedup clusters: the M2 cosine near-dup PAIRS
    closed into connected components, rolled up per cluster (id = min
    member, size, max member, id checksum) — pairs alone under-count
    duplication (A≈B, B≈C but A~C below threshold still form ONE
    redundancy group); the cluster is what M24-style canonical
    selection actually operates on.  Composes two registered pieces:
    the M2 pair query (oracle composed verbatim — the _J2_ORACLE
    rule) and the M8 Hash-to-Min CC loop (strict convergence).

    Node ids ride through the string CC engine zero-padded to 20
    digits so the propagation's lexicographic min IS the numeric min
    the oracle computes (CAST back strips the padding).

    Scale: the pair graph is the output of banded/blocked dedup —
    orders of magnitude smaller than the corpus — and the CC loop is
    the O(log d)-round machinery already proven on the full bipartite
    graph; the rollup is one shuffle on cluster id.  Singleton
    documents never enter (no pair, no row) — by design: the cluster
    table is consumed as a worklist of redundancy groups."""
    from tropology_spark.operators.graph import connected_components

    # round-19: the session-shared M2 pair view (already checkpointed
    # — its pin serves the two bi-union references below)
    pairs = embedding_cosine_materialized(spark, sf_dir).select("vec_a", "vec_b")
    pad = lambda c: F.lpad(F.col(c).cast("string"), 20, "0")  # noqa: E731
    bi = pairs.select(pad("vec_a").alias("u"), pad("vec_b").alias("v")).unionByName(
        pairs.select(pad("vec_b").alias("u"), pad("vec_a").alias("v"))
    )
    labels = connected_components(bi, strict=True)
    return (
        labels.select(
            F.col("comp").cast("bigint").alias("cluster_id"),
            F.col("node").cast("bigint").alias("vec"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("vec").cast("bigint").alias("max_vec"),
            F.sum("vec").cast("bigint").alias("id_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# M211 — LSH index health (band/bucket load audit)
# ---------------------------------------------------------------------------


@register(
    "dedup_lsh_band_stats",
    oracle=_minhash_bands_cte()
    + """
    , sz AS (
      SELECT band, bucket, CAST(count(*) AS BIGINT) AS sz
      FROM bands GROUP BY 1, 2
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
    FROM sz GROUP BY band
    """,
)
def dedup_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M211 — the LSH INDEX-HEALTH audit: per band, how many buckets
    exist, how loaded the worst bucket is, and how many candidate
    pairs the band generates (Σ C(sz,2)) — the numbers that size J3's
    dedup run BEFORE it executes.  cand_pairs is exactly the band's
    join output volume, so a band whose max_bucket explodes (a
    degenerate bucket: empty docs, template shingles) is visible here
    as cost, not as an OOM mid-join; production LSH caps or splits
    such buckets first.  Completes the index-audit set: recall
    (M126 / M178 / M182) measures quality, this measures cost.

    Both sides derive from the SAME signature construction —
    :func:`minhash_bands_frame` / :func:`_minhash_bands_cte`, the
    code J3 itself runs — so the audit can never drift from the index
    (the _J2_ORACLE discipline applied to shared helpers).

    Scale: the (band, bucket) rollup combines map-side; the per-band
    rollup is 4 keys.  Nothing here touches the pair join itself —
    the point is that this audit is O(docs·bands), run before
    committing to the O(Σ C(sz,2)) join."""
    bands = minhash_bands_materialized(spark, sf_dir)
    sz = bands.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return sz.groupBy(F.col("band").cast("bigint").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("bigint").alias("cand_pairs"),
    )


# ---------------------------------------------------------------------------
# M219 — cross-method dedup survivorship report (composed audit)
# ---------------------------------------------------------------------------


def _survivorship_oracle() -> str:
    """Composed oracle: wraps the three registered dedup-method oracles
    verbatim (the M209/M212 discipline) — each method's semantics exist
    in exactly one place."""
    return f"""
    WITH exg AS ({ORACLES['dedup_exact']}),
    mhg AS ({ORACLES['dedup_minhash_lsh']}),
    shg AS ({ORACLES['dedup_simhash']}),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT 'exact' AS method, n_docs,
           CAST((SELECT sum(n_copies) FROM exg)
                - (SELECT count(*) FROM exg) AS BIGINT) AS n_removed,
           CAST((SELECT count(*) FROM exg) AS BIGINT) AS n_survivors
    FROM nd
    UNION ALL
    SELECT 'minhash_lsh' AS method, n_docs,
           CAST((SELECT count(DISTINCT doc_b) FROM mhg) AS BIGINT) AS n_removed,
           n_docs - CAST((SELECT count(DISTINCT doc_b) FROM mhg) AS BIGINT)
             AS n_survivors
    FROM nd
    UNION ALL
    SELECT 'simhash' AS method, n_docs,
           CAST((SELECT count(DISTINCT doc_b) FROM shg) AS BIGINT) AS n_removed,
           n_docs - CAST((SELECT count(DISTINCT doc_b) FROM shg) AS BIGINT)
             AS n_survivors
    FROM nd
    """


@register("dedup_survivorship_report", oracle=_survivorship_oracle())
def dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M219 — the cross-method summary a curation user reads FIRST:
    for each dedup method (exact J1, MinHash-LSH J3, SimHash M1), how
    many documents its keep-smallest-id policy removes and how many
    survive.  Removal rules are each method's own: exact removes the
    non-representative members of every identical-hash group
    (Σcopies − groups); the pair-based methods remove every document
    that appears as the LARGER id of any candidate pair (doc_b —
    keep-first survivorship on the candidate graph; transitive-cluster
    canonicalization is M24's separate, more aggressive policy).

    Composed, not copied: the oracle wraps ORACLES['dedup_exact'/'
    dedup_minhash_lsh'/'dedup_simhash'] verbatim, and the Spark side
    runs the three REGISTERED queries — method semantics live in one
    place each.  Scale: each branch reduces its method's output to one
    row before the 3-row union; the corpus count is computed once and
    broadcast into every branch (the 1-row frame is checkpointed — it
    is referenced from all three, DOUBLE-REFERENCE RULE)."""
    from tropology_spark.registry import QUERIES
    from tropology_spark.session import iter_materialize

    nd = iter_materialize(
        load(spark, sf_dir, "documents").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )
    )
    ex = QUERIES["dedup_exact"](spark, sf_dir).agg(
        (F.sum("n_copies") - F.count(F.lit(1))).cast("bigint").alias("n_removed"),
        F.count(F.lit(1)).cast("bigint").alias("n_survivors"),
    )
    exact = nd.crossJoin(F.broadcast(ex)).select(
        F.lit("exact").alias("method"), "n_docs", "n_removed", "n_survivors"
    )

    def pair_branch(name: str, label: str) -> DataFrame:
        rem = QUERIES[name](spark, sf_dir).agg(
            F.countDistinct("doc_b").cast("bigint").alias("n_removed")
        )
        return nd.crossJoin(F.broadcast(rem)).select(
            F.lit(label).alias("method"),
            "n_docs",
            "n_removed",
            (F.col("n_docs") - F.col("n_removed")).cast("bigint").alias("n_survivors"),
        )

    return exact.unionByName(
        pair_branch("dedup_minhash_lsh", "minhash_lsh")
    ).unionByName(pair_branch("dedup_simhash", "simhash"))


def minhash_write_index(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Persist the J3 MinHash band table ``(doc_id, band, bucket)`` as
    a catalog table bucketed on the JOIN key (band, bucket) — the LSH
    sibling of similarity.quantizer_write_index: at 100 TB the
    signature pass runs once per corpus version, the band table ships
    as an artifact, and every candidate join (dedup runs, incremental
    probes, the M211 health audit) reads both sides pre-partitioned —
    zero shuffle on the fat side (pinned by tests/test_bucketing.py::
    test_minhash_index_persist_reload)."""
    bands = minhash_bands_materialized(spark, sf_dir)
    w = (
        bands.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "band", "bucket")
        .sortBy("band", "bucket")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def minhash_read_index(spark: SparkSession, table: str) -> DataFrame:
    """Reload a :func:`minhash_write_index` artifact (bucket spec
    carried by the catalog)."""
    return spark.table(table)


# ---------------------------------------------------------------------------
# M257 dedup_threshold_curve — near-dup pair counts across cosine thresholds
# ---------------------------------------------------------------------------

_CURVE_T_PPM = (400000, 600000, 800000)


def _threshold_curve_oracle() -> str:
    ts = ", ".join(str(t) for t in _CURVE_T_PPM)
    return f"""
    WITH pairs AS ({ORACLES['dedup_embedding_cosine']}),
    ts AS (SELECT unnest([{ts}]) AS t_ppm),
    pe AS (SELECT ts.t_ppm, p.vec_a, p.vec_b
           FROM pairs p JOIN ts ON round(p.cosine * 1000000) >= ts.t_ppm),
    np AS (SELECT t_ppm, CAST(count(*) AS BIGINT) AS n_pairs
           FROM pe GROUP BY t_ppm),
    du AS (SELECT t_ppm, vec_a AS d FROM pe
           UNION SELECT t_ppm, vec_b FROM pe),
    nd AS (SELECT t_ppm, CAST(count(*) AS BIGINT) AS n_docs
           FROM du GROUP BY t_ppm)
    SELECT CAST(ts.t_ppm AS BIGINT) AS t_ppm,
           CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
    FROM ts LEFT JOIN np ON ts.t_ppm = np.t_ppm
            LEFT JOIN nd ON ts.t_ppm = nd.t_ppm
    """


@register("dedup_threshold_curve", oracle=_threshold_curve_oracle())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M257 — the NEAR-DUP THRESHOLD CURVE: pair and
    affected-document counts at cosine ≥ 0.4/0.6/0.8 over the
    quantizer-cell-blocked pair set — the tuning audit every dedup
    rollout runs before picking its cutoff (too low deletes distinct
    content; too high ships duplicates; this table IS that tradeoff).
    Thresholds compare as exact integers (round(cosine·10⁶) vs ppm).
    All three threshold rows are always emitted (LEFT joins from the
    threshold axis).

    Composed, not copied: the oracle wraps ORACLES
    ['dedup_embedding_cosine'] verbatim and the Spark side runs the
    registered M2 query (the _J2_ORACLE rule); the pair set reuses the
    session-shared quantizer blocking AND (round-19) the session-shared
    M2 pair view itself, so the curve costs bounded rollups only."""
    from tropology_spark.session import iter_materialize

    pairs = embedding_cosine_materialized(spark, sf_dir)
    ts = spark.createDataFrame([(t,) for t in _CURVE_T_PPM], "t_ppm long")
    pe = iter_materialize(
        pairs.select(
            "vec_a",
            "vec_b",
            F.round(F.col("cosine") * 1000000).cast("bigint").alias("c_ppm"),
        )
        .crossJoin(F.broadcast(ts))
        .filter(F.col("c_ppm") >= F.col("t_ppm"))
        .select("t_ppm", "vec_a", "vec_b")
    )  # referenced by the pair rollup AND the doc-union rollup
    np_ = pe.groupBy("t_ppm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    du = (
        pe.select("t_ppm", F.col("vec_a").alias("d"))
        .union(pe.select("t_ppm", F.col("vec_b").alias("d")))
        .distinct()
    )
    nd = du.groupBy("t_ppm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return (
        ts.join(np_, "t_ppm", "left")
        .join(nd, "t_ppm", "left")
        .select(
            F.col("t_ppm").cast("bigint").alias("t_ppm"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# M261 dedup_cluster3 — 3-round min-label clusters over the LSH candidate
# graph.  graph.min_label_rounds is the SINGLE HOME of the Spark-side
# propagation arithmetic (shared with mm_phash_clusters, M266, and the M24
# canonical labels); _minlabel_steps_sql below stays the independent SQL
# oracle of both dedup_cluster3 and mm_phash_clusters.
# ---------------------------------------------------------------------------


#: One synchronous min-label round as SQL — shared by the dedup_cluster3
#: oracle (over the J3 LSH graph) and the mm_phash_clusters oracle (over
#: the M99 pHash graph).  Expects CTEs ``und(u, v)`` (both edge
#: directions) and ``l{p}(doc_id, lbl)`` in scope.
_MINLABEL_STEP_SQL = """
    l{n} AS (
      SELECT l{p}.doc_id,
             least(l{p}.lbl, coalesce(min(nb.lbl), l{p}.lbl)) AS lbl
      FROM l{p} LEFT JOIN und ON und.u = l{p}.doc_id
                LEFT JOIN l{p} nb ON nb.doc_id = und.v
      GROUP BY l{p}.doc_id, l{p}.lbl
    )"""


def _minlabel_steps_sql(rounds: int = 3) -> str:
    return ",".join(
        _MINLABEL_STEP_SQL.format(n=n, p=n - 1) for n in range(1, rounds + 1)
    )


def _cluster3_oracle() -> str:
    return (
        _minhash_bands_cte()
        + """
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id
    ),
    und AS (SELECT doc_a AS u, doc_b AS v FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
    l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),"""
        + _minlabel_steps_sql(3)
        + """
    SELECT doc_id, CAST(lbl AS BIGINT) AS label3 FROM l3
    """
    )


@register("dedup_cluster3", oracle=_cluster3_oracle())
def dedup_cluster3(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M261 — near-dup CLUSTER ASSIGNMENT by 3-round min-label
    propagation over the J3 MinHash-LSH candidate graph: every doc
    starts as its own label; each round takes the min over itself and
    its LSH neighbors — after 3 rounds every doc in a candidate
    component of diameter ≤ 3 carries the component's minimum doc_id,
    the cluster representative a dedup DROP stage keys on (J3 emits
    PAIRS; production needs the transitive grouping — pairs (a,b),
    (b,c) must drop against ONE keeper, not two).  The bounded-round
    unroll is the M130/I8 discipline: exact in both engines, no
    iterate-to-fixpoint in the oracle, and diameter > 3 components
    (rare for near-dup graphs, which are dense cliques by
    construction) converge in the registered CC operator (M8) —
    documented stepping-stone semantics.

    Composed, not copied: the oracle extends _minhash_bands_cte (the
    J3/M211 single home) and the Spark side reads the session-shared
    minhash_bands_materialized through minhash_candidate_pairs.
    Scale: the rounds are graph.min_label_rounds — one join + one
    min-aggregation on the doc key per round, one checkpoint at the
    end.

    ``docs=`` substitutes the document frame — (doc_id, text) — for
    the weak-scaling probe (tools/scale_probes/cluster3_scale.py, via
    minhash_bands_frame); the driver contract never passes it."""
    from tropology_spark.operators.graph import min_label_rounds
    from tropology_spark.session import iter_materialize

    # Materialized: all three rounds read the pair list.
    pairs = (
        iter_materialize(
            minhash_candidate_pairs(minhash_bands_frame(spark, sf_dir, docs=docs))
        )
        if docs is not None
        else minhash_pairs_materialized(spark, sf_dir)
    )
    und = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    lab = (
        docs if docs is not None else load(spark, sf_dir, "documents")
    ).select("doc_id", F.col("doc_id").alias("lbl"))
    lab = min_label_rounds(und, lab, 3)
    return lab.select("doc_id", F.col("lbl").cast("bigint").alias("label3"))


# ---------------------------------------------------------------------------
# M264 dedup_band_curve — LSH (bands x rows) tuning curve from ONE
# signature pass
# ---------------------------------------------------------------------------

_BAND_CURVE_RS = (2, 4, 8)


def _band_curve_oracle() -> str:
    parts = [
        "WITH truth AS (SELECT doc_a, doc_b FROM ({j2}) t)".format(
            j2=ORACLES["dedup_jaccard_pairs"]
        ),
        _minhash_sig_cte(prefix=","),
    ]
    rows = []
    for r in _BAND_CURVE_RS:
        parts.append(_band_rows_cte(r, f"bands{r}"))
        parts.append(
            f""",
    cand{r} AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands{r} a JOIN bands{r} b
                 ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id),
    hit{r} AS (SELECT doc_a, doc_b FROM truth
               INTERSECT SELECT doc_a, doc_b FROM cand{r})"""
        )
        rows.append(
            f"""SELECT CAST({r} AS BIGINT) AS band_rows,
           CAST({16 // r} AS BIGINT) AS n_bands,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM cand{r}) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hit{r}) AS BIGINT) AS n_hit,
           round(CAST((SELECT count(*) FROM hit{r}) AS DOUBLE)
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall,
           round(CAST((SELECT count(*) FROM hit{r}) AS DOUBLE)
                 / greatest((SELECT count(*) FROM cand{r}), 1), 6) AS precision"""
        )
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(rows)


@register("dedup_band_curve", oracle=_band_curve_oracle())
def dedup_band_curve(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M264 — the LSH BAND-CONFIGURATION tuning curve: from
    the SAME 16 min-hash signatures, evaluate the three (bands x rows)
    groupings 8x2 / 4x4 / 2x8 against the exact prefix-blocked Jaccard
    truth (J2, threshold 0.5) and report candidate volume, hits,
    recall and precision per configuration — the (b, r) axis of the
    S-curve P(candidate) = 1 - (1 - J^r)^b that M126 fixes at the
    registered 4x4 and sim_ivf_probe_curve (M263) covers for IVF.
    Fewer rows per band (r=2) recalls aggressively at the cost of
    candidate volume; r=8 is near-exact-match only.  The tuning table
    IS how an operator picks a config before committing a 100 TB LSH
    pass.

    Composed, not copied: the truth branch runs the registered J2
    pipeline; the signature pass is minhash_sigs_frame (the J3/M211
    single home, computed ONCE and checkpointed — only the cheap band
    regrouping runs per config); the candidate join is
    minhash_candidate_pairs, the exact registered path.  Counts are
    exact BIGINTs; the two ratios divide identical integers in both
    engines and are rounded once (the M126 discipline).  Scale: the
    signature pass dominates and is shared; each config adds one
    band-bucket equi-join, never an all-pairs product.

    ``docs=`` substitutes the document frame for weak-scaling probes
    (tools/scale_probes/bandcurve_scale.py); the driver contract
    never passes it."""
    from tropology_spark.registry import QUERIES
    from tropology_spark.session import iter_materialize

    truth = iter_materialize(
        (
            jaccard_pairs(docs, block_width=40)
            if docs is not None
            else QUERIES["dedup_jaccard_pairs"](spark, sf_dir)
        ).select("doc_a", "doc_b")
    )
    sigs = iter_materialize(minhash_sigs_frame(spark, sf_dir, docs=docs))
    out = None
    for r in _BAND_CURVE_RS:
        cand = iter_materialize(
            minhash_candidate_pairs(bands_from_sigs(sigs, band_rows=r))
        )
        hit = truth.intersect(cand)
        n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        n_hit = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
        row = (
            n_true.crossJoin(n_cand)
            .crossJoin(n_hit)
            .select(
                F.lit(r).cast("bigint").alias("band_rows"),
                F.lit(16 // r).cast("bigint").alias("n_bands"),
                "n_true",
                "n_candidates",
                "n_hit",
                F.round(
                    F.col("n_hit").cast("double")
                    / F.greatest(F.col("n_true"), F.lit(1)),
                    6,
                ).alias("recall"),
                F.round(
                    F.col("n_hit").cast("double")
                    / F.greatest(F.col("n_candidates"), F.lit(1)),
                    6,
                ).alias("precision"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("band_rows")


# ---------------------------------------------------------------------------
# dedup_minhash_estimate_error — signature-agreement estimate vs exact Jaccard
# (M284)
# ---------------------------------------------------------------------------


def _minhash_est_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(len(_MH_PERMS))
    )
    return (
        _minhash_sig_cte()
        + _band_rows_cte()
        + f"""
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    agr AS (
      SELECT c.doc_a, c.doc_b,
             CAST({agree} AS BIGINT) AS agree
      FROM cand c JOIN sig a ON a.doc_id = c.doc_a
                  JOIN sig b ON b.doc_id = c.doc_b
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    itr AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.token = sa.token
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT agr.doc_a, agr.doc_b, agr.agree,
           CAST(62500 * agr.agree AS BIGINT) AS est_ppm,
           CAST((1000000 * coalesce(itr.inter, 0))
                // (za.n + zb.n - coalesce(itr.inter, 0)) AS BIGINT) AS jac_ppm,
           CAST(abs(62500 * agr.agree
                    - (1000000 * coalesce(itr.inter, 0))
                      // (za.n + zb.n - coalesce(itr.inter, 0))) AS BIGINT)
             AS err_ppm
    FROM agr
    JOIN sz za ON za.doc_id = agr.doc_a
    JOIN sz zb ON zb.doc_id = agr.doc_b
    LEFT JOIN itr ON itr.doc_a = agr.doc_a AND itr.doc_b = agr.doc_b
    """
    )


@register("dedup_minhash_estimate_error", oracle=_minhash_est_oracle())
def dedup_minhash_estimate_error(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M284 — the MinHash ESTIMATOR-QUALITY audit: for every
    J3 LSH candidate pair, the signature agreement count (matching
    positions of the 16 min-hashes), the Jaccard estimate it implies
    (est_ppm = 10⁶·agree/16 = 62500·agree — exact, the divisor is a
    power-of-two factor of 10⁶), the EXACT bigram-shingle Jaccard
    (inter/union over the same shingle space the signatures sample),
    and |est − exact| — the per-pair error the 1/√k theory bounds at
    ~25% for k=16.  M126 audits the LSH BLOCKING (recall of the band
    join); this audits the ESTIMATOR itself — the two failure modes a
    MinHash deployment tunes independently.

    Composed, not copied: candidates come from the registered
    minhash_candidate_pairs over the session-shared band view; the
    signatures are minhash_sigs_frame (the J3 single home).  Scale:
    the agreement join touches only candidate pairs (banded, never
    all-pairs); the exact-Jaccard side joins shingle rows on the
    SAME bounded pair set.

    ``docs=`` substitutes the document frame for probes; the driver
    contract never passes it."""
    from tropology_spark.session import iter_materialize

    cand = (
        iter_materialize(
            minhash_candidate_pairs(minhash_bands_frame(spark, sf_dir, docs=docs))
        )
        if docs is not None
        else minhash_pairs_materialized(spark, sf_dir)
    )
    sigs = minhash_sigs_frame(spark, sf_dir, docs=docs)
    a = sigs.alias("a")
    b = sigs.alias("b")
    agree_expr = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(len(_MH_PERMS))
    )
    agr = (
        cand.join(a, cand.doc_a == F.col("a.doc_id"))
        .join(b, cand.doc_b == F.col("b.doc_id"))
        .select("doc_a", "doc_b", agree_expr.cast("bigint").alias("agree"))
    )
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    shingles = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )
    sh = iter_materialize(
        d.select("doc_id", F.explode(shingles).alias("token"))
    )  # referenced by the size rollup AND both intersection sides
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "token")
    sb = sh.select(F.col("doc_id").alias("db"), F.col("token").alias("tb"))
    itr = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("db")) & (F.col("token") == F.col("tb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        agr.join(za, "doc_a")
        .join(zb, "doc_b")
        .join(itr, ["doc_a", "doc_b"], "left")
        .withColumn("inter0", F.coalesce(F.col("inter"), F.lit(0)))
        .withColumn("est_ppm", (F.lit(62500) * F.col("agree")).cast("bigint"))
        .withColumn(
            "jac_ppm",
            F.expr("(1000000 * inter0) div (na + nb - inter0)").cast("bigint"),
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        "agree",
        "est_ppm",
        "jac_ppm",
        F.abs(F.col("est_ppm") - F.col("jac_ppm")).cast("bigint").alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# dedup_minhash_k_curve (M324) — MinHash estimator error vs k, ONE sig pass
# ---------------------------------------------------------------------------


def _minhash_k_oracle() -> str:
    """Composed, never copied (the dedup_lsh_recall/_J2_ORACLE rule):
    the per-pair (agree16, jac_ppm) base IS the registered M284 oracle
    spliced AS MATERIALIZED — a future fix to the estimator-error
    query propagates to BOTH sides of this curve structurally.  Only
    the prefix agreement agree8 (per-perm signature columns the M284
    frame does not expose) is joined on from the shared sig CTE."""
    from tropology_spark.registry import ORACLES

    agree8 = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return (
        _minhash_sig_cte()
        + f"""
    , base AS MATERIALIZED (
      {ORACLES["dedup_minhash_estimate_error"]}
    ),
    pairs AS MATERIALIZED (
      SELECT base.doc_a, base.doc_b,
             CAST({agree8} AS BIGINT) AS agree8,
             base.agree AS agree16,
             base.jac_ppm
      FROM base JOIN sig a ON a.doc_id = base.doc_a
                JOIN sig b ON b.doc_id = base.doc_b
    ),
    ks AS (
      SELECT 8 AS k, abs(125000 * agree8 - jac_ppm) AS aerr FROM pairs
      UNION ALL
      SELECT 16, abs(62500 * agree16 - jac_ppm) FROM pairs
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN aerr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(sum(aerr) AS BIGINT) AS sum_abs_err_ppm,
           CAST(max(aerr) AS BIGINT) AS max_abs_err_ppm
    FROM ks GROUP BY k
    """
    )


@register("dedup_minhash_k_curve", oracle=_minhash_k_oracle())
def dedup_minhash_k_curve(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M324 — the MinHash K tuning curve: per-pair estimator error at
    k = 8 (the FIRST 8 permutations — a strict prefix of the 16, so
    one signature pass serves both points: the curve-over-prefix rule)
    vs k = 16, aggregated over the J3 candidate pairs as n_pairs /
    exactly-estimated count / total and worst |est − exact| ppm — the
    memory-accuracy axis (err ~ 1/√k) that M284 fixes at k=16,
    completing the family: M264 tunes (b,r), this tunes k.

    Composed, not copied: the per-pair agree16/exact-Jaccard base IS
    the registered dedup_minhash_estimate_error frame (QUERIES
    composition, the dedup_lsh_recall rule); only the prefix agreement
    agree8 is joined on from the shared minhash_sigs_frame.  Scale:
    everything is bounded by the banded candidate set; the k axis is
    a ×2 explode on the pair rows.

    ``docs=`` substitutes the document frame for probes; the driver
    contract never passes it."""
    from tropology_spark.registry import QUERIES

    base = QUERIES["dedup_minhash_estimate_error"](spark, sf_dir, docs=docs)
    sigs = minhash_sigs_frame(spark, sf_dir, docs=docs)
    a = sigs.alias("a")
    b = sigs.alias("b")
    agree8 = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(8)
    )
    pairs = (
        base.join(a, base.doc_a == F.col("a.doc_id"))
        .join(b, base.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "jac_ppm",
            F.col("agree").alias("agree16"),
            agree8.cast("bigint").alias("agree8"),
        )
    )
    ks = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(8).cast("bigint").alias("k"),
                    F.abs(F.lit(125000) * F.col("agree8") - F.col("jac_ppm"))
                    .cast("bigint")
                    .alias("aerr"),
                ),
                F.struct(
                    F.lit(16).cast("bigint").alias("k"),
                    F.abs(F.lit(62500) * F.col("agree16") - F.col("jac_ppm"))
                    .cast("bigint")
                    .alias("aerr"),
                ),
            )
        ).alias("r")
    ).select("r.k", "r.aerr")
    return ks.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("aerr") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum("aerr").cast("bigint").alias("sum_abs_err_ppm"),
        F.max("aerr").cast("bigint").alias("max_abs_err_ppm"),
    )
