"""Multimodal columns (SURVEY.md §2 J11, §7.5) — north-star addition.

Design: media payloads are opaque ``binary`` columns with a typed
metadata struct; decode / feature-extraction run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python row
objects.  The decode step itself is STUBBED behind a deterministic
fake (this container ships no image/audio codecs — SURVEY.md §7.5);
the Spark-side plumbing — schema, batch iteration, partition-level
behavior, output contract — is real and unit-tested
(tests/test_units.py::test_multimodal_feature_extraction).

At 100 TB: payloads live in Parquet binary columns partitioned by
(modality, date); feature extraction is embarrassingly parallel with
no shuffle — executor count scales it linearly.  Feature vectors then
feed the J8-J10 similarity operators unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tropology_spark.registry import register
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal record schema.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), False),
                    StructField("width", LongType(), True),
                    StructField("height", LongType(), True),
                    StructField("sha256", StringType(), False),
                ]
            ),
            False,
        ),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sha256", StringType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


def decode_payload(payload: bytes, mime: str) -> object:
    """Real decoder hook — intentionally unimplemented (no codec libs
    in this environment; SURVEY.md §7.5).  ``fake_features`` is the
    deterministic stand-in the pipeline tests run against."""
    raise NotImplementedError(
        f"no codec available for {mime}; install a decoder and wire it here"
    )


def fake_features(payload: bytes) -> list[float]:
    """Deterministic fake 'embedding': FEATURE_DIM floats derived from
    the payload digest.  Stands in for the decode→featurize step so
    batch shapes, schemas and partitioning are exercised for real."""
    digest = hashlib.sha256(payload).digest()
    return [digest[i] / 255.0 for i in range(FEATURE_DIM)]


def extract_features(media: DataFrame) -> DataFrame:
    """The mapInPandas feature-extraction stage over MEDIA_SCHEMA rows.

    One Arrow batch in → one batch out; constant memory per partition;
    no shuffle.  Swap ``fake_features`` for a real decoder via
    ``decode_payload`` without touching the plumbing."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # One digest pass per payload: the hex column and the fake
            # feature vector both derive from the same digest (the old
            # shape hashed every payload twice — guide §4.2, do the
            # heavy per-batch work once).
            digests = payloads.map(lambda b: hashlib.sha256(b).digest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": digests.map(bytes.hex),
                    "features": digests.map(
                        lambda d: [d[i] / 255.0 for i in range(FEATURE_DIM)]
                    ),
                }
            )

    return media.mapInPandas(featurize, schema=FEATURE_SCHEMA)


def payload_stats(media: DataFrame) -> DataFrame:
    """JVM-side twin of :func:`extract_features` for consumers that use
    only the METADATA columns (media_id, mime, n_bytes, sha256) and not
    the decode-stage ``features`` vector: ``length``/``sha2`` are
    whole-stage-codegen built-ins computing the identical values
    (``sha2(_, 256)`` emits the same lowercase hex as
    ``hashlib.sha256().hexdigest()``; binary ``length`` is ``len()``),
    so no payload byte ever crosses the JVM↔Python boundary
    (optimization guide §4.1 — the MapInPandas node disappears from the
    plan).  The Arrow feature stage itself stays exercised end-to-end
    by mm_features / mm_frame_sample, whose outputs need the Python
    stage; rollups that aggregate digests/sizes route here."""
    return media.select(
        "media_id",
        F.col("meta.mime").alias("mime"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
    )


def attach_media(
    df: DataFrame, payload_col: str, mime: str, id_col: str | None = None
) -> DataFrame:
    """Wrap an existing binary column into the canonical media shape
    (metadata computed JVM-side; sha256 via the built-in function).
    ``id_col`` supplies a stable media_id; the default generated id is
    partitioning-dependent (fine for ad-hoc use, not for oracles)."""
    media_id = (
        F.col(id_col).cast("long") if id_col else F.monotonically_increasing_id()
    )
    return df.select(
        media_id.alias("media_id"),
        F.col(payload_col).alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.sha2(F.col(payload_col), 256).alias("sha256"),
        ).alias("meta"),
    )


@register(
    "mm_features",
    oracle="""
    WITH hexmap AS (SELECT i, printf('%02x', i) AS h
                    FROM (SELECT unnest(generate_series(0, 255)) AS i) s)
    SELECT d.doc_id AS media_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           sha256(d.text) AS sha256,
           CAST(hexmap.i AS BIGINT) AS f0_byte
    FROM documents d
    JOIN hexmap ON substr(sha256(d.text), 1, 2) = hexmap.h
    """,
)
def mm_features(spark, sf_dir: str) -> DataFrame:
    """J11 as a DECLARED query: documents.text re-encoded as a binary
    payload (the fixture stand-in for an image/audio blob — no codecs
    ship in this container), wrapped in MEDIA_SCHEMA, and pushed
    through the REAL Arrow-batched mapInPandas feature stage.

    Oracle-checkable outputs prove the Python stage end-to-end:
    n_bytes and sha256 must equal DuckDB's octet_length/sha256 over the
    same UTF-8 bytes, and f0_byte recovers the first fake-feature
    component (digest byte 0) — if the batch plumbing dropped, reordered
    or re-encoded payloads, every column here would mismatch."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    media = attach_media(docs, "payload", "text/plain", id_col="doc_id")
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "sha256",
        F.floor(F.element_at("features", 1) * F.lit(255.0) + F.lit(0.5))
        .cast("bigint")
        .alias("f0_byte"),
    )


@register(
    "mm_dedup_exact",
    oracle="""
    SELECT sha256(text) AS sha256,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(CASE WHEN count(*) > 1 THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM documents
    GROUP BY sha256(text)
    """,
)
def mm_dedup_exact(spark, sf_dir: str) -> DataFrame:
    """M77 — exact BINARY-payload dedup: content-hash the media blobs
    (the same digest a crawler stores beside each asset), group by
    digest, keep the smallest id — J1's dedup policy applied to the
    multimodal column instead of text.  Round-19 optimization: the
    digest comes from the JVM ``sha2`` built-in (payload_stats) instead
    of the Python feature stage — same bytes, same hex, zero rows
    across the Python boundary (guide §4; mm_features still drives the
    Arrow stage end-to-end).  Retuned in round 9: the fixture has NO exact payload
    duplicates below sf0.1, so the original HAVING>1 drop list verified
    empty-vs-empty at the gate scale; EVERY digest group is emitted
    with an is_dup flag instead, so the Arrow digest arithmetic
    verifies non-trivially at every scale (the drop list is the
    is_dup=1 slice, still populated at sf0.1's 8 dup groups).

    The oracle recomputes the digests from the source text the payloads
    were encoded from, so a corrupted payload would change its sha256
    and break the match.  Scale: shuffle on the 32-byte digest only —
    payloads themselves never shuffle (the hash is computed in the
    scan-side map stage)."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    media = attach_media(docs, "payload", "text/plain", id_col="doc_id")
    feats = payload_stats(media)  # JVM sha2 — no Python boundary (guide §4)
    return (
        feats.groupBy("sha256")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("media_id").cast("bigint").alias("keep_id"),
        )
        .select(
            "sha256",
            "n_copies",
            "keep_id",
            F.when(F.col("n_copies") > 1, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_dup"),
        )
    )


@register(
    "mm_modality_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id, text,
             (['image/png', 'audio/wav', 'video/mp4'])[
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                    % 3 AS INT) + 1] AS modality
      FROM documents
    )
    SELECT modality,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
           CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_payloads,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM m GROUP BY modality
    """,
)
def mm_modality_stats(spark, sf_dir: str) -> DataFrame:
    """M122 — per-modality corpus rollup: the first table a multimodal
    dataset owner reads (items, byte volume, distinct payloads, largest
    asset per modality).  Fixture docs are deterministically assigned a
    pseudo-modality by md5 bucket (no modality column exists in the
    testdata).  Round-19 optimization: the rollup needs only metadata
    columns, so it reads the JVM-computed payload_stats twin (sha2 /
    length built-ins — identical values, no Python boundary, guide §4);
    the Arrow stage's mixed-mime batch handling stays pinned by the
    mm_features oracle and the extract_features unit test.  All
    outputs are exact integers.
    Scale: scan → map stage → one map-side-combinable groupBy on a
    3-value key; the distinct-payload count shuffles 32-byte digests,
    never payloads."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    mime = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
            .cast("int")
            % 3
        )
        + 1,
    )
    media = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.col("payload"),
        F.struct(
            mime.alias("mime"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.sha2(F.col("payload"), 256).alias("sha256"),
        ).alias("meta"),
    )
    feats = payload_stats(media)  # JVM sha2/length — no Python boundary
    return feats.groupBy(F.col("mime").alias("modality")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").cast("bigint").alias("sum_bytes"),
        F.countDistinct("sha256").cast("bigint").alias("n_distinct_payloads"),
        F.max("n_bytes").cast("bigint").alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# M99 — perceptual-hash near-dup (hamming-LSH over media payloads)
# ---------------------------------------------------------------------------

_PH_BITS_HEX = 4  # 16-bit pseudo-pHash (first 4 sha256 hex digits)
_PH_MAX_HAMMING = 3


@register(
    "mm_phash_hamming",
    oracle=f"""
    WITH ph AS (
      SELECT doc_id,
             ('0x' || substring(sha256(text), 1, {_PH_BITS_HEX}))::BIGINT AS phash,
             substring(sha256(text), 1, 2) AS band1,
             substring(sha256(text), 3, 2) AS band2
      FROM documents
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.phash AS ph_a, b.phash AS ph_b
      FROM ph a JOIN ph b
        ON a.doc_id < b.doc_id
       AND (a.band1 = b.band1 OR a.band2 = b.band2)
    )
    SELECT id_a, id_b, ph_a, ph_b,
           CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ph_a, ph_b)) <= {_PH_MAX_HAMMING}
    """,
)
def mm_phash_hamming(spark, sf_dir: str) -> DataFrame:
    """M99 — near-duplicate media detection by Hamming distance over a
    16-bit perceptual-hash column, banded LSH-style: candidates must
    match on one of two 8-bit hash bands (a Hamming ball of radius r
    always agrees on >= 1 of r+1 bands — here 2 bands catch every pair
    within distance 1 per half, and most within {d}), then the exact
    popcount-of-XOR filter verifies.  With real codecs the hash would
    be a DCT pHash from the decode stage (decode_payload); the fixture
    derives a deterministic stand-in from the payload digest — since
    round 19 via the JVM ``sha2`` built-in (payload_stats; identical
    hex, no Python boundary, guide §4) — so the banding/verify shape,
    the part that must scale, is fully exercised and oracle-checked.

    Scale: two band-equi-joins (shuffle on an 8-bit key + doc ordering
    keeps pairs unique), no all-pairs product; popcount is JVM-side.
    The FIXED 8-bit band is right for the declared 16-bit hash; with a
    real 64-bit pHash at corpus scale the band width grows with
    log2(n) (e.g. 16-bit bands at 10⁸ assets) so per-bucket population
    — and with it the ~n²/2^bits candidate quadratic — stays bounded;
    the banding SHAPE here is what survives that widening unchanged."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    media = attach_media(docs, "payload", "text/plain", id_col="doc_id")
    feats = payload_stats(media)  # JVM sha2 — no Python boundary (guide §4)
    ph = feats.select(
        F.col("media_id").alias("doc_id"),
        F.conv(F.substring(F.col("sha256"), 1, _PH_BITS_HEX), 16, 10)
        .cast("bigint")
        .alias("phash"),
        F.substring(F.col("sha256"), 1, 2).alias("band1"),
        F.substring(F.col("sha256"), 3, 2).alias("band2"),
    )
    a = ph.select(
        F.col("doc_id").alias("id_a"),
        F.col("phash").alias("ph_a"),
        F.col("band1").alias("b1a"),
        F.col("band2").alias("b2a"),
    )
    b = ph.select(
        F.col("doc_id").alias("id_b"),
        F.col("phash").alias("ph_b"),
        F.col("band1").alias("b1b"),
        F.col("band2").alias("b2b"),
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    # An OR of band matches would plan as a nested-loop product; the
    # LSH idiom is one EQUI-join per band, unioned, pair-deduplicated.
    per_band = [
        a.join(b, (F.col(la) == F.col(lb)) & (F.col("id_a") < F.col("id_b")))
        for la, lb in (("b1a", "b1b"), ("b2a", "b2b"))
    ]
    return (
        per_band[0]
        .select("id_a", "id_b", "ph_a", "ph_b")
        .unionByName(per_band[1].select("id_a", "id_b", "ph_a", "ph_b"))
        .filter(hamming <= _PH_MAX_HAMMING)
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "ph_a",
            "ph_b",
            hamming.cast("bigint").alias("hamming"),
        )
    )


# ---------------------------------------------------------------------------
# M147 — payload-size histogram per modality (log2 buckets)
# ---------------------------------------------------------------------------


@register(
    "mm_bytes_histogram",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             (['image/png', 'audio/wav', 'video/mp4'])[
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                    % 3 AS INT) + 1] AS modality
      FROM documents
    )
    SELECT modality,
           CAST(floor(log2(n_bytes)) AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(min(n_bytes) AS BIGINT) AS min_bytes,
           CAST(max(n_bytes) AS BIGINT) AS max_bytes
    FROM m WHERE n_bytes > 0 GROUP BY 1, 2
    """,
)
def mm_bytes_histogram(spark, sf_dir: str) -> DataFrame:
    """M147 — asset-size distribution per modality in power-of-two
    buckets (floor(log2(bytes)) — exact for every integer size in both
    engines, since log2 of the relevant range is computed identically
    on doubles and only powers of two land on bucket boundaries, where
    IEEE log2 is exact).  The table that sizes a media pipeline's
    batch/shuffle budget: modality × size-class counts with exact
    min/max.  Same md5-bucket pseudo-modality as M122 (fixtures carry
    no modality column).  Scale: scan-side projection to two small
    integers, one map-side-combinable groupBy on ~3×20 keys — payloads
    never shuffle."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    mime = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
            .cast("int")
            % 3
        )
        + 1,
    )
    m = docs.select(
        mime.alias("modality"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
        # Zero-byte assets have no log2 bucket — Spark log2(0)=NULL vs
        # DuckDB -inf; exclude them identically in both engines
        # (ADVICE r5; fixtures carry none, this is the guard).
    ).filter(F.col("n_bytes") > 0)
    return (
        m.groupBy(
            "modality",
            F.floor(F.log2(F.col("n_bytes"))).cast("bigint").alias("log2_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.min("n_bytes").cast("bigint").alias("min_bytes"),
            F.max("n_bytes").cast("bigint").alias("max_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# M185 — content-addressed chunk manifest (binary payload sharding)
# ---------------------------------------------------------------------------

_CHUNK_BYTES = 100


@register(
    "mm_chunk_manifest",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    ch AS (
      SELECT media_id, n_bytes, CAST(i - 1 AS BIGINT) AS chunk_idx,
             substr(hx, (i - 1) * {2 * _CHUNK_BYTES} + 1,
                    {2 * _CHUNK_BYTES}) AS chunk_hex
      FROM m, (SELECT unnest(generate_series(1, 256)) AS i)
      WHERE (i - 1) * {_CHUNK_BYTES} < n_bytes
    )
    SELECT media_id, chunk_idx,
           CAST(chunk_idx * {_CHUNK_BYTES} AS BIGINT) AS byte_offset,
           CAST(length(chunk_hex) // 2 AS BIGINT) AS chunk_bytes,
           md5(chunk_hex) AS chunk_md5,
           CAST(CASE WHEN (chunk_idx + 1) * {_CHUNK_BYTES} >= n_bytes
                     THEN 1 ELSE 0 END AS BIGINT) AS is_last
    FROM ch
    """,
)
def mm_chunk_manifest(spark, sf_dir: str) -> DataFrame:
    """M185 — content-addressed chunking of binary payloads: each
    asset split into fixed 100-byte chunks with (offset, size,
    digest, last-flag) — the manifest a 100 TB media store keeps so
    multi-GB assets upload/dedup/repair per CHUNK instead of per
    file (the chunk digest is the dedup key; M77 dedups whole
    payloads).  The Spark side slices the BINARY column directly
    (substring on BinaryType is byte-addressed) — multi-byte UTF-8
    codepoints in the underlying fixture text split mid-character,
    exactly as raw media bytes would; the digest canonicalizes each
    chunk through its hex encoding because the oracle's md5 is
    VARCHAR-only (DuckDB has no BLOB substring either, so it slices
    the hex string at doubled offsets — byte-aligned, therefore
    equivalent).

    Scale: row-local generate+slice (one explode of payload-bounded
    structs per asset, no shuffle at all); the manifest is
    O(bytes / chunk_size) rows."""
    from tropology_spark.sources.tables import load

    d = load(spark, sf_dir, "documents")
    m = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    ).withColumn("n_bytes", F.octet_length("payload").cast("bigint"))
    ch = m.select(
        "media_id",
        "n_bytes",
        "payload",
        F.explode(
            F.expr(
                f"sequence(0, CAST((n_bytes - 1) div {_CHUNK_BYTES} AS INT))"
            )
        ).alias("chunk_idx"),
    )
    chunk = F.expr(f"substring(payload, chunk_idx * {_CHUNK_BYTES} + 1, {_CHUNK_BYTES})")
    return ch.select(
        "media_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        (F.col("chunk_idx") * _CHUNK_BYTES).cast("bigint").alias("byte_offset"),
        F.octet_length(chunk).cast("bigint").alias("chunk_bytes"),
        F.md5(F.hex(chunk)).alias("chunk_md5"),
        F.when(
            (F.col("chunk_idx") + 1) * _CHUNK_BYTES >= F.col("n_bytes"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_last"),
    )


# ---------------------------------------------------------------------------
# M199 — magic-bytes format audit (declared modality vs leading signature)
# ---------------------------------------------------------------------------


@register(
    "mm_magic_bytes",
    oracle="""
    WITH m AS (
      SELECT (['image/png', 'audio/wav', 'video/mp4'])[
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                    % 3 AS INT) + 1] AS modality,
             substr(hex(encode(text)), 1, 4) AS sig,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT modality, sig,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(min(n_bytes) AS BIGINT) AS min_bytes,
           CAST(max(n_bytes) AS BIGINT) AS max_bytes
    FROM m WHERE n_bytes > 0
    GROUP BY modality, sig
    ORDER BY n_items DESC, modality, sig LIMIT 20
    """,
)
def mm_magic_bytes(spark, sf_dir: str) -> DataFrame:
    """M199 — the format-mismatch audit of a media lake: group assets
    by (declared modality, leading 2-byte signature) — real pipelines
    compare the container's magic bytes (``\\x89PNG``, ``RIFF``,
    ``ftyp``) against the claimed MIME type to catch mislabeled or
    truncated uploads before a decoder crashes on them.  Fixtures
    carry text payloads (UTF-8 bytes of ``text``, the §7.5 stand-in)
    and the M122 md5-bucket pseudo-modality, so the audit shape —
    binary slice, hex canonicalization, modality×signature rollup —
    is fully real while the signatures are letter bytes.

    Binary parity crosses engines through hex (the M185 rule: DuckDB
    cannot slice BLOBs) — Spark slices the first 2 BYTES of the
    BinaryType payload and hex-encodes; the oracle slices the first 4
    hex CHARS of the whole-payload hex string.  Identical uppercase
    output both sides.

    Scale: pure scan-side projection (payloads reduce to a 4-char
    signature before any shuffle) and one bounded rollup — modality ×
    distinct-signature keys, combine map-side; top-20 TakeOrdered."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    mime = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
            .cast("int")
            % 3
        )
        + 1,
    )
    m = docs.select(
        mime.alias("modality"),
        F.hex(F.substring(payload, 1, 2)).alias("sig"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
    ).filter(F.col("n_bytes") > 0)
    return (
        m.groupBy("modality", "sig")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.min("n_bytes").cast("bigint").alias("min_bytes"),
            F.max("n_bytes").cast("bigint").alias("max_bytes"),
        )
        .orderBy(F.desc("n_items"), F.asc("modality"), F.asc("sig"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# M209 — chunk-store dedup stats (composed from the M185 manifest)
# ---------------------------------------------------------------------------


def _chunk_dedup_oracle() -> str:
    from tropology_spark.registry import ORACLES

    return f"""
    WITH man AS ({ORACLES['mm_chunk_manifest']}),
    r AS (
      SELECT chunk_md5, CAST(count(*) AS BIGINT) AS refs
      FROM man GROUP BY 1
    )
    SELECT CAST(sum(refs) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(refs) - count(*) AS BIGINT) AS n_dup,
           CAST((1000000 * (sum(refs) - count(*))) // sum(refs) AS BIGINT)
             AS dedup_ppm,
           CAST(max(refs) AS BIGINT) AS max_refcount
    FROM r
    """


@register("mm_chunk_dedup_stats", oracle=_chunk_dedup_oracle())
def mm_chunk_dedup_stats(spark, sf_dir: str) -> DataFrame:
    """M209 — what content-addressing SAVES: reference counts over the
    M185 chunk manifest — total chunk instances, unique digests, the
    duplicate count a chunk store never uploads twice, the saving in
    ppm, and the hottest chunk's refcount (the cache-tier candidate).
    This is the capacity-planning number behind every CAS media store
    (upload bytes = unique chunks only).

    Composed, not copied: the oracle wraps ``ORACLES['mm_chunk_
    manifest']`` verbatim and the Spark side calls the REGISTERED
    M185 query — the _J2_ORACLE discipline, so the manifest semantics
    exist in exactly one place.

    Scale: one map-side-combinable rollup on the 16-byte digest (the
    dedup shuffle is hash-of-hash — scale-free), then a single-row
    reduction of the refcount table."""
    from tropology_spark.registry import QUERIES

    man = QUERIES["mm_chunk_manifest"](spark, sf_dir)
    r = man.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("refs")
    )
    return r.agg(
        F.sum("refs").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        (F.sum("refs") - F.count(F.lit(1))).cast("bigint").alias("n_dup"),
        F.expr("(1000000 * (sum(refs) - count(1))) div sum(refs)")
        .cast("bigint")
        .alias("dedup_ppm"),
        F.max("refs").cast("bigint").alias("max_refcount"),
    )


# ---------------------------------------------------------------------------
# M220 — per-modality weighted stratified sample (payloads never shuffle)
# ---------------------------------------------------------------------------

_MM_STRAT_K = 8


@register(
    "mm_stratified_sample",
    oracle=f"""
    WITH m AS (
      SELECT (['image/png', 'audio/wav', 'video/mp4'])[
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                    % 3 AS INT) + 1] AS modality,
             doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT AS u
      FROM documents
      WHERE octet_length(encode(text)) > 0
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY modality
                                   ORDER BY CAST(u AS DOUBLE) / n_bytes, doc_id)
                  AS rn
      FROM m
    )
    SELECT modality, doc_id, n_bytes, u, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_MM_STRAT_K}
    """,
)
def mm_stratified_sample(spark, sf_dir: str) -> DataFrame:
    """M220 — M46's stratified-sampling discipline on the multimodal
    table: a {k}-item byte-weighted sample PER MODALITY (M216's
    per-stratum A-ES machinery — priority u/weight with the M122
    md5-bucket pseudo-modality as the stratum and payload SIZE as the
    weight, so large assets are proportionally favored, the storage-
    audit sampling a media lake runs per asset class).

    Determinism: u is md5-derived (chars 9-16, disjoint from the
    modality's leading byte) and the priority is ONE IEEE division
    ranked with the unique doc_id tie-break (the M216 rule).

    Scale — payloads never shuffle (the multimodal family invariant):
    the payload column reduces scan-side to its LENGTH before the
    window; what shuffles is (modality, doc_id, n_bytes, u) — four
    scalars — and the per-stratum window is a bounded-heap top-k per
    group.  The sampled ids then re-join payloads by doc_id at the
    consumer (M185's content-addressed read path), so sampling cost
    is independent of asset size."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    modality = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
            .cast("int")
            % 3
        )
        + 1,
    )
    m = docs.select(
        modality.alias("modality"),
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
        .cast("bigint")
        .alias("u"),
    ).filter(F.col("n_bytes") > 0)
    from pyspark.sql import Window

    w = Window.partitionBy("modality").orderBy(
        (F.col("u").cast("double") / F.col("n_bytes")).asc(), F.col("doc_id")
    )
    return (
        m.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _MM_STRAT_K)
        .select("modality", "doc_id", "n_bytes", "u", "rn")
    )


mm_stratified_sample.__doc__ = mm_stratified_sample.__doc__.format(k=_MM_STRAT_K)


# ---------------------------------------------------------------------------
# M235 mm_tiering_plan — chunk-store tier assignment from reference counts
# ---------------------------------------------------------------------------


def _tiering_oracle() -> str:
    from tropology_spark.registry import ORACLES

    return f"""
    WITH man AS ({ORACLES['mm_chunk_manifest']}),
    r AS (
      SELECT chunk_md5,
             CAST(count(*) AS BIGINT) AS refs,
             CAST(max(chunk_bytes) AS BIGINT) AS chunk_bytes
      FROM man GROUP BY 1
    )
    SELECT chunk_md5, refs, chunk_bytes,
           CASE WHEN refs >= 3 THEN 'hot'
                WHEN refs = 2 THEN 'warm'
                ELSE 'cold' END AS tier,
           CAST((refs - 1) * chunk_bytes AS BIGINT) AS saved_bytes
    FROM r
    """


@register("mm_tiering_plan", oracle=_tiering_oracle())
def mm_tiering_plan(spark, sf_dir: str) -> DataFrame:
    """M235 — the STORAGE-TIERING plan of the content-
    addressed chunk store: per unique chunk digest, its reference
    count, size, tier assignment (hot ≥ 3 refs / warm = 2 / cold
    unique — the cache-placement decision M209's max_refcount summary
    hints at, materialized per chunk), and the bytes content-
    addressing saves on it.  Identical content implies identical
    size, so max(chunk_bytes) per digest is exact.

    Composed, not copied: the oracle wraps ORACLES['mm_chunk_
    manifest'] verbatim and the Spark side runs the REGISTERED M185
    query.  Scale: one map-side-combinable rollup on the 16-byte
    digest; payloads reduced to digests long before this runs (the
    multimodal family invariant)."""
    from tropology_spark.registry import QUERIES

    man = QUERIES["mm_chunk_manifest"](spark, sf_dir)
    r = man.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("refs"),
        F.max("chunk_bytes").cast("bigint").alias("chunk_bytes"),
    )
    return r.select(
        "chunk_md5",
        "refs",
        "chunk_bytes",
        F.when(F.col("refs") >= 3, "hot")
        .when(F.col("refs") == 2, "warm")
        .otherwise("cold")
        .alias("tier"),
        ((F.col("refs") - 1) * F.col("chunk_bytes"))
        .cast("bigint")
        .alias("saved_bytes"),
    )


# ---------------------------------------------------------------------------
# M260 mm_cdc_chunking — content-defined chunk boundaries (rolling-hash CDC)
# ---------------------------------------------------------------------------

_CDC_WIN_BYTES = 8
_CDC_MOD = 64


def cdc_hash_positions(spark, sf_dir: str, docs: DataFrame | None = None):
    """The CDC window-HASH frame ``(doc_id, n_bytes, p, h16)`` — one
    row per rolling-window start byte with the 16-bit window hash
    itself — the single home of the window-hash arithmetic.
    :func:`cdc_boundary_positions` derives the boundary flag from it
    at any modulus; the registered size curve mm_cdc_size_curve
    (M310) reads it ONCE and
    derives every modulus from the same pass (powers of two nest:
    h % 128 = 0 ⇒ h % 64 = 0 ⇒ h % 32 = 0 — the curve-over-prefix
    rule's hash analog)."""
    from tropology_spark.sources.tables import load

    d = docs if docs is not None else load(spark, sf_dir, "documents")
    hx = d.select(
        "doc_id",
        F.hex(F.encode(F.col("text"), "UTF-8")).alias("hs"),
        F.octet_length(F.encode(F.col("text"), "UTF-8"))
        .cast("bigint")
        .alias("n_bytes"),
    )
    pos = hx.select(
        "doc_id",
        "n_bytes",
        "hs",
        F.explode(
            F.when(
                F.col("n_bytes") >= _CDC_WIN_BYTES,
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.col("n_bytes") - (_CDC_WIN_BYTES - 1), F.lit(4096)
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("p"),
    )
    h16 = F.conv(
        F.substring(
            F.md5(
                F.expr(
                    f"substring(hs, CAST(2 * p - 1 AS INT),"
                    f" {2 * _CDC_WIN_BYTES})"
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    return pos.select("doc_id", "n_bytes", "p", h16.alias("h16"))


_CDC_POS_CACHE: dict[tuple[str, str], DataFrame] = {}

from tropology_spark.sources.tables import SESSION_CACHES  # noqa: E402

SESSION_CACHES.append(_CDC_POS_CACHE)


def cdc_hash_positions_materialized(spark, sf_dir: str) -> DataFrame:
    """The corpus CDC window-hash frame, eagerly materialized once per
    (session, sf_dir) — three registered queries (mm_cdc_chunking,
    mm_cdc_dedup_stats, mm_cdc_size_curve) consume the identical
    frame and each used to re-run the hex + position-explode + md5
    pass (round-19).  Probe (``docs=``) callers keep private frames."""
    from tropology_spark.session import iter_materialize
    from tropology_spark.sources.tables import cache_get_or_build

    def build() -> DataFrame:
        return iter_materialize(cdc_hash_positions(spark, sf_dir))

    return cache_get_or_build(
        _CDC_POS_CACHE, (spark.sparkContext.applicationId, sf_dir), build
    )


def cdc_boundary_positions(
    spark, sf_dir: str, docs: DataFrame | None = None, mod: int = _CDC_MOD
):
    """The CDC boundary-position frame ``(doc_id, n_bytes, p, bound)``
    — one row per rolling-window start byte, bound = 1 where the
    window hash declares a chunk boundary at modulus ``mod`` (default
    the registered 64) — shared by the registered rollup and the
    shift-resistance property test (``docs=`` substitutes a (doc_id,
    text) frame).  The hash arithmetic lives in
    :func:`cdc_hash_positions`; this derives only the flag."""
    pos = (
        cdc_hash_positions_materialized(spark, sf_dir)
        if docs is None
        else cdc_hash_positions(spark, sf_dir, docs)
    )
    bound = F.when(F.col("h16") % mod == 0, 1).otherwise(0)
    return pos.select("doc_id", "n_bytes", "p", bound.alias("bound"))


@register(
    "mm_cdc_chunking",
    oracle=f"""
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS hs,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    b AS (
      SELECT hx.doc_id,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(CASE WHEN
                    ('0x' || substring(md5(substring(hs, 2 * p - 1,
                                                     {2 * _CDC_WIN_BYTES})),
                                       1, 4))::BIGINT % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_bound
      FROM hx, (SELECT unnest(generate_series(1, 4096)) AS p)
      WHERE p <= n_bytes - {_CDC_WIN_BYTES - 1}
      GROUP BY hx.doc_id
    )
    SELECT hx.doc_id, n_bytes,
           CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(n_bound, 0) AS BIGINT) AS n_bound,
           CAST(coalesce(n_bound, 0) + 1 AS BIGINT) AS n_chunks,
           CAST((100 * n_bytes) // (coalesce(n_bound, 0) + 1) AS BIGINT)
             AS avg_chunk_x100
    FROM hx LEFT JOIN b ON hx.doc_id = b.doc_id
    """,
)
def mm_cdc_chunking(spark, sf_dir: str) -> DataFrame:
    """M260 — CONTENT-DEFINED CHUNKING boundaries: a chunk
    boundary wherever the rolling 8-byte window's hash ≡ 0 mod 64
    (expected chunk ≈ 64 bytes) — the Rabin/FastCDC splitting rule
    every dedup store (restic/borg/LBFS lineage) uses instead of
    M185's fixed grid, because insertions shift fixed-grid chunk
    contents globally but re-align content-defined boundaries within
    one window.  Per asset: window count, boundary count, chunk count
    and average chunk size ×100 (exact integer div).  The window hash
    follows the established discipline: md5 of the HEX encoding at
    doubled offsets (byte-aligned; DuckDB md5 is VARCHAR-only —
    mm_chunk_manifest's rule), low-16-bits mod 64.  Assets shorter
    than 8 bytes have zero windows and one chunk (LEFT JOIN keeps
    them; the byte axis is enumerated at the 4096 cap).

    Scale: the boundary test is per-position map-only work over the
    payload scan — no shuffle until the per-asset rollup, which is
    map-side combinable; payloads never shuffle (only (doc_id,
    position-window) projections do)."""
    from tropology_spark.sources.tables import load

    d = load(spark, sf_dir, "documents")
    sizes = d.select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "UTF-8"))
        .cast("bigint")
        .alias("n_bytes"),
    )
    b = (
        cdc_boundary_positions(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("bound").cast("bigint").alias("n_bound"),
        )
    )
    return (
        sizes.join(b, "doc_id", "left")
        .select(
            "doc_id",
            "n_bytes",
            F.coalesce(F.col("n_windows"), F.lit(0))
            .cast("bigint")
            .alias("n_windows"),
            F.coalesce(F.col("n_bound"), F.lit(0))
            .cast("bigint")
            .alias("n_bound"),
            (F.coalesce(F.col("n_bound"), F.lit(0)) + 1)
            .cast("bigint")
            .alias("n_chunks"),
            F.expr(
                "(100 * n_bytes) div (coalesce(n_bound, 0) + 1)"
            )
            .cast("bigint")
            .alias("avg_chunk_x100"),
        )
    )


# ---------------------------------------------------------------------------
# M265 mm_payload_uniformity — chi-square-vs-uniform byte profile
# ---------------------------------------------------------------------------

_HEX_DIGITS = "0123456789ABCDEF"


def _uniformity_terms_sql() -> str:
    """Σ over the 16 hex digits of (16·count − L)² where L =
    length(hx) — counts come from length-difference after replace(),
    so absent digits contribute L² with no enumeration at all."""
    # The deviation is lifted to BIGINT BEFORE squaring: length() is
    # 32-bit in Spark and the 16-term sum of squares exceeds INT range
    # from ~2 KB payloads (ANSI Spark raises where DuckDB widens).
    dev = (
        "(16 * CAST(length(hx) - length(replace(hx, '{d}', '')) AS BIGINT)"
        " - length(hx))"
    )
    return " + ".join(f"{dev.format(d=d)} * {dev.format(d=d)}" for d in _HEX_DIGITS)


@register(
    "mm_payload_uniformity",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             hex(encode(text)) AS hx
      FROM documents
      WHERE octet_length(encode(text)) > 0
    )
    SELECT media_id, n_bytes,
           CAST({_uniformity_terms_sql()} AS BIGINT) AS dev2_sum,
           CAST(1000 * ({_uniformity_terms_sql()}) AS BIGINT)
             // (16 * length(hx)) AS chisq_milli
    FROM m
    """,
)
def mm_payload_uniformity(spark, sf_dir: str) -> DataFrame:
    """M265 — BYTE-UNIFORMITY profile per payload: the exact
    chi-square-vs-uniform statistic over the 16 hex digits of the
    payload's hex encoding, the standard compressed/encrypted-asset
    detector (already-compressed payloads score near the df=15
    expectation ~15 000 milli; text/structured assets score orders of
    magnitude higher) — the triage a media pipeline runs BEFORE
    spending codec or compression work, on the same hex substrate as
    M185/M199.

    Integer-exact with no enumeration: each digit count is
    length(hx) − length(replace(hx, d, '')) — 16 scalar expressions
    per row, identical in both engines — and absent digits fall out
    of the algebra ((16·0 − L)² = L²) instead of needing a
    domain-completion join.  dev2_sum = Σ(16·c_d − L)² = 16L·χ²;
    chisq_milli = 1000·dev2_sum div (16L) is the exact milli-χ²
    (non-negative numerator: DuckDB // and Spark div agree).  BIGINT
    bound: dev2_sum ≤ 240·L², so the 1000× carrier is exact for
    payloads up to ~3 MB — beyond that, switch the carrier to
    DECIMAL(38,0)/HUGEINT per the wide-integer finale rule.
    Scale: a pure scan-side projection — no shuffle, no explode, no
    payload movement."""
    from tropology_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    m = docs.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length(F.encode(F.col("text"), "UTF-8"))
        .cast("bigint")
        .alias("n_bytes"),
        F.hex(F.encode(F.col("text"), "UTF-8")).alias("hx"),
    ).filter(F.col("n_bytes") > 0)
    terms = _uniformity_terms_sql()
    return m.select(
        "media_id",
        "n_bytes",
        F.expr(f"CAST({terms} AS BIGINT)").alias("dev2_sum"),
        F.expr(f"CAST(1000 * ({terms}) AS BIGINT) div (16 * length(hx))")
        .cast("bigint")
        .alias("chisq_milli"),
    )


# ---------------------------------------------------------------------------
# M266 mm_phash_clusters — visual near-dup clusters over the M99 pHash graph
# ---------------------------------------------------------------------------


def _phash_clusters_oracle() -> str:
    from tropology_spark.operators.dedup import _minlabel_steps_sql
    from tropology_spark.registry import ORACLES

    return (
        """
    WITH cand AS (SELECT id_a AS doc_a, id_b AS doc_b FROM ({ph}) p),
    und AS (SELECT doc_a AS u, doc_b AS v FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
    l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),""".format(
            ph=ORACLES["mm_phash_hamming"]
        )
        + _minlabel_steps_sql(3)
        + """
    , siz AS (SELECT lbl, count(*) AS n FROM l3 GROUP BY lbl)
    SELECT l3.doc_id, CAST(l3.lbl AS BIGINT) AS phash_cluster,
           CAST(siz.n AS BIGINT) AS cluster_size
    FROM l3 JOIN siz ON l3.lbl = siz.lbl
    """
    )


@register("mm_phash_clusters", oracle=_phash_clusters_oracle())
def mm_phash_clusters(spark, sf_dir: str) -> DataFrame:
    """M266 — VISUAL near-dup cluster assignment: 3-round
    min-label propagation over the M99 perceptual-hash Hamming graph
    (banded LSH candidates at distance ≤ 3), emitting every asset's
    cluster representative AND its cluster size — M99 emits PAIRS;
    a media dedup DROP stage needs the transitive grouping plus the
    size (keep 1 per cluster ⇒ drop budget = Σ(size − 1)), exactly
    the dedup_cluster3 argument applied to the multimodal corpus.

    Composed, not copied: the candidate graph is the registered
    mm_phash_hamming pipeline (oracle composed verbatim); the
    propagation is graph.min_label_rounds — the SAME single-home
    arithmetic dedup_cluster3 (M261) uses, differing only in the input
    graph — and the oracle is dedup._minlabel_steps_sql, the SQL twin
    both ops are checked against.  Scale: the pair graph is banded
    (never all-pairs; band width grows with log2(n) at corpus scale —
    the M99 note); each round is one join + min-aggregation on the
    asset key, the label vector is checkpointed once after the last
    round, and the size rollup is one map-side-combinable groupBy.
    Unlike the LSH near-clique components, pHash band chains can
    exceed diameter 3 — partial labels after the bounded unroll are
    the documented stepping-stone semantics (full convergence = the
    registered M8 operator), and the twin pins exact 3-hop-ball
    convergence."""
    from tropology_spark.operators.graph import min_label_rounds
    from tropology_spark.registry import QUERIES
    from tropology_spark.session import iter_materialize
    from tropology_spark.sources.tables import load

    pairs = QUERIES["mm_phash_hamming"](spark, sf_dir).select("id_a", "id_b")
    und = iter_materialize(
        pairs.select(
            F.col("id_a").alias("u"), F.col("id_b").alias("v")
        ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    )  # referenced by all three rounds
    lab = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").alias("lbl")
    )
    lab = min_label_rounds(und, lab, 3)
    siz = lab.groupBy("lbl").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return lab.join(siz, "lbl").select(
        "doc_id",
        F.col("lbl").cast("bigint").alias("phash_cluster"),
        F.col("n").alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# mm_cdc_dedup_stats — content-addressed dedup over the M260 CDC chunks (M287)
# ---------------------------------------------------------------------------


@register(
    "mm_cdc_dedup_stats",
    oracle="""
    WITH hx AS (
      SELECT doc_id, source, hex(encode(text)) AS hs,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
      WHERE octet_length(encode(text)) > 0
    ),
    bpos AS (
      SELECT hx.doc_id, p
      FROM hx, (SELECT unnest(generate_series(1, 4096)) AS p)
      WHERE p <= n_bytes - 7
        AND ('0x' || substring(md5(substring(hs, 2 * p - 1, 16)),
                               1, 4))::BIGINT % 64 = 0
    ),
    cuts AS (
      SELECT doc_id, p FROM bpos
      UNION SELECT doc_id, 1 FROM hx
    ),
    ext AS (
      SELECT doc_id, p AS st,
             coalesce(lead(p) OVER (PARTITION BY doc_id ORDER BY p),
                      (SELECT n_bytes + 1 FROM hx h WHERE h.doc_id = cuts.doc_id))
               AS en
      FROM cuts
    ),
    ch AS (
      SELECT hx.source,
             md5(substring(hx.hs, CAST(2 * ext.st - 1 AS INTEGER),
                           CAST(2 * (ext.en - ext.st) AS INTEGER))) AS dg,
             CAST(ext.en - ext.st AS BIGINT) AS cb
      FROM ext JOIN hx ON ext.doc_id = hx.doc_id
    ),
    per AS (
      SELECT source, dg, CAST(count(*) AS BIGINT) AS refs,
             CAST(max(cb) AS BIGINT) AS cb
      FROM ch GROUP BY source, dg
    )
    SELECT source,
           CAST(sum(refs) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(refs * cb) AS BIGINT) AS bytes_total,
           CAST(sum(cb) AS BIGINT) AS bytes_unique,
           CAST((1000000 * (sum(refs * cb) - sum(cb))) // sum(refs * cb)
                AS BIGINT) AS saved_ppm
    FROM per GROUP BY source
    """,
)
def mm_cdc_dedup_stats(spark, sf_dir: str, docs: DataFrame | None = None) -> DataFrame:
    """M287 — content-addressed DEDUP over the M260
    content-defined chunks, per source: chunk count, unique-digest
    count, raw vs deduplicated bytes, and the bytes-saved ppm — the
    quantitative argument FOR content-defined chunking (M209 measures
    the same economics over M185's FIXED grid; insertions recut a
    fixed grid globally but re-align CDC boundaries, so the CDC tier
    saves strictly more on near-duplicate corpora).  Chunk extents are
    the gaps between the M260 boundary positions ({1} ∪ bounds →
    lead() per doc → [start, next)); the digest is md5 of the HEX
    substring at doubled offsets (the mm_chunk_manifest discipline).

    Composed, not copied (Spark side): boundary positions come from
    the registered cdc_boundary_positions helper — the M260 single
    home; the oracle re-derives them with the same window-hash formula
    the M260 oracle pins.  Scale: boundary detection is map-only over
    the payload scan; extents ride a per-doc (real key) lead window;
    the digest rollup shuffles (source, digest) projections — payloads
    never shuffle.

    ``docs=`` substitutes a (doc_id, source, text) frame for the
    weak-scaling probe; the driver contract never passes it."""
    from pyspark.sql import Window

    from tropology_spark.session import iter_materialize
    from tropology_spark.sources.tables import load

    d = docs if docs is not None else load(spark, sf_dir, "documents")
    hx = iter_materialize(
        d.select(
            "doc_id",
            "source",
            F.hex(F.encode(F.col("text"), "UTF-8")).alias("hs"),
            F.octet_length(F.encode(F.col("text"), "UTF-8"))
            .cast("bigint")
            .alias("n_bytes"),
        ).filter(F.col("n_bytes") > 0)
    )  # referenced by the cut sentinel union AND the chunk-slice join
    bounds = (
        cdc_boundary_positions(spark, sf_dir, docs=docs)
        .filter(F.col("bound") == 1)
        .select("doc_id", "p")
    )
    cuts = bounds.union(hx.select("doc_id", F.lit(1).alias("p"))).distinct()
    wd = Window.partitionBy("doc_id").orderBy("p")
    ext = cuts.select(
        "doc_id", F.col("p").alias("st"), F.lead("p").over(wd).alias("en0")
    )
    ch = ext.join(hx, "doc_id").select(
        "source",
        F.md5(
            F.expr(
                "substring(hs, CAST(2 * st - 1 AS INT),"
                " CAST(2 * (coalesce(en0, n_bytes + 1) - st) AS INT))"
            )
        ).alias("dg"),
        (F.coalesce(F.col("en0"), F.col("n_bytes") + 1) - F.col("st"))
        .cast("bigint")
        .alias("cb"),
    )
    per = ch.groupBy("source", "dg").agg(
        F.count(F.lit(1)).cast("bigint").alias("refs"),
        F.max("cb").cast("bigint").alias("cb"),
    )
    return per.groupBy("source").agg(
        F.sum("refs").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.sum(F.col("refs") * F.col("cb")).cast("bigint").alias("bytes_total"),
        F.sum("cb").cast("bigint").alias("bytes_unique"),
    ).select(
        "source",
        "n_chunks",
        "n_unique",
        "bytes_total",
        "bytes_unique",
        F.expr(
            "(1000000 * (bytes_total - bytes_unique)) div bytes_total"
        )
        .cast("bigint")
        .alias("saved_ppm"),
    )


# ---------------------------------------------------------------------------
# mm_cdc_size_curve — CDC chunk-size economics vs boundary modulus
# ---------------------------------------------------------------------------

_CDC_MODS = (32, 64, 128)


def _cdc_curve_oracle() -> str:
    mods = ", ".join(str(m) for m in _CDC_MODS)
    return f"""
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS hs,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n_bytes, i AS p,
             ('0x' || substring(md5(substring(hs, CAST(2 * i - 1 AS INT),
                                              {2 * _CDC_WIN_BYTES})),
                                1, 4))::BIGINT AS h16
      FROM hx, (SELECT unnest(generate_series(1, 4096)) AS i) s
      WHERE n_bytes >= {_CDC_WIN_BYTES}
        AND i <= least(n_bytes - {_CDC_WIN_BYTES - 1}, 4096)
    ),
    cfg AS (SELECT CAST(unnest([{mods}]) AS BIGINT) AS mod),
    starts AS (
      SELECT DISTINCT cfg.mod, pos.doc_id, pos.p
      FROM pos CROSS JOIN cfg
      WHERE pos.h16 % cfg.mod = 0
      UNION
      SELECT cfg.mod, d.doc_id, 1 AS p
      FROM (SELECT doc_id FROM documents) d CROSS JOIN cfg
    ),
    per AS (SELECT mod, CAST(count(*) AS BIGINT) AS n_chunks
            FROM starts GROUP BY mod),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CAST(octet_length(encode(text)) AS BIGINT))
                        AS BIGINT) AS total_bytes
            FROM documents)
    SELECT per.mod, tot.n_docs, tot.total_bytes, per.n_chunks,
           CAST((1000 * tot.total_bytes) // per.n_chunks AS BIGINT)
             AS mean_chunk_milli_bytes
    FROM per CROSS JOIN tot
    """


@register("mm_cdc_size_curve", oracle=_cdc_curve_oracle())
def mm_cdc_size_curve(
    spark, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """M310 — CDC chunk-size economics vs the boundary modulus ∈ {32,
    64, 128} — the content-defined-chunking TUNING axis (expected
    chunk size ≈ modulus bytes under a uniform window hash; smaller
    chunks dedup better but cost more metadata — this curve measures
    the actual size the corpus produces at each setting, next to
    M260's fixed-64 production rule).

    ONE window-hash pass serves every modulus: the single-home
    :func:`cdc_hash_positions` emits the 16-bit window hash itself
    and power-of-two moduli NEST (h % 128 = 0 ⇒ h % 64 = 0 ⇒
    h % 32 = 0) — the curve-over-prefix rule's hash analog, so the
    config axis is a flag derivation, never a re-hash.  A chunk
    start is position 1 (every document, including those shorter
    than the window) plus every boundary position — the r13
    mm_cdc_dedup_stats extent convention ({1} ∪ bounds, distinct).
    mean_chunk_milli_bytes = (1000·total_bytes) div n_chunks — exact
    non-negative division.

    Scale: the boundary scan is the M260 map-only pass (one md5 per
    byte position); the per-mod rollup is map-side combinable; the
    1-row corpus-totals attach is a deliberate scalar crossJoin
    (BNLJ-allowlisted).  ``docs=`` substitutes the document frame for
    the weak-scaling probe (threaded into the cdc_hash_positions
    single home; the driver contract never passes it)."""
    from tropology_spark.sources.tables import load

    pos = (
        cdc_hash_positions_materialized(spark, sf_dir)
        if docs is None
        else cdc_hash_positions(spark, sf_dir, docs=docs)
    )
    mod_arr = F.array(*[F.lit(m).cast("bigint") for m in _CDC_MODS])
    bounds = (
        pos.select("doc_id", "p", "h16", F.explode(mod_arr).alias("mod"))
        .filter(F.col("h16") % F.col("mod") == 0)
        .select("mod", "doc_id", "p")
    )
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    first = d.select(
        "doc_id", F.explode(mod_arr).alias("mod"), F.lit(1).cast("bigint").alias("p")
    ).select("mod", "doc_id", "p")
    starts = bounds.union(first).distinct()
    per = starts.groupBy("mod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("bigint"))
        .cast("bigint")
        .alias("total_bytes"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "mod",
        "n_docs",
        "total_bytes",
        "n_chunks",
        F.expr("CAST((1000 * total_bytes) div n_chunks AS BIGINT)").alias(
            "mean_chunk_milli_bytes"
        ),
    )
