"""tropology_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of ``ricardojmendez/tropology`` (a Clojure
crawler that turns TVTropes link structure into a PostgreSQL-backed
graph; see SURVEY.md §0.1), extended with LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns) and
designed for 100 TB scale (SURVEY.md §7.7).

Importing this package populates the query registry
(:mod:`tropology_spark.registry`) used by ``__spark_entry__.py``.
"""

from tropology_spark.registry import QUERIES, ORACLES, register, prioritize  # noqa: F401

# Import all operator modules for their registration side effects.
#
# ORDER MATTERS: the external checker that consumes ``__spark_entry__.py``
# hash-checks the FIRST 50 registry entries against their oracles, so
# registration order decides which queries it samples.  The module order
# below fixes the base order; the ``prioritize`` call at the end moves the
# live 50-query window (the three lists it is given) to the front.
# Changing either changes what gets checked; the window test in
# tests/test_units.py pins it.
from tropology_spark.operators import dedup  # noqa: F401
from tropology_spark.operators import text  # noqa: F401
from tropology_spark.operators import similarity  # noqa: F401
from tropology_spark.operators import graph  # noqa: F401
from tropology_spark.functions import scalar  # noqa: F401
from tropology_spark.operators import multimodal  # noqa: F401
from tropology_spark.streaming import jobs  # noqa: F401
from tropology_spark.operators import udfs  # noqa: F401
from tropology_spark.operators import pipeline_ops  # noqa: F401
from tropology_spark.operators import graph_paths  # noqa: F401
from tropology_spark.operators import graph_motifs  # noqa: F401
from tropology_spark.operators import media_frames  # noqa: F401
from tropology_spark.operators import timeseries  # noqa: F401
from tropology_spark.operators import analytics  # noqa: F401
from tropology_spark.operators import windows  # noqa: F401
from tropology_spark.operators import aggregates  # noqa: F401
from tropology_spark.operators import relational  # noqa: F401

#: Round-19 additions (M348-M357), in the staged-slate order.
_R19_NEW = [
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

#: The 17 r10-vintage rows left in the round-19 rotation.
_R19_STALE_R10 = [
    "graph_closeness3",
    "graph_triangles",
    "graph_triangles_capped",
    "graph_butterflies",
    "graph_clustering_pairs",
    "graph_assortativity_terms",
    "graph_hits_paths",
    "graph_rich_club_terms",
    "mm_frame_sample",
    "ts_resample_gapfill",
    "ts_sessionize",
    "ts_drawdown",
    "ts_winsorize",
    "ts_haar_volatility",
    "analytics_ab_lift",
    "analytics_chisq_priority_era",
    "join_range_2d_parts",
]

#: The 23 oldest r11-vintage rows in registry order.
_R19_STALE_R11 = [
    "dedup_exact",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_maxsim_topk",
    "sim_bq_hamming_topk",
    "sim_ivf_probe_curve",
    "dedup_threshold_curve",
    "dedup_cluster3",
    "dedup_band_curve",
    "text_winnowing_fingerprints",
    "text_simpson_concentration",
    "mm_cdc_chunking",
    "mm_payload_uniformity",
    "mm_phash_clusters",
    "pipeline_quota_sample",
    "pipeline_rolling_cv_folds",
    "dedup_method_overlap",
    "graph_path_counts3",
    "ts_ewma",
    "ts_anomaly_topk",
    "ts_pattern_triples",
    "ts_runs",
]

prioritize(_R19_NEW + _R19_STALE_R10 + _R19_STALE_R11)

__all__ = ["QUERIES", "ORACLES", "register", "prioritize"]
