"""Central query registry: name -> (spark_fn, oracle_sql | None).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this. Every operator the engine claims is registered here so the
driver's DuckDB comparison covers it; ops that aren't ANSI-SQL
expressible register ``None`` (driver falls back to rows-only).

ORDER MATTERS: the driver verifies only the FIRST 50 registrations
per round, so ``DRIVER_WINDOW`` below pins which 50 get this round's
CORRECTNESS rows. Queries proven green in a prior round's artifact
rotate out to make room for never-verified ones; COVERAGE.md is the
ledger of which artifact proved what, so rotation accumulates
evidence instead of churning it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreduce_rust_spark.operators import wordcount

QueryFn = Callable[[SparkSession, str], DataFrame]

_STAGED: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    if name in _STAGED:
        raise ValueError(f"duplicate query name {name!r}")
    _STAGED[name] = (fn, oracle)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _ordered().items()}


def oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _ordered().items() if sql is not None}


# The 50 queries the driver verifies this round (see module docstring).
# The round-13 window went 50/50 green (CORRECTNESS_r13.json, see
# COVERAGE.md). Its first 11 rows (the similarity/PQ kernel rewrites
# and jpeg_gray_roundtrip) rotate out for the 11 rank-test closed
# forms fused after round 13, which have no driver row on the fused
# code yet. The rest of the round-13 window stays; among it
# pagerank_exact_parts, ppr_seeded_parts and kmeans_exact_embeddings,
# whose loops now run through the shared ``graph._rank_rounds`` and
# ``pipeline._lloyd_rounds``. embedding_pca_topk (rows-only) still gets
# no slot: its Gram kernel rides on embedding_covariance's green rows.
DRIVER_WINDOW = [
    # --- rank-test closed forms fused after round 13 (one ordered
    # window + one grouped aggregate, no join) ---
    "kruskal_wallis_events", "stream_kruskal_wallis",
    "mood_median_k_events", "stream_mood_median_k",
    "tukey_fences_orders", "friedman_events", "stream_friedman",
    "t_closeness_orders", "stream_t_closeness",
    "hodges_lehmann_events", "stream_hodges_lehmann",
    # --- r12 rewrites: codec kernel spreads + ADPCM vectorize ---
    "jpeg_color_roundtrip",
    "rasterize_glyph_metrics", "multimodal_video_frames",
    "video_scene_cuts",
    "multimodal_audio_pcm_stats", "multimodal_audio_adpcm_stats",
    "multimodal_audio_alaw_stats", "multimodal_audio_float_stats",
    "stream_audio_pcm_stats", "stream_audio_adpcm_stats",
    "stream_audio_alaw_stats", "stream_audio_float_stats",
    # --- r12 rewrites: text-stage spreads ---
    "dup_span_docs", "collocations_pmi_docs",
    # --- r12 rewrite: spread inside the shared co-purchase edge
    # build — every consumer of the memoized edge table; PPR and
    # PageRank also run the shared rank loop ---
    "triangle_count_copurchase", "copurchase_degree_hist",
    "assortativity_copurchase", "clustering_coeff_parts",
    "kcore_parts", "ktruss_edges_parts",
    "ppr_seeded_parts", "pagerank_exact_parts",
    "edge_support_hist_parts", "linkpred_common_neighbors",
    "linkpred_resource_allocation", "rich_club_copurchase",
    "harmonic_centrality_seeds", "component_stats_parts",
    # --- round-13 rewrites; k-means also runs the shared Lloyd's
    # loop ---
    "bpe_train_merges", "bpe_encode_docs",
    "assoc_rules_parts", "item_cf_neighbors",
    "kmeans_exact_embeddings",
    "kendall_tau_events", "stream_kendall_tau",
    # --- round-13 lazy-checkpoint sample (stream closed forms) ---
    "stream_rank_biserial", "stream_qte",
    "stream_tukey_fences", "stream_pettitt_changepoint",
]


def _ordered() -> dict[str, tuple[QueryFn, str | None]]:
    """DRIVER_WINDOW first (driver checks the first 50), then the rest
    in registration order. Raises on a window name that doesn't exist —
    a rename must break loudly here, not silently shrink the window."""
    missing = [n for n in DRIVER_WINDOW if n not in _STAGED]
    if missing:
        raise KeyError(f"DRIVER_WINDOW names not registered: {missing}")
    out = {name: _STAGED[name] for name in DRIVER_WINDOW}
    out.update((n, v) for n, v in _STAGED.items() if n not in out)
    return out


# --- registrations -----------------------------------------------------

register("word_count", wordcount.word_count, wordcount.WORD_COUNT_ORACLE)
register("word_count_sorted", wordcount.word_count_sorted,
         wordcount.WORD_COUNT_SORTED_ORACLE)

from mapreduce_rust_spark.operators import mapreduce_compat  # noqa: E402
from mapreduce_rust_spark.operators import analytic, bloom, dataquality, graph, merge, olap, relational, skew, temporal, tpch, udaf  # noqa: E402

register("mr_word_count", mapreduce_compat.mr_word_count,
         mapreduce_compat.MR_WORD_COUNT_ORACLE)
register("mr_sessionize_secondary_sort",
         mapreduce_compat.mr_sessionize_secondary_sort,
         mapreduce_compat.MR_SESSIONIZE_ORACLE)

for _name, _fn, _oracle in relational.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in analytic.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in olap.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in tpch.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in merge.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in dataquality.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in temporal.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in skew.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in bloom.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in udaf.REGISTRATIONS:
    register(_name, _fn, _oracle)

for _name, _fn, _oracle in graph.REGISTRATIONS:
    register(_name, _fn, _oracle)

from mapreduce_rust_spark.llm import bpe, dedup, evaluation, multimodal, pipeline, quality, sharding, similarity, spans, textanalysis  # noqa: E402
from mapreduce_rust_spark.operators import experiment, monitoring  # noqa: E402
from mapreduce_rust_spark.streaming import stateful, windows  # noqa: E402

for _mod in (dedup, similarity, textanalysis, multimodal, pipeline,
             quality, sharding, spans, bpe, monitoring, experiment,
             evaluation,
             windows, stateful):
    for _name, _fn, _oracle in _mod.REGISTRATIONS:
        register(_name, _fn, _oracle)
