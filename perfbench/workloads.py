"""The benchmark's workloads: input size, the fixed query mix, and the
derivations its queries share.

A mix runs in a fixed order from one client in a closed loop: each query
is issued only after the previous one has been fully materialized.

Registry queries are called as ``registry.queries()[name](spark, dir)``
and checked against ``registry.oracles()[name]``; ``WC_QUERY`` is built
from the engine's public MapReduce API instead.
"""

from __future__ import annotations

# Input scale per workload (gen.ROWS_AT_SF1 times sf).
SF = {"llm_curation": 0.004, "olap_stream": 0.005}

# The reference's own job: word count with whole corpus files as the map
# splits, through core.runner.run_job with the wc_combine map-side
# combiner (R=8), written by the globally sorted text sink. It is checked
# by reading the sink back.
WC_QUERY = "wc_runjob_combine_sorted"

MIXES = {
    "llm_curation": [
        "bpe_train_merges", "bpe_encode_docs", "knn_lsh", WC_QUERY,
    ],
    "olap_stream": [
        "q3_shipping_priority", "kruskal_wallis_events",
        "stream_kruskal_wallis", "stream_tumbling_counts",
    ],
}

# Derivations a session memo shares between queries of one mix: the
# first consumer pays, later consumers hit. Counted per run (each run
# is a fresh session), so every derivation is charged exactly once.
SHARED = {
    "llm_curation": {
        "bpe_merges": ["bpe_train_merges", "bpe_encode_docs"],
    },
}


def is_twin(name: str) -> bool:
    return name.startswith("stream_") or name.startswith("stateful_")


def shared_share(workload: str) -> float:
    """Share of the mix's queries that consume a derivation another
    query of the same mix also consumes."""
    consumers = {q for qs in SHARED.get(workload, {}).values() for q in qs}
    return round(len(consumers) / len(MIXES[workload]), 4)
