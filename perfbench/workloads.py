"""The benchmark's workloads: named lists of registered queries.

Each workload runs in its own process on one Spark session.  Why each was
chosen, and which layers it is meant to expose, is recorded in
``perfbench/README.md``; the one-line reasons also sit in BENCHMARK.json.
Each list has an odd length, so the median of the pooled executions falls
inside one query's executions instead of on the gap between two queries.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Read-only scans, Catalyst planning, joins and aggregates: no Python
    # UDFs, no pins, no streams.
    "relational": (
        "tpch_q3",
        "tpch_q18",
        "ndsh_q1",
        "ndsh_q9",
        "join_range",
        "agg_quantiles",
        "agg_var_corr",
    ),
    # The LLM-data-pipeline operators, batch and streamed: near-duplicate and
    # exact dedup (lru_persist pins), document chunking, an Arrow UDF, and a
    # Structured Streaming replay with a state store, drained inside q.fn.
    "pipeline": (
        "text_minhash_ngrams",
        "dedup_exact",
        "text_chunk_documents",
        "udf_grouped_agg_gmean",
        "stream_tumbling_replay",
    ),
}
