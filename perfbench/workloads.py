"""Workload definitions: which engine ops each workload runs, and why.

Each op is a key of ``engine.QUERIES``; one execution is the registered
query function call followed by a ``noop``-sink write of the returned frame.

The lists are short on purpose.  A run pays a JVM start and a cold first
pass (20-35 s on a 4-core host under CPU steal) before two more set-ups
and the timed window, and the benchmark is run about fifty times in under
an hour, so a warm pass has to stay within a few seconds.  Each list
therefore keeps one op per engine layer it is meant to load.  ``analytics_batch`` bypasses
every layer that only ``curation_ingest`` uses (Python workers, streaming,
writes), which makes it the no-change control for optimisations of those.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "analytics_batch": {
        "why": "JVM-only scan/join/aggregate/window ops (TPC-H Q1 and Q13, "
               "event paths, top-k window, approximate quantiles): no Python "
               "workers, state or writes; per-query driver overhead dominates",
        "ops": [
            "agg_groupby_pricing",  # TPC-H Q1 shape (aggregates)
            "tpch_q13_custdist",  # outer join + two shuffles (composite)
            "evt_path_transitions",  # events
            "win_topk_per_group",  # windows
            "agg_approx_quantile",  # rows-only: checked by pinned digest
        ],
    },
    "curation_ingest": {
        "why": "LLM-data curation (pandas UDF, hashed TF, exact dedup, image "
               "phash, IVF top-k) plus a stateful streaming dedup and a "
               "partitioned sink: Python workers, cache, state store, io writes",
        "ops": [
            "udf_pandas_scalar",  # udfs: Arrow/pandas scalar UDF
            "text_hashing_tf",  # text
            "dedup_keep_best",  # dedup: fingerprint + ranked window
            "mm_phash_bits",  # multimodal: Arrow UDF over bytes
            # similarity: driver-side Lloyd loop over collected centroids
            # (core.collect_model_artifact) and persisted frames
            "sim_ivf_topk",
            # streaming: staged replay source into a dropDuplicates state
            # store
            "stream_dedup_state",
            "sink_parquet_partitioned",  # io: partitioned write + read-back
        ],
    },
}

# Engine modules whose query functions the workloads call; each gets a
# ``<module>.build_s`` and ``<module>.action_s`` per-layer metric.
LAYER_MODULES = (
    "composite", "aggregates", "events", "windows", "text", "dedup",
    "similarity", "multimodal", "udfs", "streaming", "io",
)
