"""The benchmark's workloads.

A workload is a set of query families; a family is the part of a
`SparkEntry.queries` key before its first `_`. The three workloads
partition every key (a test checks this, so a new family cannot go
unbenchmarked). One run times the workload's `timed` queries, because one
full pass of a workload costs 40-65 s of wall on 4 cores and one run has
about a minute. perfbench/BASELINE.md compares the layer mix of the
`curation` and `stream_ref` samples with that of a traced pass over the
whole workload. The correctness check covers the same queries.
`stages` are the shared stages (`DedupOps.sharedStageList` names) the
timed queries read; setup builds them, so no timed pass builds one.
"""

WORKLOADS = {
    "olap": {
        "families": ["sql", "agg", "join", "window", "events", "json", "sample", "set",
                     "array", "cross", "group", "merge", "nested", "pivot", "profile",
                     "scalar", "sort", "topn", "unpivot"],
        "why": ("relational queries: construction-time jobs, Catalyst, codegen and "
                "scheduling dominate; no shared stage, no streaming, so those changes leave it flat"),
        "stages": [],
        "timed": ["agg_typed_aggregator", "sql_shipmode_priority", "events_cohort_retention",
                  "join_asof_native", "window_range_frame", "sample_hash_docs",
                  "json_props_extract", "set_except"],
    },
    "curation": {
        "families": ["text", "dedup", "curation", "similarity", "multimodal", "quality",
                     "graph", "embedding", "pack", "contamination", "pipeline", "anomaly"],
        "why": ("LLM-data curation: shared-stage builds in setup, memo reads and custom "
                "kernels; shows work that moves between setup and queries"),
        "stages": ["shingle_sets", "simhash_sketch", "dup_windows", "winnow_fps",
                   "quantized_vectors", "kmeans_assign", "ann_lsh", "token_stats",
                   "decontam_stats"],
        "timed": ["dedup_simhash", "text_winnowing_fingerprint", "similarity_ann_lsh",
                  "embedding_pca_project", "quality_benford_totalprice", "curation_epoch_plan",
                  "quality_referential_check", "curation_funnel_report"],
    },
    "stream_ref": {
        "families": ["streaming", "source", "sink", "map", "filter", "union", "stateful",
                     "tumbling"],
        "why": ("the Flink reference's semantics: per-micro-batch cost, state-store and "
                "checkpoint commits, file-sink writes; tasks idle most of the wall"),
        "stages": [],
        "timed": ["streaming_concat_prefixes", "streaming_window_max", "sink_partitioned_parquet",
                  "filter_adults", "map_uppercase", "union_all"],
    },
}


def family(name):
    return name.split("_", 1)[0]


def members(workload, keys):
    """The keys of `keys` that belong to `workload`."""
    fams = set(WORKLOADS[workload]["families"])
    return sorted(k for k in keys if family(k) in fams)
