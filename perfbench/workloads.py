"""The benchmark's workloads. README.md gives the reasoning behind each."""

SQL_FAMILIES = ["Relational", "AsOfJoin", "SkewJoin", "Funnels", "Resample", "Profile",
                "MergeUpsert", "ScaleLayouts", "ConnectorReplay"]
LLM_FAMILIES = ["Dedup", "Similarity", "TextAnalysis", "Cleaning", "Curation", "Sketches",
                "Multimodal", "Pipeline"]
STREAM_FAMILIES = ["EventStreams", "DocPipeline"]

WORKLOADS = {
    "sql_catalog": {
        "sf": 0.01, "warmup_passes": 2, "families": SQL_FAMILIES,
        "ops": ["ingest:lineitem", "ingest:orders",
                "q11_star_join", "q13_agg_hash", "q17_window_rank", "q37_asof_join",
                "q88_skew_join", "q90_merge_upsert"],
    },
    "llm_curation": {
        "sf": 0.01, "warmup_passes": 4, "families": LLM_FAMILIES + STREAM_FAMILIES,
        "ops": ["q115_dedup_containment", "q42_dedup_simhash", "q85_dedup_cluster",
                "q61_stream_dedup", "q121_stream_pii_scrub"],
    },
}
