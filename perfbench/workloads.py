"""The benchmark's workloads: which registry queries each one sends.

Every query named here has a DuckDB oracle and writes nothing outside the
run's own directories. Left out on purpose: the bench-only extras and
controls (no oracle), and the queries that write to hard-coded paths in
the system temp directory - the FileGate round trips, the sheet-staged
import chain (ImportCapstone, RelatedImport, ImportFinalize),
ExportCapstone and the bucketed/SCD2 landings (q260, q269, q270, q154).
q197's oracle takes minutes in DuckDB at sf0.1, so it is left out too.
"""

WORKLOADS = {
    # A warm session answering dashboard, report, filter and search
    # requests in a seeded order: every seventh read-side query (reports,
    # operators, dsl, by name) plus one lookup each from export, text,
    # vector and media. Cost is the per-job floor, not data volume.
    "serve_sf01": {
        "mode": "serve",
        "seeded_order": True,
        "warm_passes": 1,
        "max_passes": 60,
        "queries": [
            "q01_bestsellers", "q08_orders_dashboard", "q10_segment_facet",
            "q128_cart_rule_profile", "q13_term_search", "q17_offset_page",
            "q210_winsorized_stats", "q21_keyset_page", "q24_relevance_sort",
            "q281_effective_price_window", "q45_search_page",
            "q54_local_supplier_revenue", "q64_part_melt", "q82_rich_idle_customers",
            "q29_export_extract", "q72_vocab_topk", "q40_ann_topk", "q43_media_meta",
        ],
    },
    # One cold pass of the nightly batch, every result landed as parquet:
    # k-means training with an IVF query over it, PageRank and LPA
    # fixpoints, text and image near-dup pipelines (ChainCache owners and
    # consumers), upsert, pseudonymization, constraints, a media search
    # whose index is built at construction time, and the cheap per-document
    # and per-row steps - over half the queries, so the latency median sits
    # inside their cluster instead of on the edge between the two groups.
    # Construction-time jobs dominate.
    "batch_sf01": {
        "mode": "batch",
        # a nightly pipeline runs in its own fixed order; a seeded order
        # moved JIT warm-up between queries and the cold latency median
        # with it by up to 40% from run to run
        "seeded_order": False,
        "warm_passes": 0,
        "max_passes": 0,
        "queries": [
            "q137_kmeans_train", "q138_ivf_trained",
            "q152_copurchase_pagerank", "q188_lpa_communities", "q175_triangle_count",
            "q262_image_neardup", "q263_image_dedup_decision",
            "q131_lsh_dedup_pipeline", "q69_neardup_clusters",
            "q275_dedup_canonical", "q277_cross_source_dups",
            "q26_upsert_customers", "q206_pseudonymize", "q187_constraint_audit",
            "q135_media_search",
            "q30_dedup_exact", "q33_lang_id", "q34_fingerprints",
            "q59_length_percentiles", "q71_stratified_sample", "q77_subword_counts",
            "q178_weighted_sample", "q44_media_features", "q76_frame_sample",
            "q259_audio_decimate_stats", "q42_label_stats", "q75_embedding_neardup",
            "q28_props_extract", "q243_k_anonymity", "q31_token_counts",
            "q274_mojibake_audit", "q241_cron_fires", "q134_feed_provider",
            "q261_audio_frame_energy", "q25_string_ops", "q124_querystring_search",
        ],
    },
}


def select(workload, registry):
    """The workload's query names, checked against the registry: each must
    exist, carry an oracle and not be a bench-only extra."""
    by_name = {q["name"]: q for q in registry}
    names = workload["queries"]
    bad = [n for n in names
           if n not in by_name or by_name[n]["extra"] or not by_name[n]["oracle"]]
    if bad or len(set(names)) != len(names):
        raise ValueError("workload names unknown, oracle-less or repeated: %s" % bad)
    return list(names)
