"""The benchmark's workloads: which registered queries each one runs.

Every workload reads tables that ``tools/testdata_gen.py`` makes at scale
factor ``SF`` from the run's seed; the seed changes the data, never the
query list. Why each workload exists is stated in BENCHMARK.json. The lists
are subsets of the engine's batch, streaming and corpus families, sized so
one fresh-process run (set-up, a cold pass, three warm passes and the oracle
check) ends in about 40 s on a 4-core box: the benchmark's 70 runs must fit
in under an hour. ``streaming_hot_items_topn`` is left out because one
execution alone takes ~47 s.
"""

SF = 0.01

WORKLOADS = {
    "batch": (
        "tpch_q1",
        "tpch_q5",
        "tpch_q18",
        "hot_items_topn",
        "login_fail_triple_cep",
        "tx_match_interval_join",
    ),
    "stream": (
        "streaming_page_view",
        "streaming_dq_anomaly",
        "streaming_rollup_incremental",
    ),
    "corpus": (
        "doc_ngram_jaccard",
        "doc_perplexity_bucket",
        "doc_hash_embedding",
        "doc_bpe_encode",
        "knn_ivf",
        # The only op here that crosses the Python/Arrow boundary (mapInPandas).
        "multimodal_features",
    ),
}
