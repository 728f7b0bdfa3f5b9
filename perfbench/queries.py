"""The query_mix list.

It is drawn from graft.Bench's benchmark entries (the registry queries
flagged ``bench = true``) and the consumers of the shared retrieval
layouts, so that one pass builds both shared layout families (dedup
shingles and the BM25/retrieval layouts) and touches the relational,
planner-strategy (TopKPerKey) and engine-function (cosine_sim) paths.
The list is frozen: per-layer figures are named after its entries.
"""
QUERY_MIX = [
    "dedup_ngram_jaccard",   # dedup shared shingle layout
    "text_probe_bm25",       # retrieval layouts: BM25 impact index and ranking
    "eval_ndcg",             # retrieval layouts: probe relevance labels
    "text_hybrid_rrf",       # retrieval layouts: hybrid RRF fusion
    "q1_pricing_summary",    # scan and aggregate
    "q3_shipping_priority",  # three-way join and top-k
    "q_window_rank",         # grouped ranking through the TopKPerKey strategy
    "sim_cosine_topk",       # the cosine_sim engine function
]
