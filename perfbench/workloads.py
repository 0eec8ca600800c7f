"""The benchmark's workloads.

The seed permutes corpus_dedup's query order (the list itself is fixed)
and drives the ods_writeback input generator (odsgen.py).
"""

QUERIES = {
    # Fused expressions, the dedup and similarity operators and graftbridge
    # checkpoints carry the time. One query each for shingles, minhash,
    # simhash, ANN, PQ encoding, PQ training and k-means.
    "corpus_dedup": [
        "q35_fingerprint", "q36_minhash_pairs", "q37_simhash",
        "q84_ivf_search", "q93_pq_encode", "q96_pq_train", "q109_kmeans_step",
    ],
}

WORKLOADS = ["corpus_dedup", "ods_writeback"]


def query_order(workload, seed):
    import random
    order = list(QUERIES[workload])
    random.Random(seed).shuffle(order)
    return order
