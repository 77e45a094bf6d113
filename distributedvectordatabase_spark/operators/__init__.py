from distributedvectordatabase_spark.operators.asof import asof_join
from distributedvectordatabase_spark.operators.bpe import bpe_apply, bpe_train, word_vocab
from distributedvectordatabase_spark.operators.chunking import chunk_documents, pack_documents
from distributedvectordatabase_spark.operators.mixing import (
    mix_corpus,
    mixture_report,
    stratified_sample,
)
from distributedvectordatabase_spark.operators.components import connected_components
from distributedvectordatabase_spark.operators.dedup import (
    brute_cosine_neardup_pairs,
    lsh_cosine_neardup_pairs,
    minhash_neardup_join,
    minhash_neardup_pairs,
    simhash_neardup_pairs,
)
from distributedvectordatabase_spark.operators.decontam import ngram_contamination
from distributedvectordatabase_spark.operators.knn import (
    filtered_knn,
    knn,
    knn_pruned,
    knn_single,
    recall_at_k,
)
from distributedvectordatabase_spark.operators.multimodal import (
    as_audio_table,
    as_media_table,
    audio_window_stats,
    decode_stats,
    infer_embeddings,
    resize_metadata,
    sample_frames,
)
from distributedvectordatabase_spark.operators.scrub import scrub_pii
from distributedvectordatabase_spark.operators.semdedup import (
    fit_centroids,
    semantic_dedup,
    semantic_dup_members,
)
from distributedvectordatabase_spark.operators.setsim import similarity_join
from distributedvectordatabase_spark.operators.opq import (
    OPQModel,
    fit_rotation,
    opq_encode,
    opq_search,
    opq_train,
)
from distributedvectordatabase_spark.operators.pca import pca_reduce
from distributedvectordatabase_spark.operators.pq import (
    pq_encode,
    pq_reconstruction_mse,
    pq_search,
    pq_train,
)
from distributedvectordatabase_spark.operators.range_join import time_range_join
from distributedvectordatabase_spark.operators.sq import (
    SQParams,
    sq_encode,
    sq_search,
    sq_train,
)
from distributedvectordatabase_spark.operators.search import (
    bm25_topk,
    bm25_topk_batch,
    hybrid_serve_batch,
    hybrid_topk,
    hybrid_topk_batch,
    rrf_fuse,
)
from distributedvectordatabase_spark.operators.skew import salted_aggregate
from distributedvectordatabase_spark.operators.stats import (
    distribution_metrics,
    shard_distribution,
)

__all__ = [
    "asof_join",
    "bm25_topk",
    "chunk_documents",
    "pack_documents",
    "mix_corpus",
    "mixture_report",
    "stratified_sample",
    "hybrid_topk",
    "bm25_topk_batch",
    "hybrid_topk_batch",
    "hybrid_serve_batch",
    "rrf_fuse",
    "filtered_knn",
    "ngram_contamination",
    "knn",
    "knn_pruned",
    "knn_single",
    "recall_at_k",
    "minhash_neardup_join",
    "minhash_neardup_pairs",
    "simhash_neardup_pairs",
    "lsh_cosine_neardup_pairs",
    "brute_cosine_neardup_pairs",
    "connected_components",
    "fit_centroids",
    "scrub_pii",
    "semantic_dedup",
    "semantic_dup_members",
    "similarity_join",
    "as_media_table",
    "as_audio_table",
    "audio_window_stats",
    "decode_stats",
    "infer_embeddings",
    "resize_metadata",
    "sample_frames",
    "pca_reduce",
    "pq_train",
    "OPQModel",
    "fit_rotation",
    "opq_train",
    "opq_encode",
    "opq_search",
    "pq_encode",
    "pq_search",
    "pq_reconstruction_mse",
    "time_range_join",
    "SQParams",
    "sq_train",
    "sq_encode",
    "sq_search",
    "salted_aggregate",
    "shard_distribution",
    "distribution_metrics",
]
