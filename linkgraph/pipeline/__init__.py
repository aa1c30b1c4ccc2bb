"""Large-scale training-data pipeline operators over the corpus/
documents tables: deduplication, similarity search, text analysis.

These are first-class engine components alongside the graph
algorithms: at 10^12-file scale the corpus feeding the link graph
needs dedup (exact + near), similarity search over embeddings, and
text quality scoring before any graph is derived. All operators are
DataFrame-first (JVM expressions); Python appears only as Arrow-
batched kernels where Spark lacks a primitive.
"""

from linkgraph.pipeline.dedup import (
    dedup_exact,
    shingles,
    minhash_signatures,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    near_dup_components,
    dedup_assignments,
    dedup_near,
    simhash_bits,
)
from linkgraph.pipeline.decontam import contamination_report, decontaminate
from linkgraph.pipeline.similarity import cosine_topk, ivf_build
from linkgraph.pipeline.textstats import (
    token_count_col,
    subword_token_count_col,
    text_stats,
    quality_score,
    language_id,
    fingerprint_col,
)
from linkgraph.pipeline.sampling import (
    sample_hash,
    sample_stratified,
)
from linkgraph.pipeline.chunking import chunk_documents

__all__ = [
    "chunk_documents",
    "sample_hash",
    "sample_stratified",
    "dedup_exact",
    "shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "near_dup_components",
    "dedup_assignments",
    "dedup_near",
    "simhash_bits",
    "contamination_report",
    "decontaminate",
    "cosine_topk",
    "ivf_build",
    "token_count_col",
    "subword_token_count_col",
    "text_stats",
    "quality_score",
    "language_id",
    "fingerprint_col",
]
