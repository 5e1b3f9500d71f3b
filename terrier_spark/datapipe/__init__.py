"""Training-data pipeline operators over document/embedding tables:
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity
search (brute-force, LSH-bucketed and IVF cosine over embeddings), and
text analysis (language ID, quality scores, token counts, fingerprints).
The operators are text and embeddings only.

These are the large-scale data-curation companions to the IR engine: the
same tokenize/shingle primitives, expressed as declarative DataFrame
plans that survive a 1000-executor scale-up (shingle inverted joins
instead of pairwise cross joins, bounded group sizes, JVM-side hashing).
"""

from terrier_spark.datapipe.dedup import (
    exact_duplicates,
    minhash_signatures,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from terrier_spark.datapipe.simsearch import cosine_topk, lsh_cosine_topk
from terrier_spark.datapipe.textstats import (
    language_id,
    quality_scores,
    token_counts,
    char_fingerprints,
)

__all__ = [
    "exact_duplicates", "minhash_signatures", "minhash_lsh_pairs",
    "ngram_jaccard_pairs", "simhash_fingerprints", "cosine_topk",
    "lsh_cosine_topk", "language_id", "quality_scores", "token_counts",
    "char_fingerprints",
]
