"""LLM-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding cosine), similarity search, text analysis,
multimodal column plumbing.

These generalize the reference's operators (A2 exact dedup, M7 CLIP
vector similarity — SURVEY.md §2) to the training-data-pipeline surface
required by BASELINE.json's north star, every operator designed for
100 TB.
"""

from pyspark_recs.llmops.hashing import md5_long, MINHASH_COEFFS, MINHASH_PRIME
from pyspark_recs.llmops.dedup import (
    containment_pairs,
    exact_dedup_groups,
    hamming_neardup_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from pyspark_recs.llmops.textstats import (
    char_fingerprints,
    quality_scores,
    token_stats,
    tokens,
)
from pyspark_recs.llmops.similarity import (
    cosine_topk_bruteforce,
    embedding_neardup_pairs,
    ivf_topk,
    scalar_quantize,
)
