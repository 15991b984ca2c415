"""LLM-data-pipeline operators (SURVEY.md §2.11 #135-140 + north-star
extensions): deduplication (exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine), similarity search (brute-force cosine
top-k, random-hyperplane LSH), and text analysis (quality scoring,
language-ID, token counting, fingerprinting, tf-idf, multimodal
binary plumbing).

Engine-parity strategy (all verified bit-exact Spark 4.1.2 vs DuckDB
1.0.0 in SURVEY.md §0.1-style probes):

- **Hash family**: ``H(k, s) = first 15 hex digits of md5(k || '|' || s)
  as bigint`` — Spark ``conv(substr(md5(..),1,15),16,10)::bigint`` ≡
  DuckDB ``('0x' || substr(md5(..),1,15))::bigint``.  60-bit, positive,
  deterministic, engine-independent.
- **Dot products** in double with identical left-to-right summation:
  Spark ``aggregate(zip_with(a,b,(x,y)->double(x)*double(y)),0D,+)`` ≡
  DuckDB ``list_sum(list_transform(range, i -> a[i]::double *
  b[i]::double))`` (verified bit-identical; never use DuckDB's
  float32 ``list_dot_product`` / ``list_cosine_similarity``).

100-TB design notes (BASELINE.json:6) are in each docstring: the
declared queries run at test SF, but every plan is chosen so the same
code survives a 1000-executor deployment — LSH banding instead of
quadratic self-joins, blocking keys on the exact paths, no
driver-side collects, map-side-combinable aggregations.
"""

# Round-8 split: the implementations live in llm_common / llm_dedup /
# llm_ann / llm_text (cohesive families, unchanged registry names).
# This module remains the single import surface the rest of the repo,
# the tests, and the scripts use — every public and test-consumed
# private name is re-exported verbatim, and importing it registers
# every llm_* declared query exactly as before.

from sparketl.operators.llm_common import (  # noqa: F401
    _DOT_D,
    _DOT_S,
    _EMB_PARALLEL_MIN_BYTES,
    _JACCARD_STATS_MIN_BYTES,
    _L2_D,
    _L2_S,
    _NORM2_D,
    _NORM2_S,
    _PAIR_ROWS_PER_PART,
    _PARALLEL_MAX_BYTES,
    _PIN_KEEP,
    _SHINGLES_D,
    _SHINGLES_S,
    _TOKS_D,
    _TOKS_S,
    _h_duck,
    _h_spark,
    _maybe_parallel,
    _parallel,
    _pin,
    _scan_bytes,
)
from sparketl.operators.llm_dedup import (  # noqa: F401
    _LSH_BANDS,
    _MINHASH_K,
    _MOD60,
    _SIMHASH_BITS,
    _SIMHASH_D,
    _SIMHASH_S,
    _THASH_D,
    _THASH_S,
    _jaccard_pair_counts,
    llm_dedup_exact,
    llm_dedup_minhash_lsh,
    llm_dedup_ngram_dfcap,
    llm_dedup_ngram_jaccard,
    llm_dedup_simhash,
)
from sparketl.operators.llm_ann import (  # noqa: F401
    _SEMDEDUP_TAU,
    _ann_oracle_sql,
    _assign_expr,
    _cen_frame,
    _cens_expr,
    _centroids,
    _dlit,
    _hyperplanes,
    _ivf_cos_topk,
    _multiprobe_oracle_sql,
    _register_similarity_eval_and_quantize,
    _semdedup_drops,
    kmeans_train,
    llm_embed_cosine_neardup,
    llm_ivf_centroids,
    llm_ivf_search,
    llm_ivf_search_nprobe,
    llm_kmeans_iterate,
    llm_pq_adc_search,
    llm_pq_codes,
    llm_semantic_dedup,
    llm_similarity_ann_lsh,
    llm_similarity_ann_multiprobe,
    llm_similarity_topk,
)
from sparketl.operators.llm_text import (  # noqa: F401
    _LANG_MARKERS,
    _lang_score,
    llm_doc_chunking,
    llm_doc_fingerprint,
    llm_lang_id,
    llm_multimodal_binary,
    llm_pii_redaction,
    llm_text_quality,
    llm_tfidf_term_stats,
    llm_tfidf_top_term,
    llm_token_count,
    llm_unigram_nll,
)
