"""LLM-training-data pipeline operators (dedup, text quality,
tokenization, embeddings, governance, multimodal) -- the additive
tier beyond the reference's array surface (SURVEY.md section 7 M6).

Persist policy for this tier: a function that fans a DataFrame out
into multiple consumers persists it at the fan-out.

- When every consumer is INTERNAL (materialized by an action inside
  the function -- e.g. a model-table count), the function unpersists
  before returning (`bigram_lm_scores` ref-side projection for an
  external ``ref``, `duplicate_clusters` edge table, the
  linalg_blocked discipline).
- When the RETURNED PLAN references the persisted table (the common
  case), the cache entry is deliberately left alive: unpersisting
  would silently recompute the fan-out on every downstream action,
  which is the worse failure mode at corpus scale.  THE RETURNED PLAN
  PINS ITS PERSISTED INPUTS, and each such persist goes through
  ``session._track_persist``: the dedup band and k-gram tables, the
  `bigram_lm_scores` model tables (and its self-scored token-hash
  projection), the `perplexity_buckets` model and value tables,
  `tfidf_keywords`' term counts, `semantic_dedup`'s ranked and
  exploded pair tables, `cosine_pairs_bucketed`'s exploded table and
  the scalable scans' sorted copy.  A long-lived session composing
  many pipeline calls bounds cache growth with
  ``session.release_caches()`` between pipelines, or relies on LRU
  eviction (entries are MEMORY_AND_DISK; eviction costs a recompute,
  never correctness).  ``ingest.with_dense_index``'s persist is not
  tracked: its offsets and rows agree only while that cache lives.
"""

from . import dedup, governance, similarity, text, tokenize  # noqa: F401
