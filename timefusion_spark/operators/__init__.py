"""Large-scale data-pipeline operators (dedup, similarity, text analysis,
multimodal) — the LLM-training-data surface layered on the engine.

Everything here is partition-parallel by construction: per-row array
expressions or vectorized Arrow batch kernels (no row-at-a-time Python),
shuffles only on explicit keys (LSH band buckets, group keys), broadcast
for small sides.
"""
