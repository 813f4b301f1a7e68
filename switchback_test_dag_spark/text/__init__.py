"""Text-analysis and deduplication operators for large-scale corpus pipelines.

These extend the reference's analytics surface (SURVEY §7.1 M6) with the
operations a 100 TB training-data pipeline needs: tokenization, language ID,
quality scoring and fingerprinting (analysis.py), exact fingerprint and exact
n-gram-Jaccard deduplication (dedup.py), train/eval benchmark decontamination
(decontaminate.py), segment-level boilerplate removal — the CCNet
document-frequency scrub (lines.py), and the composed CCNet-order cleaning
chain as a public API (pipeline.clean_corpus). Everything is native Spark SQL
expressions; no Python worker runs in this package.
"""
