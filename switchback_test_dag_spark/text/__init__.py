"""Text-analysis and deduplication operators for large-scale corpus pipelines.

These extend the reference's analytics surface (SURVEY §7.1 M6) with the
operations a 100 TB training-data pipeline needs: tokenization, language ID,
quality scoring, fingerprinting, repetition filters, PII hygiene
(analysis.py), exact fingerprint and exact n-gram-Jaccard deduplication
(dedup.py), train/eval benchmark
decontamination (decontaminate.py), duplicated-span detection — the fixed-L
suffix-dedup approximation of Lee et al. 2021 (spans.py), segment-level
boilerplate removal — the CCNet document-frequency scrub (lines.py), and the
composed CCNet-order cleaning chain as a public API
(pipeline.clean_corpus). Everything is native Spark SQL expressions; no
Python worker runs in this package.
"""
