"""Text-analysis and deduplication operators for large-scale corpus pipelines.

These extend the reference's analytics surface (SURVEY §7.1 M6) with the
operations a 100 TB training-data pipeline needs: tokenization, language ID,
quality scoring, fingerprinting, repetition filters, PII hygiene
(analysis.py), exact/MinHash-LSH/SimHash/n-gram-Jaccard/winnowing
deduplication with cluster resolution (dedup.py), train/eval benchmark
decontamination (decontaminate.py), duplicated-span detection AND removal —
the fixed-L suffix-dedup approximation, measured and then applied as the
Lee et al. 2021 cut (spans.py), segment-level keep-first
dedup and boilerplate removal — the CCNet line-dedup family (lines.py),
DSIR hashed-n-gram importance weighting AND resampling for targeted corpus
selection (dsir.py), and the composed CCNet-order cleaning chain as a public
API (pipeline.clean_corpus). Everything is native Spark SQL expressions; no
Python worker runs in this package.
"""
