"""Relational + vector operators of the engine.

Each module maps a block of SURVEY.md §2:

- ``topk``        T1-T5, J1 (dense / sparse / hybrid-RRF top-k search)
- ``joins``       J2-J7 (the relation check's rules, replacement diff, dedup probe)
- ``dedup``       training-data dedup family (exact, MinHash-LSH, SimHash, Jaccard)
- ``similarity``  ANN over embedding columns (brute-force + LSH-bucketed)
- ``textanalysis``language-ID / quality / token-count / fingerprint pipelines
- ``stats``       A2/A3 collection statistics
- ``sessions``    W4/ST8 sessionization
"""
