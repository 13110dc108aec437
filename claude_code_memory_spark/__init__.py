"""claude_code_memory_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of Durafen/Claude-code-memory.

The reference (read-only at /root/reference) is a semantic code-memory
system: scan → parse → chunk → embed (dense + BM25 sparse) → vector store →
semantic/keyword/hybrid top-k search, maintained incrementally and via a
filesystem-watcher streaming path.

This package re-expresses every one of those operators Spark-first:

- ``functions/``   pure Column-expression helpers (hashing, vector math, text)
- ``operators/``   relational + vector operators (top-k, RRF, dedup, ANN, …)
- ``sources/``     scans and parsers (project files, python AST, chat JSONL)
- ``embeddings/``  embedders (deterministic hash embedder, BM25 fit/encode)
- ``plans/``       multi-statement choreography (incremental merge pipeline)
- ``streaming/``   Structured Streaming paths (debounce, incremental foreachBatch)
- ``queries/``     the driver-facing query catalog with DuckDB oracle SQL

Design rules (see SURVEY.md §7): DataFrame/SQL only — no RDDs; Catalyst
does pushdown/pruning/join-selection. ``api.index`` is the exception: a
project's batch is entity-scale, so it runs as one driver pass over
Python rows, and the table store reads and writes its parquet through
pyarrow; Spark reads the same files for ``sql()`` and the reports.
"""

__version__ = "0.1.0"
