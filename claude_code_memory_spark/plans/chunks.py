"""Chunk construction: entities/relations/implementations → storable chunks.

Reference semantics:
- EntityChunk id format "{file}::{type}::{name}::{chunk_type}::{md5_8}"
  (analysis/entities.py:121-127); metadata vs implementation chunk types
  (entities.py:45); X5 field-weighted content (entities.py:99-119); X6
  6-component BM25 doc (entities.py:145-221); F6 entity-type gating of
  has_implementation (processing/processors.py:38-43).
- RelationChunk id "{from}::{type}::{to}[::import_type]"
  (entities.py:244-262).
- point id = int(sha256(chunk_id)[:16], 16) (storage/qdrant.py:1423-1430).

Everything is a pure column expression — the whole chunk build is one
shuffle-free projection over the parsed records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claude_code_memory_spark.functions.hashing import content_hash, md5_8, point_id
from claude_code_memory_spark.functions.text import camel_to_spaced, weighted_content

NO_IMPL_TYPES = ("import", "variable", "constant")  # processors.py:38-43


def entity_metadata_chunks(entities: DataFrame, impl_entities: DataFrame) -> DataFrame:
    """Metadata chunks: weighted content + BM25 doc per entity."""
    has_impl_names = impl_entities.select(
        F.col("entity_name").alias("__impl_name")
    ).distinct()
    content = weighted_content(F.col("entity_name"), F.col("observations"))
    bm25_doc = F.concat_ws(
        " ",
        F.col("entity_name"),
        F.col("entity_name"),  # 2x name boost (entities.py:145-221)
        camel_to_spaced(F.col("entity_name")),
        F.coalesce(F.element_at("observations", 1), F.lit("")),
        F.col("entity_type"),
        F.coalesce(F.element_at(F.split(F.col("file_path"), "/"), -1), F.lit("")),
    )
    df = entities.join(
        has_impl_names, entities.entity_name == F.col("__impl_name"), "left"
    ).withColumn(
        "has_implementation",
        F.when(F.col("entity_type").isin(*NO_IMPL_TYPES), F.lit(False)).otherwise(
            F.col("__impl_name").isNotNull()
        ),
    )
    chunk_id = F.concat_ws(
        "::",
        F.coalesce("file_path", F.lit("")),
        F.col("entity_type"),
        F.col("entity_name"),
        F.lit("metadata"),
        md5_8(content),
    )
    return df.select(
        chunk_id.alias("chunk_id"),
        point_id(chunk_id).alias("point_id"),
        "entity_name",
        "entity_type",
        F.lit("metadata").alias("chunk_type"),
        content.alias("content"),
        bm25_doc.alias("content_bm25"),
        content_hash(content).alias("content_hash"),
        "has_implementation",
        "file_path",
        "line_number",
        "end_line_number",
    )


def implementation_chunks(impl: DataFrame) -> DataFrame:
    """Implementation chunks: the code itself (progressive disclosure —
    searched only on demand, entities.py:84-143)."""
    chunk_id = F.concat_ws(
        "::",
        F.coalesce("file_path", F.lit("")),
        F.col("entity_type"),
        F.col("entity_name"),
        F.lit("implementation"),
        md5_8(F.col("content")),
    )
    return impl.select(
        chunk_id.alias("chunk_id"),
        point_id(chunk_id).alias("point_id"),
        "entity_name",
        "entity_type",
        F.lit("implementation").alias("chunk_type"),
        F.col("content"),
        F.lit(None).cast("string").alias("content_bm25"),
        content_hash(F.col("content")).alias("content_hash"),
        F.lit(True).alias("has_implementation"),
        "file_path",
        "line_number",
        "end_line_number",
    )


def relation_chunks(relations: DataFrame) -> DataFrame:
    """Relation chunks (entities.py:224-306): id from the endpoint triple."""
    chunk_id = F.concat_ws(
        "::",
        F.col("from_entity"),
        F.col("relation_type"),
        F.col("to_entity"),
        F.coalesce("import_type", F.lit("")),
    )
    content = F.concat_ws(" ", F.col("from_entity"), F.col("relation_type"), F.col("to_entity"))
    rows = relations.select(
        chunk_id.alias("chunk_id"),
        point_id(chunk_id).alias("point_id"),
        F.col("from_entity").alias("entity_name"),
        F.lit(None).cast("string").alias("entity_type"),
        F.lit("relation").alias("chunk_type"),
        content.alias("content"),
        F.lit(None).cast("string").alias("content_bm25"),
        content_hash(content).alias("content_hash"),
        F.lit(False).alias("has_implementation"),
        "file_path",
        F.lit(None).cast("int").alias("line_number"),
        F.lit(None).cast("int").alias("end_line_number"),
    )
    # A4 relation dedup (processors.py:346-394): one chunk per triple. When
    # several files hold the triple (e.g. a vendored copy), the smallest
    # file_path owns the chunk, so every build keeps the same row.
    rest = [c for c in rows.columns if c not in ("chunk_id", "file_path")]
    return (
        rows.groupBy("chunk_id")
        .agg(F.min(F.struct("file_path", *rest)).alias("__r"))
        .select("chunk_id", *[F.col(f"__r.{c}").alias(c) for c in rows.columns[1:]])
    )
