"""The driver-side chunk builders and BM25 encoder (plans/chunks.py,
embeddings/bm25.py) against the Spark column expressions they replace.

The oracles below are those expressions, kept here verbatim in shape:
`functions/hashing.py` and `functions/text.py` columns, the
`min(struct(file_path, ...))` relation-chunk owner, and the explode /
groupBy / join BM25 transform. Every builder must give the same row
multiset, value for value."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from claude_code_memory_spark.embeddings import bm25
from claude_code_memory_spark.functions.hashing import content_hash, md5_8, point_id
from claude_code_memory_spark.functions.text import camel_to_spaced, tokenize, weighted_content
from claude_code_memory_spark.plans.chunks import (
    CHUNK_COLUMNS,
    NO_IMPL_TYPES,
    entity_metadata_chunks,
    implementation_chunks,
    memory_chunk,
    relation_chunks,
)

ENTITY_DDL = (
    "entity_name string, entity_type string, file_path string, line_number int, "
    "end_line_number int, observations array<string>, signature string, docstring string"
)
IMPL_DDL = (
    "entity_name string, entity_type string, file_path string, line_number int, "
    "end_line_number int, content string, complexity int"
)
RELATION_DDL = (
    "from_entity string, to_entity string, relation_type string, context string, "
    "confidence double, import_type string, file_path string"
)


def _entity(name, etype, path, obs):
    return {
        "entity_name": name, "entity_type": etype, "file_path": path,
        "line_number": 3, "end_line_number": 9, "observations": obs,
        "signature": None, "docstring": None,
    }


ENTITIES = [
    # non-ASCII identifiers and paths
    _entity("Ünïcødé_Name", "class", "pkg/mödule.py", ["Döc strîng", "zweite Zeile"]),
    _entity("ΣΟΦΟΣ_Κλάση", "class", "pkg/greek.py", ["Σοφός"]),
    _entity("ÀbcDéf", "function", "pkg/a.py", ["x"]),
    # CamelCase with digits, leading and trailing underscores
    _entity("HTTPServer2Go", "class", "pkg/a.py", ["A server.", "Second.", "Third."]),
    _entity("getX2Value", "method", "pkg/a.py", ["get"]),
    _entity("a1B2c3D", "function", "pkg/a.py", ["mixed"]),
    _entity("_private_helper_", "function", "pkg/a.py", ["helper"]),
    _entity("__dunder__", "method", "pkg/a.py", ["dunder"]),
    # NULL and single-element observations, a NULL first element
    _entity("no_obs", "function", "pkg/b.py", None),
    _entity("one_obs", "function", "pkg/b.py", ["only"]),
    _entity("null_first", "function", "pkg/b.py", [None, "tail", None, "end"]),
    _entity("empty_first", "function", "pkg/b.py", ["", "tail"]),
    # NULL file_path: a manual memory
    _entity("memory", "documentation", None, ["remember this"]),
    # a no-implementation type whose name has an implementation chunk
    _entity("_private_helper_", "variable", "pkg/c.py", ["shadow"]),
    _entity("dir_path", "file", "pkg/sub/", ["trailing slash"]),
]

IMPL = [
    {"entity_name": n, "entity_type": t, "file_path": p, "line_number": 1,
     "end_line_number": 4, "content": c, "complexity": 1}
    for n, t, p, c in [
        ("HTTPServer2Go", "class", "pkg/a.py", "class HTTPServer2Go:\n    pass\n"),
        ("_private_helper_", "function", "pkg/a.py", "def _private_helper_():\n    return 'ü'\n"),
        ("Ünïcødé_Name", "class", "pkg/mödule.py", "class Ünïcødé_Name: ...\n"),
        ("memory", "documentation", None, "free text"),
        ("empty", "function", "pkg/b.py", ""),
    ]
]


def _relation(src, dst, rtype, itype, path):
    return {
        "from_entity": src, "to_entity": dst, "relation_type": rtype,
        "context": None, "confidence": 1.0, "import_type": itype, "file_path": path,
    }


RELATIONS = [
    # one triple held by two files (a vendored copy): the smaller owns it
    _relation("f", "g", "calls", None, "vendor/copy0/a.py"),
    _relation("f", "g", "calls", None, "a.py"),
    _relation("f", "g", "calls", "resolved", "b.py"),
    _relation("Ünïcødé_Name", "Base", "inherits", None, "pkg/mödule.py"),
    _relation("app.py", "os", "imports", "from", "app.py"),
    _relation("app.py", "os", "imports", "", "app2.py"),
    _relation("m", "n", "calls", None, None),
    _relation("m", "n", "calls", None, "z.py"),
]


# -- the Spark column expressions the builders replace (oracles) ----------


def _spark_metadata(entities, impl):
    has_impl_names = impl.select(F.col("entity_name").alias("__impl_name")).distinct()
    content = weighted_content(F.col("entity_name"), F.col("observations"))
    bm25_doc = F.concat_ws(
        " ",
        F.col("entity_name"),
        F.col("entity_name"),
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
        "::", F.coalesce("file_path", F.lit("")), F.col("entity_type"),
        F.col("entity_name"), F.lit("metadata"), md5_8(content),
    )
    return df.select(
        chunk_id.alias("chunk_id"), point_id(chunk_id).alias("point_id"),
        "entity_name", "entity_type", F.lit("metadata").alias("chunk_type"),
        content.alias("content"), bm25_doc.alias("content_bm25"),
        content_hash(content).alias("content_hash"), "has_implementation",
        "file_path", "line_number", "end_line_number",
    )


def _spark_implementation(impl):
    chunk_id = F.concat_ws(
        "::", F.coalesce("file_path", F.lit("")), F.col("entity_type"),
        F.col("entity_name"), F.lit("implementation"), md5_8(F.col("content")),
    )
    return impl.select(
        chunk_id.alias("chunk_id"), point_id(chunk_id).alias("point_id"),
        "entity_name", "entity_type", F.lit("implementation").alias("chunk_type"),
        F.col("content"), F.lit(None).cast("string").alias("content_bm25"),
        content_hash(F.col("content")).alias("content_hash"),
        F.lit(True).alias("has_implementation"),
        "file_path", "line_number", "end_line_number",
    )


def _spark_relation(relations):
    chunk_id = F.concat_ws(
        "::", F.col("from_entity"), F.col("relation_type"), F.col("to_entity"),
        F.coalesce("import_type", F.lit("")),
    )
    content = F.concat_ws(" ", F.col("from_entity"), F.col("relation_type"), F.col("to_entity"))
    rows = relations.select(
        chunk_id.alias("chunk_id"), point_id(chunk_id).alias("point_id"),
        F.col("from_entity").alias("entity_name"),
        F.lit(None).cast("string").alias("entity_type"),
        F.lit("relation").alias("chunk_type"), content.alias("content"),
        F.lit(None).cast("string").alias("content_bm25"),
        content_hash(content).alias("content_hash"),
        F.lit(False).alias("has_implementation"), "file_path",
        F.lit(None).cast("int").alias("line_number"),
        F.lit(None).cast("int").alias("end_line_number"),
    )
    rest = [c for c in rows.columns if c not in ("chunk_id", "file_path")]
    return (
        rows.groupBy("chunk_id")
        .agg(F.min(F.struct("file_path", *rest)).alias("__r"))
        .select("chunk_id", *[F.col(f"__r.{c}").alias(c) for c in rows.columns[1:]])
    )


def _spark_memory(memories):
    chunk_id = F.concat_ws(
        "::", F.lit(""), F.col("entity_type"), F.col("entity_name"),
        F.lit("metadata"), md5_8(F.col("content")),
    )
    return memories.select(
        chunk_id.alias("chunk_id"), point_id(chunk_id).alias("point_id"),
        "entity_name", "entity_type", F.lit("metadata").alias("chunk_type"), "content",
        F.concat_ws(" ", "entity_name", "entity_name", "content").alias("content_bm25"),
        content_hash(F.col("content")).alias("content_hash"),
        F.lit(False).alias("has_implementation"),
        F.lit(None).cast("string").alias("file_path"),
        F.lit(None).cast("int").alias("line_number"),
        F.lit(None).cast("int").alias("end_line_number"),
    )


def _spark_bm25_transform(model, docs):
    toks = docs.filter(F.col("content_bm25").isNotNull()).select(
        "point_id", F.explode(tokenize("content_bm25")).alias("term")
    )
    dl = toks.groupBy("point_id").agg(F.count("*").alias("dl"))
    tf = toks.groupBy("point_id", "term").agg(F.count("*").alias("tf"))
    K1, B = bm25.K1, bm25.B
    scored = (
        tf.join(model.vocabulary.select("term", "term_index", "idf"), "term")
        .join(dl, "point_id")
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(model.avgdl))),
        )
    )
    return (
        scored.select("point_id", F.struct("term_index", "w").alias("p"))
        .groupBy("point_id")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .select(
            "point_id",
            F.col("ps.term_index").alias("sparse_indices"),
            F.transform(F.col("ps.w"), lambda x: x.cast("float")).alias("sparse_values"),
        )
    )


def _multiset(rows):
    return Counter(tuple(r[c] for c in CHUNK_COLUMNS) for r in rows)


def test_metadata_chunks_match_spark(spark):
    want = _spark_metadata(
        spark.createDataFrame(ENTITIES, ENTITY_DDL), spark.createDataFrame(IMPL, IMPL_DDL)
    ).collect()
    got = entity_metadata_chunks(ENTITIES, IMPL)
    assert _multiset(got) == _multiset(want)
    by_name = {r["entity_name"]: r for r in got if r["entity_type"] != "variable"}
    assert by_name["HTTPServer2Go"]["content_bm25"].split(" ")[2:4] == ["httpserver2", "go"]
    assert by_name["memory"]["chunk_id"].startswith("::documentation::memory::")


def test_implementation_chunks_match_spark(spark):
    want = _spark_implementation(spark.createDataFrame(IMPL, IMPL_DDL)).collect()
    assert _multiset(implementation_chunks(IMPL)) == _multiset(want)


def test_relation_chunks_match_spark(spark):
    want = _spark_relation(spark.createDataFrame(RELATIONS, RELATION_DDL)).collect()
    got = relation_chunks(RELATIONS)
    assert _multiset(got) == _multiset(want)
    owner = {r["chunk_id"]: r["file_path"] for r in got}
    assert owner["f::calls::g::"] == "a.py" and owner["m::calls::n::"] is None


def test_bm25_encode_matches_spark_transform(spark):
    chunks = entity_metadata_chunks(ENTITIES, IMPL)
    # one point id twice: its texts are one document, as the groupBy made them
    docs = [(c["point_id"], c["content_bm25"]) for c in chunks] + [
        (chunks[0]["point_id"], chunks[0]["content_bm25"]),
        (7, None),
    ]
    model = bm25.fit(spark, docs)
    want = _spark_bm25_transform(
        model, spark.createDataFrame(docs, "point_id long, content_bm25 string")
    ).collect()
    got = bm25.encode(model, docs)
    assert {r["point_id"]: (r["sparse_indices"], r["sparse_values"]) for r in want} == got


def test_memory_chunk_matches_spark(spark):
    memories = [
        ("deploy_ritual", "always run smoke tests before deploying", "documentation"),
        ("Ünïcødé Nöte", "ΣΟΦΟΣ — zweite Zeile\n\ttabbed", "documentation"),
        ("empty", "", "note"),
        ("no_content", None, "documentation"),
        ("no_type", "typeless", None),
    ]
    want = _spark_memory(
        spark.createDataFrame(memories, "entity_name string, content string, entity_type string")
    ).collect()
    assert _multiset(memory_chunk(*m) for m in memories) == _multiset(want)
