"""Text-analysis query catalog: language ID, quality scoring, token
counting, fingerprinting (the training-data-pipeline surface), plus the
reference's scalar text functions (X4/X12/X13).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from claude_code_memory_spark.functions.text import STOPWORDS
from claude_code_memory_spark.operators import textanalysis as TA
from claude_code_memory_spark.queries.base import register, table

_DD_TOKENIZE = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 1)"
)


def _dd_stopword_ratio(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter({_DD_TOKENIZE}, t -> list_contains([{words}], t)))::DOUBLE"
        f" / greatest(len({_DD_TOKENIZE}), 1)"
    )


@register(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_dd_stopword_ratio('de')} AS s_de,
             {_dd_stopword_ratio('en')} AS s_en,
             {_dd_stopword_ratio('es')} AS s_es,
             {_dd_stopword_ratio('fr')} AS s_fr
      FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS pred_lang,
           round(s_en, 6) AS en_stopword_ratio
    FROM scored
    """,
)
def text_language_id(spark, sf_dir):
    """Heuristic language ID (stopword-overlap argmax, ties → first code)."""
    d = table(spark, sf_dir, "documents")
    return TA.language_id(d)


@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           round(len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round({_dd_stopword_ratio('en')}, 6) AS stopword_ratio,
           floor((least(length(text) / 500.0, 1.0) * 0.4
               + least({_dd_stopword_ratio('en')} * 5.0, 1.0) * 0.3
               + greatest(1.0 - (len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                                 / greatest(length(text), 1)) * 5.0, 0.0) * 0.3) * 1e6 + 0.5)
             / 1e6 AS quality
    FROM documents
    """,
)
def text_quality_scores(spark, sf_dir):
    """Gopher/C4-style quality heuristics as one narrow projection."""
    d = table(spark, sf_dir, "documents")
    return TA.quality_scores(d)


@register(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """X13 family: whitespace, BPE-ish regex, and len/4 token counts."""
    d = table(spark, sf_dir, "documents")
    return TA.token_counts(d)


@register(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_DD_TOKENIZE})), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprints(spark, sf_dir):
    """Order-insensitive document fingerprint (md5 of sorted token set)."""
    d = table(spark, sf_dir, "documents")
    return TA.fingerprints(d)


@register(
    "text_complexity",
    oracle="""
    SELECT doc_id,
           1 + len(regexp_extract_all(text,
                 '\\b(if|elif|else|for|while|try|except|with|and|or|case)\\b')) AS complexity
    FROM documents
    """,
)
def text_complexity(spark, sf_dir):
    """X12: control-keyword complexity score over document text."""
    from claude_code_memory_spark.functions.text import complexity_score

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", complexity_score("text").alias("complexity"))


@register(
    "text_camel_spacing",
    oracle="""
    SELECT DISTINCT p_type,
           lower(replace(regexp_replace(p_type, '([a-z0-9])([A-Z])', '\\1 \\2', 'g'), '_', ' '))
             AS spaced
    FROM part
    """,
)
def text_camel_spacing(spark, sf_dir):
    """X4: camelCase/underscore → spaced lowercase (BM25 content prep)."""
    from claude_code_memory_spark.functions.text import camel_to_spaced

    p = table(spark, sf_dir, "part")
    return p.select("p_type", camel_to_spaced("p_type").alias("spaced")).distinct()


_DD_QUALITY = f"""
    floor((least(length(text) / 500.0, 1.0) * 0.4
        + least({_dd_stopword_ratio('en')} * 5.0, 1.0) * 0.3
        + greatest(1.0 - (len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                          / greatest(length(text), 1)) * 5.0, 0.0) * 0.3) * 1e6 + 0.5)
      / 1e6
"""


@register(
    "corpus_filter_funnel",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)) AS ws_tokens,
             {_DD_QUALITY} AS quality
      FROM documents)
    SELECT
      count(*)                                                     AS n_total,
      count(*) FILTER (n_chars >= 200)                             AS n_len_ok,
      count(*) FILTER (n_chars >= 200 AND ws_tokens >= 30)         AS n_tokens_ok,
      count(*) FILTER (n_chars >= 200 AND ws_tokens >= 30
                       AND quality >= 0.5)                         AS n_quality_ok
    FROM scored
    """,
)
def corpus_filter_funnel(spark, sf_dir):
    """Pretraining filter funnel: how many documents survive each hygiene
    gate (length → token count → composite quality) — ONE scan computing
    all stages as conditional aggregates, the shape a 100 TB corpus
    report must have (N passes over the corpus would be N scans)."""
    from claude_code_memory_spark.functions.text import (
        quality_score,
        whitespace_token_count,
    )

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        F.length("text").alias("n_chars"),
        whitespace_token_count("text").alias("ws_tokens"),
        quality_score("text").alias("quality"),
    )
    len_ok = F.col("n_chars") >= 200
    tok_ok = len_ok & (F.col("ws_tokens") >= 30)
    q_ok = tok_ok & (F.col("quality") >= 0.5)
    return scored.agg(
        F.count("*").alias("n_total"),
        F.sum(len_ok.cast("long")).alias("n_len_ok"),
        F.sum(tok_ok.cast("long")).alias("n_tokens_ok"),
        F.sum(q_ok.cast("long")).alias("n_quality_ok"),
    )


@register(
    "text_repetition_signals",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKENIZE} AS toks FROM documents),
    tok_counts AS (
      SELECT doc_id, t, count(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS t FROM toks) GROUP BY 1, 2),
    tok_stats AS (
      SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_token_frac
      FROM tok_counts GROUP BY doc_id),
    bigs AS (
      SELECT doc_id,
             [toks[i] || ' ' || toks[i+1]
              FOR i IN range(1, greatest(len(toks) - 1, 0) + 1)] AS bgs
      FROM toks),
    bg_counts AS (
      SELECT doc_id, b, count(*) AS c
      FROM (SELECT doc_id, unnest(bgs) AS b FROM bigs) GROUP BY 1, 2),
    bg_stats AS (
      SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac
      FROM bg_counts GROUP BY doc_id)
    SELECT d.doc_id,
           round(coalesce(ts.top_token_frac, 0), 6) AS top_token_frac,
           round(coalesce(bs.top_bigram_frac, 0), 6) AS top_bigram_frac
    FROM documents d
    LEFT JOIN tok_stats ts USING (doc_id)
    LEFT JOIN bg_stats bs USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def text_repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021, published corpus
    hygiene rules): the fraction of tokens covered by the modal token and
    the fraction of word-bigrams covered by the modal bigram — high values
    mark boilerplate/spam for removal before training. One explode +
    two-level aggregate per signal, all map-side combinable; the bigram
    build is a JVM array transform, no UDF."""
    from claude_code_memory_spark.functions.text import tokenize
    from claude_code_memory_spark.queries.base import spread

    # r12 (guide §2.5 input skew): without spread the one-file fixture
    # scans as a single partition and the explode + map-side partial
    # aggregation of every token/bigram ran in that one task — measured
    # 10.1 s wall at 1.5-core utilization (15 CPU-s of work). A real
    # corpus has >> cores input splits and takes spread's no-op branch.
    d = spread(spark, table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokenize("text").alias("toks"))
    # r12: bigrams via zip_with over two slices — the indexed-transform
    # form (transform(slice(toks,...), (x, i) -> concat_ws(' ', x,
    # get(toks, i+1)))) measured 7.3 s under the downstream explode vs
    # 1.1 s for this one (the outer-array indexed get is pathological in
    # interpreted Generate evaluation); element values are identical
    # (verified: 0 mismatching rows, and the oracle hash pins it)
    bigrams = toks.withColumn(
        "bgs",
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN "
            "zip_with(slice(toks, 1, size(toks) - 1), "
            "slice(toks, 2, size(toks) - 1), (x, y) -> concat_ws(' ', x, y)) "
            "ELSE cast(array() as array<string>) END"
        ),
    )

    def modal_frac(df, arr_col, out_name):
        counts = (
            df.select("doc_id", F.explode(arr_col).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
        )
        return counts.groupBy("doc_id").agg(
            (F.max("c").cast("double") / F.sum("c")).alias(out_name)
        )

    ts = modal_frac(toks, "toks", "top_token_frac")
    bs = modal_frac(bigrams, "bgs", "top_bigram_frac")
    return (
        d.select("doc_id")
        .join(ts, "doc_id", "left")
        .join(bs, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce("top_token_frac", F.lit(0.0)), 6).alias("top_token_frac"),
            F.round(F.coalesce("top_bigram_frac", F.lit(0.0)), 6).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_pii_redaction",
    oracle="""
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || doc_id ||
                       '@example.com at 10.0.' || (doc_id % 256) ||
                       '.1 or 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE text END AS t
      FROM documents),
    redacted AS (
      SELECT doc_id, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}', '<PHONE>', 'g') AS r
      FROM injected)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(r, '<EMAIL>|<IP>|<PHONE>')) AS BIGINT) AS n_redactions,
           md5(r) AS redacted_md5
    FROM redacted
    """,
)
def text_pii_redaction(spark, sf_dir):
    """PII scrubbing over the corpus (pre-training redaction). The fixture
    text is synthetic word-salad, so deterministic PII is injected into
    every 7th document IDENTICALLY on both sides — the oracle then checks
    the real thing: that Spark's regexp_replace chain and DuckDB's produce
    byte-identical redacted text (md5) and identical match counts across
    regex dialects (Java vs RE2)."""
    from claude_code_memory_spark.functions.text import PII_EMAIL, redact_pii

    d = table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 or 555-867-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    t = d.select("doc_id", injected.alias("t"))
    r = t.withColumn("r", redact_pii(F.col("t")))
    return r.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("r", F.lit("<EMAIL>|<IP>|<PHONE>"), F.lit(0))).cast("long").alias("n_redactions"),
        F.md5(F.col("r")).alias("redacted_md5"),
    )


@register(
    "text_c4_filter",
    oracle="""
    WITH lined AS (
      SELECT doc_id, replace(text, ' scan ', '.' || chr(10)) AS t
      FROM documents),
    kept AS (
      SELECT doc_id, t,
             -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
             -- Spark's array_join is '' — align on ''
             coalesce(array_to_string(
               list_filter(string_split(t, chr(10)),
                 x -> len(string_split(trim(x), ' ')) >= 3
                      AND regexp_matches(x, '[.!?"]\\s*$')
                      AND NOT regexp_matches(lower(x), 'javascript|cookie|lorem ipsum')),
               chr(10)), '') AS k
      FROM lined)
    SELECT doc_id,
           CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
           CAST(CASE WHEN k = '' THEN 0
                     ELSE len(string_split(k, chr(10))) END AS BIGINT) AS n_kept,
           md5(k) AS kept_md5
    FROM kept
    """,
)
def text_c4_filter(spark, sf_dir):
    """C4-style line filtering (terminal punctuation + min words + no
    boilerplate). The single-line fixture text gains deterministic line
    breaks on both sides (' scan ' → '.\\n'), then the kept-lines algebra
    must agree byte-for-byte between Spark's filter(split(..)) lambda and
    DuckDB's list_filter — including the empty-result edge (md5 of '')."""
    from claude_code_memory_spark.functions.text import c4_keep_lines

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.regexp_replace("text", " scan ", ".\n").alias("t")
    )
    k = t.withColumn("k", c4_keep_lines(F.col("t")))
    return k.select(
        "doc_id",
        F.size(F.split("t", "\n")).cast("long").alias("n_lines"),
        F.when(F.col("k") == "", F.lit(0))
        .otherwise(F.size(F.split("k", "\n")))
        .cast("long")
        .alias("n_kept"),
        F.md5(F.col("k")).alias("kept_md5"),
    )


@register(
    "agg_token_histogram",
    oracle="""
    SELECT (ws_tokens // 10) * 10 AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS total_tokens
    FROM (
      SELECT len(list_filter(string_split_regex(text, '\\s+'),
                             x -> length(x) > 0)) AS ws_tokens
      FROM documents)
    GROUP BY 1
    """,
)
def agg_token_histogram(spark, sf_dir):
    """Token-length distribution of the corpus in buckets of 10
    whitespace tokens — the context-budget histogram every training
    pipeline consults before packing sequences. Pure integer arithmetic
    (bucket = ws_tokens // 10 * 10), one scan + one tiny aggregate; at
    100 TB the combiner does nearly all the work map-side since the key
    space is the number of buckets."""
    from claude_code_memory_spark.operators import textanalysis as TA

    d = table(spark, sf_dir, "documents")
    tc = TA.token_counts(d).select("ws_tokens")
    return tc.groupBy(
        (F.floor(F.col("ws_tokens") / 10) * 10).cast("bigint").alias("bucket_lo")
    ).agg(F.count("*").alias("n_docs"), F.sum("ws_tokens").alias("total_tokens"))


_GOPHER_WORDS = "list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0)"
_GOPHER_LINES = "list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0)"


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             len({_GOPHER_WORDS}) AS n_words,
             greatest(len({_GOPHER_LINES}), 1) AS n_lines,
             coalesce(list_sum(list_transform({_GOPHER_WORDS}, w -> length(w))),
                      0)::DOUBLE
               / greatest(len({_GOPHER_WORDS}), 1) AS mean_wl,
             len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE
               / greatest(len({_GOPHER_WORDS}), 1) AS symbol_ratio,
             len(list_filter({_GOPHER_LINES},
                             l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE AS bullet_lines,
             len(list_filter({_GOPHER_LINES},
                             l -> regexp_matches(trim(l), '\\.\\.\\.$')))::DOUBLE AS ellipsis_lines,
             len(list_filter({_GOPHER_WORDS},
                             w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
               / greatest(len({_GOPHER_WORDS}), 1) AS alpha_ratio,
             len(list_intersect(
                   list_distinct(string_split_regex(lower(text), '\\s+')),
                   ['the','be','to','of','and','that','have','with'])) AS stop_hits
      FROM documents)
    SELECT doc_id,
           n_words,
           round(mean_wl, 6) AS mean_word_len,
           round(symbol_ratio, 6) AS symbol_ratio,
           round(alpha_ratio, 6) AS alpha_word_ratio,
           stop_hits AS required_word_hits,
           n_words BETWEEN 50 AND 100000 AS ok_word_count,
           mean_wl BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
           symbol_ratio < 0.1 AS ok_symbol_ratio,
           bullet_lines / n_lines < 0.9 AS ok_bullet_lines,
           ellipsis_lines / n_lines < 0.3 AS ok_ellipsis_lines,
           alpha_ratio >= 0.8 AS ok_alpha_words,
           stop_hits >= 2 AS ok_stop_words,
           (n_words BETWEEN 50 AND 100000) AND (mean_wl BETWEEN 3.0 AND 10.0)
             AND symbol_ratio < 0.1 AND bullet_lines / n_lines < 0.9
             AND ellipsis_lines / n_lines < 0.3 AND alpha_ratio >= 0.8
             AND stop_hits >= 2 AS passes_gopher
    FROM feat
    """,
)
def text_gopher_rules(spark, sf_dir):
    """Gopher-paper document quality rules (Rae et al. 2021 §A1.1.1) as a
    single narrow projection over the corpus — the standard pre-training
    gate alongside `text_c4_filter`. All seven rules are pure column
    algebra (no UDF, no shuffle): at 100 TB this fuses into the scan and
    the filter verdict rides the same codegen stage as decompression."""
    from claude_code_memory_spark.operators import textanalysis as TA

    d = table(spark, sf_dir, "documents")
    return TA.gopher_rules(d)


@register(
    "text_pmi_cooccurrence",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> length(x) >= 4))) AS t
      FROM documents),
    n AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT t, count(*) AS n_t FROM tok GROUP BY t),
    pairs AS (
      SELECT a.t AS token_a, b.t AS token_b, count(*) AS n_ab
      FROM tok a JOIN tok b USING (doc_id)
      WHERE a.t < b.t
      GROUP BY 1, 2
      HAVING count(*) >= 5)
    SELECT token_a, token_b, n_ab, da.n_t AS n_a, db.n_t AS n_b,
           round(n_ab * n.n_docs / (da.n_t * db.n_t), 6) AS lift
    FROM pairs
    JOIN df da ON da.t = token_a
    JOIN df db ON db.t = token_b
    CROSS JOIN n
    ORDER BY lift DESC, token_a, token_b
    LIMIT 20
    """,
)
def text_pmi_cooccurrence(spark, sf_dir):
    """Token co-occurrence lift (PMI without the log — `lift = P(a,b) /
    (P(a)P(b))`, same ranking since log is monotonic, and exact-integer
    double arithmetic where `ln` could drift an ulp between libms):
    which token pairs appear in the same document far more often than
    independence predicts. The feature-engineering primitive behind PMI
    matrices / collocation mining.

    Scale shape: tokenize+explode never shuffles raw text (distinct
    per-doc tokens only); `df` and the pair aggregate are vocab- and
    vocab²-bounded with map-side combine; the per-doc self-join is
    (tokens/doc)² — in production band eligible tokens by document
    frequency (drop ubiquitous stopword-likes) to bound it, the same
    posting-cap pattern as the n-gram Jaccard dedup."""
    from claude_code_memory_spark.functions.text import tokenize

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(tokenize("text"), lambda x: F.length(x) >= 4)
            )
        ).alias("t"),
    )
    n = d.agg(F.count("*").alias("n_docs"))
    df_counts = tok.groupBy("t").agg(F.count("*").alias("n_t"))
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("a.t") < F.col("b.t"))
        .groupBy(F.col("a.t").alias("token_a"), F.col("b.t").alias("token_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    da = df_counts.select(F.col("t").alias("token_a"), F.col("n_t").alias("n_a"))
    db = df_counts.select(F.col("t").alias("token_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(da), "token_a")
        .join(F.broadcast(db), "token_b")
        .crossJoin(F.broadcast(n))
        .select(
            "token_a",
            "token_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab") * F.col("n_docs") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "token_a", "token_b")
        .limit(20)
    )


@register(
    "tokenizer_bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT t AS word, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> length(x) > 1)) AS t
        FROM documents)
      GROUP BY t),
    syms AS (
      SELECT list_append(string_split_regex(word, ''), '</w>') AS s, n
      FROM words),
    pairs AS (
      SELECT s[i] || ' ' || s[i + 1] AS pair, n
      FROM (SELECT s, n, unnest(generate_series(1, len(s) - 1)) AS i
            FROM syms))
    SELECT pair, CAST(sum(n) AS BIGINT) AS w
    FROM pairs GROUP BY pair
    ORDER BY w DESC, pair ASC
    LIMIT 20
    """,
)
def tokenizer_bpe_pair_counts(spark, sf_dir):
    """Round 1 of BPE tokenizer training (operators/bpe.py) as an
    oracle-checked aggregate: weighted adjacent-symbol pair counts over
    the corpus' word-frequency table — the exact argmax input the merge
    loop consumes (the loop itself is pinned against the pure-Python
    twin by hypothesis in test_bpe.py). Scale: the corpus contributes
    one map-side-combined word count; everything after is vocab-sized."""
    from claude_code_memory_spark.functions.text import tokenize
    from claude_code_memory_spark.operators.bpe import (
        _pair_counts,
        words_to_symbols,
    )

    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    vocab = words_to_symbols(words).select("syms", "n")
    return (
        _pair_counts(vocab)
        .orderBy(F.desc("w"), F.asc("pair"))
        .limit(20)
    )


@register(
    "lm_bigram_doc_scores",
    headline=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DD_TOKENIZE} AS ts FROM documents),
    uni AS (
      SELECT t AS tok, CAST(count(*) AS BIGINT) AS c1 FROM (
        SELECT unnest(ts) AS t FROM toks) GROUP BY t),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uni),
    big AS (
      SELECT doc_id, ts[i] AS a, ts[i + 1] AS b
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks WHERE len(ts) >= 2)),
    bc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY a, b),
    scored AS (
      SELECT g.doc_id,
             CAST(round(ln((bc.c2 + 1.0) / (uni.c1 + v.vocab)), 6)
                  AS DECIMAL(20,6)) AS logp
      FROM big g
      JOIN bc ON g.a = bc.a AND g.b = bc.b
      JOIN uni ON g.a = uni.tok
      CROSS JOIN v)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(round(sum(logp) / count(*), 4) AS DOUBLE) AS avg_logp
    FROM scored GROUP BY doc_id
    """,
)
def lm_bigram_doc_scores(spark, sf_dir, min_count: int = 0):
    """Corpus-trained bigram language model (add-1 smoothing) scoring
    every document by mean log-probability — the classic LM-based
    quality filter (low-scoring docs read as noise relative to the
    corpus itself; CCNet/KenLM do this with an external 5-gram model,
    the self-trained bigram is the engine-native analogue). Train and
    score are the SAME two aggregates: unigram + bigram counts (map-
    side combined), then each document's bigrams join the count tables.

    Scale contract: the corpus is touched exactly twice and there is ONE
    corpus-sized shuffle (the tokenized-bigram stream hashing onto the
    count tables). The count tables are NOT broadcast-able at 100 TB —
    the distinct-bigram table is billions of rows (vocabulary², minus
    sparsity) — so the scoring join is a partitioned equi-join on the
    bigram key, the same shape as BM25's tf×idf join. ``min_count > 1``
    prunes the count table's Zipf tail (hapax bigrams dominate the
    distinct count) before the join: pruned bigrams fall back to the
    unseen probability (c2 = 0 under add-1 smoothing), shrinking the
    shuffled count table typically 5-10x for a ~0 quality-signal change.

    Per-bigram log-probs round to 6 dp then sum as DECIMAL so the doc
    score is partition-order-invariant (the BM25 precedent for
    cross-engine ln agreement)."""
    from claude_code_memory_spark.functions.text import tokenize

    from claude_code_memory_spark.queries.base import spread

    d0 = table(spark, sf_dir, "documents")
    d = spread(spark, d0)
    toks = d.select("doc_id", tokenize("text").alias("ts"))
    # r12 (guide §2.2/§2.4): the unigram branch aggregates straight down
    # to a VOCABULARY-sized table with map-side combine, so spreading its
    # input pays a corpus-bytes round-robin exchange (serially produced
    # by the one-file fixture's single scan task) plus two AQE stages to
    # parallelize work the partial aggregation already collapses —
    # measured 0.99 s spread vs 0.42 s unspread at sf0.1. On a
    # multi-split corpus (incl. the sf1 evidence set, written by Spark
    # as many part files) spread() is a no-op and both forms are
    # identical; counts are exact integers either way, so results are
    # unchanged. The bigram branch keeps spread: its downstream is the
    # corpus-sized scoring join + doc_id aggregate.
    toks_uni = d0.select(tokenize("text").alias("ts"))
    uni = (
        toks_uni.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1"))
    )
    vocab = uni.agg(F.count("*").alias("vocab"))
    big = (
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.posexplode(F.expr("slice(ts, 1, size(ts) - 1)")).alias("i", "a"),
            F.col("ts"),
        )
        .select("doc_id", "a", F.expr("ts[i + 1]").alias("b"))
    )
    bc = big.groupBy("a", "b").agg(F.count("*").alias("c2"))
    logp_expr = (
        F.round(
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                / (F.col("c1") + F.col("vocab"))
            ),
            6,
        )
        .cast("decimal(20,6)")
        .alias("logp")
    )
    if min_count > 1:
        # left join + coalesce(0): a pruned bigram scores as unseen,
        # never drops from the doc's bigram count. The pruned path keeps
        # the per-row uni join — a missed bigram's fallback probability
        # needs the DOC-side token's c1.
        bc = bc.filter(F.col("c2") >= min_count)
        scored = (
            big.join(bc, ["a", "b"], "left")
            .join(uni, big.a == uni.tok)
            .crossJoin(F.broadcast(vocab))
            .select("doc_id", logp_expr)
        )
    else:
        # r12 join reorder (guide §2.3/§2.4 — shuffle fewer bytes, drop a
        # shuffle): score each DISTINCT bigram once — attach c1 and vocab
        # to the vocabulary²-sparse count table, then join the per-pair
        # logp back to the corpus bigram stream on (a, b). The unpruned
        # count table contains every (a, b) the corpus emits, so the
        # inner join keeps exactly the old rows, and logp is the same
        # float expression over the same c1/c2/vocab values — identical
        # results. Removes the corpus-sized re-shuffle by `a` the per-row
        # uni join required (4 → 3 corpus-scale exchanges; the uni join
        # now moves only distinct bigrams).
        pair_logp = (
            bc.join(uni, bc.a == uni.tok)
            .crossJoin(F.broadcast(vocab))
            .select("a", "b", logp_expr)
        )
        scored = big.join(pair_logp, ["a", "b"]).select("doc_id", "logp")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("logp") / F.count("*"), 4).cast("double").alias("avg_logp"),
    )


_PACK_BUDGET = 2048  # tokens per training sequence


@register(
    "pack_training_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> length(x) > 0)) AS toks
      FROM documents),
    c AS (
      SELECT doc_id, source, toks,
             sum(toks) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM t WHERE toks > 0)
    SELECT doc_id, source, CAST(toks AS BIGINT) AS toks,
           CAST((cum - toks) // {_PACK_BUDGET} AS BIGINT) AS first_seq,
           CAST((cum - 1) // {_PACK_BUDGET} AS BIGINT) AS last_seq
    FROM c
    """,
)
def pack_training_sequences(spark, sf_dir):
    """GPT-style sequence packing: documents are concatenated per source
    shard in doc_id order and cut into fixed 2048-token training
    sequences, documents straddling boundaries exactly as pretraining
    packing does (concat-then-chunk — no padding waste). Output maps
    every document to the sequence range it lands in, the manifest a
    dataloader needs. One running-sum window per source shard — at
    100 TB each shard packs independently and in parallel, and the
    window never leaves its partition. Companion of
    `chunk_pack_running_budget` (which packs WITHOUT straddling, the
    retrieval-chunk discipline)."""
    from claude_code_memory_spark.functions.text import whitespace_token_count

    from claude_code_memory_spark.queries.base import spread

    d = spread(spark, table(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id", "source", whitespace_token_count("text").alias("toks")
    ).filter(F.col("toks") > 0)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("toks").over(w))
    return c.select(
        "doc_id",
        "source",
        F.col("toks").cast("long").alias("toks"),
        F.floor((F.col("cum") - F.col("toks")) / _PACK_BUDGET).alias("first_seq"),
        F.floor((F.col("cum") - 1) / _PACK_BUDGET).alias("last_seq"),
    )


def _bpe_train_ctes(rounds: int = 3) -> str:
    """CTE chain replaying `operators/bpe.py::bpe_train` (one merge per
    round, textbook-exact mode) symbol-for-symbol: weighted adjacent-pair
    counts over the space-joined symbol strings, argmax by (weight DESC,
    pair ASC), space-padded leftmost-non-overlapping replace — DuckDB's
    `replace` shares the scan-resume-after-replacement rule with JVM
    `replace`, so every round's vocab string matches bit-for-bit.
    Terminal CTE: ``v{rounds}`` (syms, n)."""
    parts = [
        """words AS (
      SELECT t AS word, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> length(x) > 1)) AS t
        FROM documents)
      GROUP BY t)""",
        """v0 AS (
      SELECT array_to_string(list_append(string_split_regex(word, ''), '</w>'), ' ') AS syms, n
      FROM words)""",
    ]
    for i in range(1, rounds + 1):
        prev = f"v{i - 1}"
        parts.append(
            f"""pc{i} AS (
      SELECT p[j] || ' ' || p[j + 1] AS pair, CAST(sum(n) AS BIGINT) AS w
      FROM (SELECT string_split(syms, ' ') AS p, n,
                   unnest(generate_series(1, len(string_split(syms, ' ')) - 1)) AS j
            FROM {prev})
      GROUP BY pair)"""
        )
        parts.append(
            f"m{i} AS (SELECT pair, replace(pair, ' ', '') AS merged FROM pc{i}"
            f" ORDER BY w DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"""v{i} AS (
      SELECT trim(replace(' ' || v.syms || ' ', ' ' || m.pair || ' ',
                          ' ' || m.merged || ' ')) AS syms, v.n
      FROM {prev} v CROSS JOIN m{i} m)"""
        )
    return ",\n    ".join(parts)


@register(
    "tokenizer_bpe_encode_top_symbols",
    oracle=f"""
    WITH {_bpe_train_ctes(rounds=3)}
    SELECT sym, CAST(sum(n) AS BIGINT) AS w
    FROM (SELECT unnest(string_split(syms, ' ')) AS sym, n FROM v3)
    GROUP BY sym
    ORDER BY w DESC, sym ASC
    LIMIT 20
    """,
)
def tokenizer_bpe_encode_top_symbols(spark, sf_dir):
    """BPE train -> encode end to end (the serving half the pair-count
    query stops short of): learn 3 merges on the corpus word-frequency
    table (`bpe_train`, textbook one-merge-per-round mode), apply them
    with the chained-replace encoder expression (`bpe_encode_expr` — the
    narrow JVM pass a stored tokenizer replays at serving time), and
    report the top-20 vocabulary symbols by encoded corpus frequency.
    The oracle replays ALL THREE training rounds plus the encode in SQL,
    so a drifted argmax tie-break, a wrong merge application, or an
    encoder/trainer rule mismatch all hash-mismatch.

    Scale: the corpus is touched ONCE (the word-count aggregate —
    map-side combined); training and encoding run on the Zipf-bounded
    vocabulary table, each round one vocab-sized aggregate + a 1-row
    driver fetch (the Lloyd/PageRank bounded-collect shape), and the
    encode is a narrow chained-replace projection — no shuffle at all.
    Reference parity: deterministic tokenizer artifacts for incremental
    re-index (embeddings/bm25.py fit/store discipline)."""
    from claude_code_memory_spark.functions.text import tokenize
    from claude_code_memory_spark.operators.bpe import (
        bpe_encode_expr,
        bpe_train,
        words_to_symbols,
    )

    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    words = words.persist()  # two consumers: trainer rounds + encode pass
    merges = bpe_train(spark, words, num_merges=3)
    encoded = words_to_symbols(words).withColumn(
        "syms", bpe_encode_expr(merges)
    )
    out = (
        encoded.select(F.explode(F.split("syms", " ")).alias("sym"), "n")
        .groupBy("sym")
        .agg(F.sum("n").alias("w"))
        .orderBy(F.desc("w"), F.asc("sym"))
        .limit(20)
    )
    return out


@register(
    "text_token_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DD_TOKENIZE}) AS tok FROM documents),
    tc AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
    dt AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM tc GROUP BY doc_id),
    terms AS (
      SELECT tc.doc_id,
             CAST(round(round(ln(tc.c * 1.0 / dt.n), 6) * tc.c / dt.n, 9)
                  AS DECIMAL(38,12)) AS h
      FROM tc JOIN dt USING (doc_id))
    SELECT t.doc_id, dt.n AS n_tokens, dt.n_distinct,
           round(-sum(t.h)::DOUBLE, 6) AS entropy
    FROM terms t JOIN dt ON t.doc_id = dt.doc_id
    GROUP BY t.doc_id, dt.n, dt.n_distinct
    """,
)
def text_token_entropy(spark, sf_dir):
    """Per-document token (Shannon) entropy — the quality-filter signal
    that separates natural prose from boilerplate and template spam:
    low-entropy documents repeat a few tokens (nats near 0), healthy
    text sits near ln(n_distinct). Complements `text_repetition_signals`
    (which detects SPANS of repetition) with a distribution-level score.

    Determinism: each token's contribution rounds the ln to 6 dp (the
    lm_bigram cross-engine precedent) and the weighted term to 9 dp
    before the DECIMAL sum, so per-doc entropy is partition-order
    invariant. Plan: one tokenize+explode, one (doc, token) count with
    map-side combine, doc totals as a second rollup of THAT table
    (token-count-scale, not corpus-scale), one scoring join partitioned
    by doc_id — the corpus is scanned once and shuffles once."""
    from claude_code_memory_spark.functions.text import tokenize

    d = table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    dt = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    terms = tc.join(dt, "doc_id").select(
        "doc_id",
        "n",
        "n_distinct",
        F.round(
            F.round(F.log(F.col("c") * 1.0 / F.col("n")), 6) * F.col("c") / F.col("n"),
            9,
        )
        .cast("decimal(38,12)")
        .alias("h"),
    )
    return terms.groupBy(
        "doc_id", F.col("n").alias("n_tokens"), "n_distinct"
    ).agg(F.round(-F.sum("h").cast("double"), 6).alias("entropy"))


@register(
    "text_ttr_hapax",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DD_TOKENIZE}) AS tok FROM documents),
    cnt AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           round(n_types::DOUBLE / n_tokens, 6) AS ttr,
           round(n_hapax::DOUBLE / n_tokens, 6) AS hapax_frac
    FROM per_doc
    ORDER BY ttr DESC, doc_id ASC LIMIT 20
    """,
)
def text_ttr_hapax(spark, sf_dir):
    """Lexical-diversity quality signals per document: type-token ratio
    and hapax-legomenon fraction (tokens occurring exactly once) — low
    TTR flags template/boilerplate text, very high hapax flags
    gibberish; both are standard quality-filter features alongside the
    Gopher/C4 rules. One tokenize pass → per-(doc, token) count with
    map-side combine → per-doc rollup; the top-20 cut is
    TakeOrderedAndProject, so nothing global ever sorts. At 100 TB the
    shuffle carries one row per distinct (doc, token) — bounded by
    corpus token count, same contract as the BM25 fit."""
    from claude_code_memory_spark.functions.text import tokenize

    d = table(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("n_hapax") / F.col("n_tokens"), 6).alias("hapax_frac"),
    ).orderBy(F.desc("ttr"), F.asc("doc_id")).limit(20)


@register(
    "text_sliding_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({_DD_TOKENIZE}) AS n_tokens FROM documents),
    sized AS (
      SELECT doc_id, n_tokens,
             1 + (greatest(n_tokens - 128, 0) + 63) // 64 AS n_chunks
      FROM d WHERE n_tokens > 0),
    chunks AS (
      SELECT doc_id, n_tokens, n_chunks,
             least(128, n_tokens - 64 * i) AS chunk_len
      FROM sized, LATERAL unnest(range(0, n_chunks)) AS t(i))
    SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
           CAST(max(n_chunks) AS BIGINT) AS n_chunks,
           CAST(min(chunk_len) AS BIGINT) AS tail_len,
           round(sum(chunk_len)::DOUBLE / max(n_tokens), 6) AS dup_factor
    FROM chunks GROUP BY doc_id
    ORDER BY n_chunks DESC, doc_id ASC LIMIT 20
    """,
)
def text_sliding_chunks(spark, sf_dir):
    """Sliding-window training chunks: window 128 tokens, stride 64 —
    the overlap-chunking every context-window pipeline applies to long
    documents. Emits per-doc chunk geometry plus `dup_factor`, the
    token-duplication overhead the overlap costs (the number that sizes
    the storage/compute bill of a stride choice at 100 TB). All
    columnar: tokenize once, chunk ids via explode(sequence(...)) —
    rows ∝ total chunks, the same cardinality the downstream tokenizer
    job pays anyway; no UDF, no per-doc loop."""
    from claude_code_memory_spark.functions.text import tokenize

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokenize("text")).alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    sized = d.withColumn(
        "n_chunks",
        1
        + F.floor(
            (F.greatest(F.col("n_tokens") - 128, F.lit(0)) + 63) / 64
        ).cast("int"),
    )
    chunks = sized.select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i"),
    ).withColumn("chunk_len", F.least(F.lit(128), F.col("n_tokens") - 64 * F.col("i")))
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.max("n_chunks").cast("long").alias("n_chunks"),
            F.min("chunk_len").cast("long").alias("tail_len"),
            F.round(F.sum("chunk_len") / F.max("n_tokens"), 6).alias("dup_factor"),
        )
        .orderBy(F.desc("n_chunks"), F.asc("doc_id"))
        .limit(20)
    )
