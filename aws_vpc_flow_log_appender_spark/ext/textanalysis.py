"""Text-analysis operators over the documents table (north-star extension):
token counting, quality scoring, language ID, document fingerprinting.

All pure Column arithmetic / built-in string functions — no UDFs — so they
run inside whole-stage codegen and scale linearly. Occurrence counts use the
(length - length(replace)) / len(marker) identity, which is engine-portable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import round_half_up
from ..operators.registry import load, query

# language markers: common function words, scored as whole-word occurrences.
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " und ", " die "],
    "zh": ["的", "是", "了"],
}


def _occurrences(col, marker: str):
    return (F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit("")))) / len(marker)


def _sql_occurrences(expr: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return f"(length({expr}) - length(replace({expr}, '{m}', ''))) / {len(marker)}"


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
           CAST(length(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           floor(((length(text) - length(replace(text, ' ', '')) + 0.0)
                  / (length(text) - length(replace(text, ' ', '')) + 1)) * 1000000.0 + 0.5) / 1000000.0
             AS space_ratio_proxy
    FROM documents
    """,
    tags=("text", "tokens"),
)
def text_token_count(spark, sf_dir):
    """Whitespace token counting + distinct-token (type) counting."""
    d = load(spark, sf_dir, "documents")
    n_spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_tokens = n_spaces + 1
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
        round_half_up(n_spaces.cast("double") / n_tokens, 6).alias("space_ratio_proxy"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
           floor(((length(replace(text, ' ', '')) + 0.0)
                  / (length(text) - length(replace(text, ' ', '')) + 1)) * 10000.0 + 0.5) / 10000.0
             AS avg_word_len,
           floor(({_sql_occurrences('text', ' the ')} + {_sql_occurrences('text', ' and ')})
                 / (length(text) - length(replace(text, ' ', '')) + 1.0) * 1000000.0 + 0.5) / 1000000.0
             AS stopword_ratio,
           CASE WHEN length(text) BETWEEN 100 AND 500
                 AND (length(replace(text, ' ', '')) + 0.0)
                     / (length(text) - length(replace(text, ' ', '')) + 1) BETWEEN 3 AND 8
                THEN 1 ELSE 0 END AS quality_pass
    FROM documents
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality scoring: length band + mean word length + stopword
    density (the Gopher-rules shape, arithmetic-only)."""
    d = load(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = (F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))) + 1
    nonspace = F.length(F.replace(text, F.lit(" "), F.lit("")))
    avg_word_len = nonspace.cast("double") / n_tokens
    stop = (_occurrences(text, " the ") + _occurrences(text, " and ")) / n_tokens.cast("double")
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        round_half_up(avg_word_len, 4).alias("avg_word_len"),
        round_half_up(stop, 6).alias("stopword_ratio"),
        F.when(
            F.length(text).between(100, 500) & avg_word_len.between(3, 8), 1
        ).otherwise(0).alias("quality_pass"),
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(_sql_occurrences("text", m) for m in LANG_MARKERS[lang])


@query(
    "text_lang_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('fr')} AS s_fr,
             {_lang_score_sql('de')} AS s_de,
             {_lang_score_sql('zh')} AS s_zh
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END AS predicted_lang,
           floor((s_en + s_es + s_fr + s_de + s_zh) * 100.0 + 0.5) / 100.0 AS marker_total
    FROM scores
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark, sf_dir):
    """n-gram-marker language ID: score each language by function-word
    occurrences, argmax with a deterministic preference order."""
    d = load(spark, sf_dir, "documents")
    text = F.col("text")
    s = {
        lang: sum((_occurrences(text, m) for m in ms), F.lit(0.0))
        for lang, ms in LANG_MARKERS.items()
    }
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]) & (s["es"] >= s["zh"]), "es")
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["zh"]), "fr")
        .when(s["de"] >= s["zh"], "de")
        .otherwise("zh")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted.alias("predicted_lang"),
        round_half_up(s["en"] + s["es"] + s["fr"] + s["de"] + s["zh"], 2).alias("marker_total"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'))) AS fingerprint,
           substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'))), 1, 8) AS fp_prefix
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark, sf_dir):
    """Normalized-content fingerprint (lowercase, strip non-alphanumerics,
    md5) — the cheap exact-dup key after normalization."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]+", " "))
    return d.select(
        "doc_id",
        F.md5(F.encode(norm, "utf-8")).alias("fingerprint"),
        F.substring(F.md5(F.encode(norm, "utf-8")), 1, 8).alias("fp_prefix"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM words WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             floor((tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)) * 1000000.0 + 0.5) / 1000000.0 AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rnk FROM (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("text", "tfidf"),
)
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document: tf and df from one tokenize pass, idf
    joined back, per-doc top-k via WindowGroupLimit. The canonical
    keyword-extraction shape.

    The df table is VOCABULARY-sized — Heaps' law puts a 100 TB web corpus at
    1e8+ distinct tokens, which strains the 8 GB broadcast ceiling — so the
    tf-df join carries NO broadcast hint (VERDICT r5 #2): AQE broadcasts it
    at small scale and falls back to sort-merge when the measured vocabulary
    is large. The 1-row corpus-count crossJoin stays hinted (hard bound)."""
    d = load(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    # tf materialized once, eagerly (r10): df and the idf join-back both
    # consume it, and without the cut the tokenize + doc-term aggregate
    # runs once per branch (6 parquet scans in the r9 plan). The checkpoint
    # holds the POST-aggregate rows (doc_id, term, tf) — vocabulary-bounded
    # per doc, far narrower than the exploded token stream. The r11 size
    # gate that kept the inline form at bench scale is gone: forced each
    # way at sf0.1 the two forms are within 5% (AB_plan_gates_forced.log,
    # 10 interleaved pairs, here and for text_bm25_search's per_doc).
    # localCheckpoint caveat: executor-local blocks, NO lineage replay on
    # executor loss (guide §5); acceptable because the whole job is
    # re-runnable.
    tf = (
        words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    # count(*), not countDistinct(doc_id): tf rows are unique on
    # (doc_id, term) BY CONSTRUCTION (groupBy output), so the distinct
    # machinery's extra aggregate phase bought nothing (r10; the oracle
    # keeps COUNT(DISTINCT doc_id) — identical values on unique keys)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # corpus size as a lazy 1-row crossJoin (the oracle's CROSS JOIN n) —
    # an eager d.count() would run a separate job at plan-construction time
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            round_half_up(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@query(
    "text_edit_distance",
    oracle="""
    SELECT c_custkey,
           CAST(levenshtein(c_name, 'Customer#000000000') AS INTEGER) AS dist_to_proto,
           CAST(levenshtein(lower(c_mktsegment), 'building') AS INTEGER) AS seg_dist
    FROM customer
    WHERE c_custkey % 4 = 0
    """,
    tags=("text", "editdistance"),
)
def text_edit_distance(spark, sf_dir):
    """Edit-distance scoring (fuzzy matching primitive — entity resolution's
    residual comparator after blocking). Cross-engine comparable since both
    implement plain Levenshtein."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 0)
    return c.select(
        "c_custkey",
        F.levenshtein("c_name", F.lit("Customer#000000000")).alias("dist_to_proto"),
        F.levenshtein(F.lower("c_mktsegment"), F.lit("building")).alias("seg_dist"),
    )


# BPE-style pre-tokenizer pattern: letter runs, digit runs, and punctuation
# runs each become one pre-token (the split a byte-pair tokenizer refines).
# Plain character classes only — identical semantics in Java regex (Spark)
# and DuckDB's RE2.
_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


@query(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_ws_tokens,
           CAST(length(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
           floor((length(regexp_extract_all(text, '{_BPE_PATTERN}'))
                  / (length(text) - length(replace(text, ' ', '')) + 1.0)) * 1000000.0 + 0.5) / 1000000.0
             AS bpe_per_ws_token
    FROM documents
    """,
    tags=("text", "tokens", "bpe"),
)
def text_bpe_token_count(spark, sf_dir):
    """Token counting with a BPE-ish regex pre-tokenizer alongside the plain
    whitespace count: letter/digit/punctuation runs as separate pre-tokens
    (what subword tokenizers split before merging). The per-token cost ratio
    (bpe_per_ws_token) is the usual budget metric when estimating LLM token
    counts from a whitespace-tokenized corpus. Pure Column expressions —
    regexp evaluation stays in codegen, no Python."""
    d = load(spark, sf_dir, "documents")
    n_ws = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
    return d.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        round_half_up(F.size(bpe) / n_ws.cast("double"), 6).alias(
            "bpe_per_ws_token"
        ),
    )


CHUNK_SIZE = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_start,
           array_to_string(l[i+1:i+{CHUNK_SIZE}], ' ') AS chunk_text,
           CAST(len(l[i+1:i+{CHUNK_SIZE}]) AS INTEGER) AS chunk_len
    FROM tok, unnest(generate_series(0, len(l) - 1, {CHUNK_STRIDE})) AS t(i)
    """,
    tags=("text", "chunk", "explode"),
)
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (size 32, stride 24) — the standard
    prep for fixed-context training: every token appears in at least one
    chunk and boundaries overlap by 8 tokens so no context is cut mid-chunk.
    Narrow transformation (tokenize -> posexplode of start offsets -> slice);
    a 100 TB corpus chunks in one scan with zero shuffle, output partitions
    inherit input partitioning."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(CHUNK_STRIDE)
    )
    chunk = F.slice(F.col("l"), F.col("chunk_start") + 1, CHUNK_SIZE)
    return (
        d.select("doc_id", toks.alias("l"), F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("chunk_len"),
        )
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id, len(l) AS n_tokens,
             list_transform(generate_series(0, len(l) - 2),
                            i -> array_to_string(l[i+1:i+2], ' ')) AS bigrams
      FROM tok WHERE len(l) >= 2
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(len(bigrams) AS INTEGER) AS n_bigrams,
           CAST(len(list_distinct(bigrams)) AS INTEGER) AS n_distinct_bigrams,
           floor((1.0 - len(list_distinct(bigrams)) / (len(bigrams) + 0.0)) * 1000000.0 + 0.5)
             / 1000000.0 AS repetition_ratio
    FROM bg
    """,
    tags=("text", "quality"),
)
def text_repetition_ratio(spark, sf_dir):
    """Duplicate-bigram ratio — the classic boilerplate/spam signal (high
    ratio = the same word pairs repeat throughout the document). Pure array
    Column arithmetic (tokenize -> bigram transform -> distinct count), no
    explode and no shuffle: per-row work bounded by document length."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.array_join(F.slice(toks, i + 1, 2), " "),
    )
    return (
        d.filter(n >= 2)
        .select(
            "doc_id",
            n.alias("n_tokens"),
            bigrams.alias("bigrams"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("bigrams").alias("n_bigrams"),
            F.size(F.array_distinct("bigrams")).alias("n_distinct_bigrams"),
            round_half_up(
                1.0
                - F.size(F.array_distinct("bigrams"))
                / F.size("bigrams").cast("double"),
                6,
            ).alias("repetition_ratio"),
        )
    )


def _doc_shingles(docs, width: int, cols: list[str], inrow: bool):
    """Distinct width-token shingles per document over ``cols`` identity
    columns — the shared pipeline behind text_contamination_check and
    text_cross_doc_repeats (code-review r6: the two inline copies could
    drift, e.g. on the short-doc filter). Docs shorter than one shingle
    are excluded (Spark's sequence() would descend on a negative stop;
    DuckDB's generate_series returns empty).

    Each consumer picks its shape with ``inrow``:
     - in-row (optimization r10, guide §2.4): shingles are built as an
       array per document and array_distinct'ed before the explode, so when
       ``cols`` carries the document key (doc_id is unique) the corpus-wide
       DISTINCT Exchange is a no-op and is dropped; the key-less form (the
       benchmark side's global shingle set) still needs a cross-document
       distinct, then over rows already deduplicated within each document;
     - explode+distinct: one row per shingle instance, then one DISTINCT.
    Forced each way at sf0.1 (AB_plan_gates_forced.log), in-row read 0.88
    on text_contamination_check and 1.18 on text_cross_doc_repeats by
    median per-pair ratio, 5 of 5 pairs each: the consumer decides the
    faster shape, not the corpus size. Identical output either way: per-doc
    distinct == corpus distinct when the key is unique."""
    toks = F.split("text", " ")
    n = F.size(toks)
    base = docs.filter(n >= width)
    if not inrow:
        shingle = F.array_join(F.slice(F.col("l"), F.col("i") + 1, width), " ")
        return (
            base.select(
                *cols,
                toks.alias("l"),
                F.explode(F.sequence(F.lit(0), n - width)).alias("i"),
            )
            .select(*cols, shingle.alias("shingle"))
            .distinct()
        )
    shingles = F.transform(
        F.sequence(F.lit(0), n - width),
        lambda i: F.array_join(F.slice(toks, i + 1, width), " "),
    )
    out = base.select(
        *cols, F.explode(F.array_distinct(shingles)).alias("shingle")
    )
    return out if cols else out.distinct()


CONTAM_SHINGLE = 8  # tokens per contamination shingle
BENCHMARK_SOURCE = "src0"  # stands in for the held-out eval set


@query(
    "text_contamination_check",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS l
                 FROM documents WHERE len(string_split(text, ' ')) >= {CONTAM_SHINGLE}),
    sh AS (SELECT DISTINCT doc_id, source,
                  array_to_string(l[i+1:i+{CONTAM_SHINGLE}], ' ') AS shingle
           FROM tok, unnest(generate_series(0, len(l) - {CONTAM_SHINGLE})) AS t(i)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{BENCHMARK_SOURCE}')
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           floor((sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  / (count(*) + 0.0)) * 1000000.0 + 0.5) / 1000000.0
             AS contamination_ratio,
           max(CASE WHEN s.source = '{BENCHMARK_SOURCE}' THEN 1 ELSE 0 END)
             AS is_benchmark
    FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
    GROUP BY s.doc_id
    """,
    tags=("text", "dedup", "contamination"),
)
def text_contamination_check(spark, sf_dir):
    """Benchmark-contamination scan: fraction of each document's 8-token
    shingles that also appear in the held-out benchmark set (here: the
    BENCHMARK_SOURCE source). The decontamination gate every training corpus needs
    before an eval claim is honest.

    Scale shape: the benchmark shingle set is DISTINCT-ed and broadcast (eval
    sets are tiny next to the corpus), so the probe is a map-side hash join
    over the exploded corpus shingles — one corpus scan, one shuffle for the
    per-doc DISTINCT, no all-pairs anything. The benchmark side is built
    from its OWN scan with ``source = BENCHMARK_SOURCE`` pushed down to
    parquet — deriving it by filtering the corpus shingle table would
    re-execute the full-corpus explode+distinct a second time (no plan
    reuse across the broadcast boundary; caching the shingle table instead
    would pin a corpus-sized intermediate). Docs shorter than one shingle
    are excluded on both engines (Spark's sequence() would descend on a
    negative stop; DuckDB's generate_series would return empty)."""
    from .dedup import _spread_input

    def shingles(docs, cols):
        return _doc_shingles(docs, CONTAM_SHINGLE, cols, inrow=True)

    sh = shingles(
        _spread_input(load(spark, sf_dir, "documents")), ["doc_id", "source"]
    )
    bench = (
        shingles(
            load(spark, sf_dir, "documents").filter(
                F.col("source") == BENCHMARK_SOURCE
            ),
            [],
        )
        .withColumn("hit", F.lit(1))
    )
    return (
        sh.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
            round_half_up(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                / F.count("*").cast("double"),
                6,
            ).alias("contamination_ratio"),
            F.max(
                F.when(F.col("source") == BENCHMARK_SOURCE, 1).otherwise(0)
            ).alias("is_benchmark"),
        )
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    scored AS (
      SELECT t.doc_id,
             CAST(floor(-ln(v.cnt / (tot.total + 0.0)) * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM tok t JOIN vocab v USING (token), tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           floor(((sum(q) + 0.0) / (count(*) * 1000000.0)) * 1000000.0 + 0.5) / 1000000.0
             AS avg_neg_logprob
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "quality", "lm"),
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-level unigram LM quality score: mean -ln p(token) per document
    (the cheap stand-in for model-based perplexity filtering — gibberish and
    rare-token spam score high, formulaic boilerplate scores low).

    Two-pass shape: pass 1 aggregates the corpus vocabulary (token counts);
    pass 2 probes it per token occurrence and re-aggregates per document.
    The vocabulary is Heaps'-law-sized (1e8+ distinct tokens on a 100 TB web
    corpus — too big to guarantee under the 8 GB broadcast ceiling), so the
    probe join carries NO broadcast hint (VERDICT r5 #2): AQE broadcasts it
    when small, sort-merges when not. The 1-row total stays hinted.
    Per-token scores are integer-quantized (floor(-ln p * 1e6)) BEFORE the
    per-doc sum, so the aggregation is exact integer arithmetic — immune to
    float summation order across partitions and engines."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    q = F.floor(
        -F.log(F.col("cnt") / F.col("total").cast("double")) * 1000000.0 + 0.5
    ).cast("long")
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", q.alias("q"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            round_half_up(
                (F.sum("q") + 0.0) / (F.count("*") * 1000000.0), 6
            ).alias("avg_neg_logprob"),
        )
    )


# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling" — public method): documents are
# scored by the log-likelihood ratio between a TARGET domain's hashed-token
# distribution and the rest of the corpus's, over a fixed bucket table. The
# bucket count is the method's collision/variance knob; 1024 keeps the
# per-bucket stats table a broadcastable constant at any corpus size.
DSIR_BUCKETS = 1024

# token -> bucket: top 32 bits of md5, mod the bucket constant. Engine twins
# of the same value (the simhash chunk-parse idiom, dedup.py:603-606).
_DSIR_B_SQL = (
    f"(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {DSIR_BUCKETS})"
)
_DSIR_B_SPARK = (
    "(CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT)"
    f" % {DSIR_BUCKETS})"
)

# shared tail: everything downstream of the tokenizer+bucketizer is identical
# SQL text on both engines (counts, smoothing, per-bucket quantized log-ratio,
# per-doc integer sum)
_DSIR_TAIL = f"""
    counts AS (
      SELECT b, CAST(sum(is_t) AS BIGINT) AS cnt_t,
             CAST(sum(1 - is_t) AS BIGINT) AS cnt_r
      FROM tb GROUP BY b
    ),
    tots AS (
      SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t,
             CAST(sum(cnt_r) AS BIGINT) AS tot_r
      FROM counts
    ),
    delta AS (
      SELECT b,
             CAST(floor((ln((cnt_t + 0.5) / (tot_t + {DSIR_BUCKETS / 2.0}))
                       - ln((cnt_r + 0.5) / (tot_r + {DSIR_BUCKETS / 2.0})))
                  * 1000000.0 + 0.5) AS BIGINT) AS dq
      FROM counts, tots
    )
    SELECT {{hint}}t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(d.dq) AS DOUBLE) / 1000000.0 AS dsir_logratio
    FROM tb t JOIN delta d ON d.b = t.b
    GROUP BY t.doc_id
"""


@query(
    "text_dsir_importance",
    oracle=f"""
    WITH tgt AS (SELECT min(source) AS t FROM documents),
    tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tb AS (
      SELECT doc_id, {_DSIR_B_SQL} AS b,
             CASE WHEN source = (SELECT t FROM tgt) THEN 1 ELSE 0 END AS is_t
      FROM tok
    ),
    {_DSIR_TAIL.format(hint="")}
    """,
    tags=("text", "quality", "curation", "dsir"),
)
def text_dsir_importance(spark, sf_dir):
    """DSIR-style importance weight per document — the data-selection score
    behind targeted pre-training mixes (Xie et al. 2023, public method):
    hash every token into one of {DSIR_BUCKETS} buckets, estimate the
    target domain's bucket distribution vs the rest of the corpus's
    (add-0.5 smoothing so unseen buckets stay finite), and score each doc
    by the summed per-token log-likelihood ratio. High scores = documents
    that look like the target domain; resampling by these weights is how
    a 100 TB crawl gets shaped toward a quality/domain target without a
    trained classifier. The target here is min(source) — deterministic at
    every SF; in production it is the user's curated seed corpus.

    Shape at 100 TB: the token stream reduces IMMEDIATELY to the
    {DSIR_BUCKETS}-row bucket-stats table (one partial-aggregable groupBy;
    the bucket constant caps the state, never vocabulary-sized — exactly
    the Heaps'-law hazard that forced text_unigram_logprob's vocab join to
    drop its broadcast hint, designed away here by hashing). Scoring is a
    second corpus pass joined to the {DSIR_BUCKETS}-row quantized
    log-ratio table (broadcast by the bucket-constant bound) and one
    per-doc integer sum. Per-bucket log-ratios are floor-quantized to the
    1e-6 grid ONCE ({DSIR_BUCKETS} ln() calls total, not per token), so
    the per-doc aggregation is exact integer arithmetic — immune to float
    summation order across partitions and engines. The target-source
    marker is a scalar subquery (1-row broadcast). NULL-text docs tokenize
    to nothing and simply don't appear (the text_unigram_logprob
    contract)."""
    from .dedup import _sql_over

    d = load(spark, sf_dir, "documents")
    sql = f"""
    WITH tgt AS (SELECT min(source) AS t FROM {{v}}),
    tok AS (
      SELECT doc_id, source, token
      FROM {{v}} LATERAL VIEW explode(split(text, ' ')) AS token
    ),
    tb AS (
      SELECT doc_id, {_DSIR_B_SPARK} AS b,
             CASE WHEN source = (SELECT t FROM tgt) THEN 1 ELSE 0 END AS is_t
      FROM tok
    ),
    {_DSIR_TAIL.format(hint="/*+ BROADCAST(d) */ ")}
    """
    return _sql_over(d, "dsir", sql)


@query(
    "text_inverted_index",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM words WHERE term <> '' GROUP BY doc_id, term
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS postings_md5
    FROM tf
    GROUP BY term
    HAVING count(*) >= 2
    """,
    tags=("text", "search"),
)
def text_inverted_index(spark, sf_dir):
    """Inverted-index build: term -> document frequency, total term
    frequency, and an md5 digest of the doc-id-sorted posting list (the
    digest stands in for the list itself so the output carries no arrays).
    One tokenize pass, two partial-aggregated shuffles (doc-term tf, then
    term). At real corpus scale a stop-word-frequency term's posting list
    is the skew hazard — production builds shard postings into fixed-size
    blocks per term (doc_id div B as a secondary key); the fixture
    vocabulary is Zipf-flat so the single-list form is the honest shape
    here and the digest keeps the comparison exact."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("total_tf"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("postings_md5"),
        )
        .filter(F.col("df") >= 2)
    )


# BM25 constants (Robertson-Sparck Jones defaults) and a fixed query.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ["spark", "join", "window"]


@query(
    "text_bm25_search",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      FROM words WHERE term <> '' GROUP BY doc_id
    ),
    corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_dl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM words WHERE term IN ({", ".join(repr(t) for t in _BM25_TERMS)})
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               (ln((CAST(c.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                   / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
                * ((CAST(tf.tf AS DOUBLE) * {_BM25_K1 + 1.0})
                   / (CAST(tf.tf AS DOUBLE)
                      + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B}
                        * (CAST(dl.dl AS DOUBLE)
                           / (CAST(c.total_dl AS DOUBLE) / CAST(c.n_docs AS DOUBLE)))))))
               * 1000000.0 + 0.5) AS BIGINT) AS term_score_u
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN df ON tf.term = df.term
      CROSS JOIN corpus c
    )
    SELECT doc_id, CAST(sum(term_score_u) AS BIGINT) AS bm25_micro,
           CAST(row_number() OVER (ORDER BY CAST(sum(term_score_u) AS BIGINT) DESC, doc_id)
                AS INTEGER) AS rnk
    FROM scored
    GROUP BY doc_id
    QUALIFY rnk <= 20
    ORDER BY rnk
    """,
    tags=("text", "search"),
)
def text_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval for a fixed 3-term query (k1=1.2, b=0.75): the
    scoring function behind every classical search engine and the standard
    relevance filter in corpus curation. The fact-side work is one tokenize
    pass; the df broadcast is QUERY-TERM-sized (tf is pre-filtered to
    _BM25_TERMS, so df has at most len(_BM25_TERMS) = 3 rows — a hard bound,
    unlike a full-vocabulary df) and the corpus stats are 1-row, so the plan
    is scan -> two broadcast joins -> per-doc sum however large the corpus.
    Per-term scores are quantized to integer micro-units BEFORE the
    per-doc sum (same discipline as text_unigram_logprob) so the ranking
    never hinges on float accumulation order."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # ONE tokenize pass (r10; the before plan tokenized the corpus twice —
    # once for dl, once for the query-term tf — 8 parquet scans total):
    # per-doc length and the three query-term counts come out of a single
    # groupBy(doc_id), materialized once, eagerly (doc_id + 4 longs — far
    # narrower than the token stream): the corpus stats and the scoring
    # pass both consume it (see text_tfidf_top_terms' tf for why the r11
    # size gate went). The tf/df/dl relations and their joins collapse
    # into row-wise arithmetic over this table.
    per_doc = (
        words.groupBy("doc_id").agg(
            F.count("*").alias("dl"),
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0))
                .cast("long")
                .alias(f"tf_{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        )
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int"))
            .cast("long")
            .alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    dld = F.col("dl").cast("double")
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")

    def term_score(i: int):
        # identical float expression tree per (tf, dl, df) as the joined
        # form: idf from the per-term df scalar, ratio from the row's tf/dl
        tfd = F.col(f"tf_{i}").cast("double")
        dfd = F.col(f"df_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - dfd + 0.5) / (dfd + 0.5) + 1.0
        )
        ratio = (tfd * (_BM25_K1 + 1.0)) / (
            tfd + _BM25_K1 * ((1.0 - _BM25_B) + _BM25_B * (dld / avgdl))
        )
        # a term with tf = 0 had no (doc, term) row before — contributes 0
        return F.when(
            F.col(f"tf_{i}") > 0,
            F.floor(idf * ratio * 1000000.0 + 0.5).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    any_term = F.greatest(
        *[F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))]
    ) > 0
    bm25 = sum(term_score(i) for i in range(len(_BM25_TERMS)))
    w = W.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(any_term)
        .select("doc_id", bm25.cast("long").alias("bm25_micro"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


# --- PII scrubbing -----------------------------------------------------------
# The patterns stay inside the (large) Java-regex ∩ RE2 common subset —
# character classes, bounded repetition, \b — so Spark's regexp_* (Java) and
# the DuckDB oracle (RE2) match identical spans.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"

# Deterministic PII injection: the synthetic corpus contains no contact
# info, so decorate each document with derived identifiers (and an SSN on
# every third doc) — the scrub then has real spans to find and the counts
# are document-dependent instead of uniformly zero.
_PII_DECORATE_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " from host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    " || CASE WHEN doc_id % 3 = 0"
    " THEN ' ssn 123-45-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    " ELSE '' END"
)


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH decorated AS (
      SELECT doc_id, {_PII_DECORATE_SQL} AS text FROM documents
    ), scrubbed AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ips,
             len(regexp_extract_all(text, '{_PII_SSN}')) AS n_ssn,
             regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_SSN}', '<SSN>', 'g') AS redacted
      FROM decorated
    )
    SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails,
           CAST(n_ips AS INTEGER) AS n_ips, CAST(n_ssn AS INTEGER) AS n_ssn,
           md5(redacted) AS redacted_md5,
           CAST(length(redacted) AS BIGINT) AS redacted_len
    FROM scrubbed
    """,
    tags=("text", "pii", "scalar"),
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction — the compliance pass every training corpus needs
    before release: count and mask emails / IPv4 literals / SSNs. Pure
    Column regex expressions (Java side, whole-stage codegen): a narrow
    per-row projection with zero shuffles, so at 100 TB it costs exactly
    one scan and parallelizes embarrassingly. Output carries md5 of the
    redacted text (portable value-hash) rather than the text itself."""
    d = load(spark, sf_dir, "documents")
    decorated = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from host 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    (1000 + F.col("doc_id") % 9000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4, "<IP>",
        ),
        _PII_SSN, "<SSN>",
    )
    return decorated.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IPV4), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_SSN), F.lit(0))).alias("n_ssn"),
        F.md5(F.encode(redacted, "utf-8")).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@query(
    "text_entropy_by_source",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), counts AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks WHERE tok <> '' GROUP BY source, tok
    ), totals AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_types
      FROM counts GROUP BY source
    ), contrib AS (
      -- quantize each token's -p*ln(p) to micro-nats BEFORE summing so the
      -- cross-engine sum is an order-immune integer sum (the BM25 trick)
      SELECT c.source,
             CAST(floor(-1000000.0 * (CAST(c.c AS DOUBLE) / t.total)
                        * ln(CAST(c.c AS DOUBLE) / t.total) + 0.5) AS BIGINT)
               AS h_u
      FROM counts c JOIN totals t USING (source)
    )
    SELECT t.source, t.total AS n_tokens, t.n_types,
           CAST(sum(co.h_u) AS BIGINT) AS entropy_micro_nats
    FROM contrib co JOIN totals t USING (source)
    GROUP BY t.source, t.total, t.n_types
    """,
    tags=("text", "quality", "agg"),
)
def text_entropy_by_source(spark, sf_dir):
    """Unigram Shannon entropy per source — the corpus-diversity signal
    curation pipelines watch (a collapsing entropy means a source went
    template-heavy or got polluted). Token counting is one shuffle keyed by
    (source, token) with map-side partial aggregation; the per-source
    totals (|sources| rows) broadcast back onto the counts; each token's
    -p*ln(p) is quantized to integer micro-nats BEFORE the final sum so
    accumulation order — which Spark and DuckDB never agree on for floats —
    cannot move the result."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("n_types"),
    )
    p = F.col("c").cast("double") / F.col("n_tokens")
    contrib = counts.join(F.broadcast(totals), "source").select(
        "source",
        "n_tokens",
        "n_types",
        F.floor(-1000000.0 * p * F.log(p) + 0.5).cast("long").alias("h_u"),
    )
    return contrib.groupBy("source", "n_tokens", "n_types").agg(
        F.sum("h_u").cast("long").alias("entropy_micro_nats")
    )


REPEAT_SHINGLE = 5  # tokens per cross-doc repeat shingle


@query(
    "text_cross_doc_repeats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l
                 FROM documents WHERE len(string_split(text, ' ')) >= {REPEAT_SHINGLE}),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(l[i+1:i+{REPEAT_SHINGLE}], ' ') AS shingle
           FROM tok, unnest(generate_series(0, len(l) - {REPEAT_SHINGLE})) AS t(i)),
    freq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
             FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeated,
           floor((sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                  / (count(*) + 0.0)) * 1000000.0 + 0.5) / 1000000.0
             AS repeat_ratio
    FROM sh s JOIN freq f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    """,
    tags=("text", "dedup", "substring"),
)
def text_cross_doc_repeats(spark, sf_dir):
    """Substring-level cross-document duplication: for each document, the
    fraction of its distinct 5-token shingles that occur in at least one
    OTHER document — the signal behind substring-granular corpus dedup
    (boilerplate headers, license blocks, templated spans that doc-level
    MinHash/Jaccard cannot see because the containing documents differ).
    Reference technique: Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (approximated at shingle granularity; the
    suffix-array formulation is not expressible as a dataflow).

    Scale shape: per-doc DISTINCT shingles (one shuffle), shingle-keyed
    frequency count (partial-aggregated; hot boilerplate shingles combine
    map-side), then an equi-join back on shingle and a per-doc aggregate.
    The frequency table is vocabulary-sized, so nothing here is all-pairs
    and no stage depends on corpus row count beyond linear scans."""
    d = load(spark, sf_dir, "documents")
    sh = _doc_shingles(d, REPEAT_SHINGLE, ["doc_id"], inrow=False)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    rep = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(rep).cast("long").alias("n_repeated"),
            round_half_up(
                F.sum(rep) / F.count("*").cast("double"), 6
            ).alias("repeat_ratio"),
        )
    )


# --- Tokenizer fertility per language (r10) ----------------------------------


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS n_ws,
             CAST(length(regexp_extract_all(text, '{_BPE_PATTERN}'))
                  AS BIGINT) AS n_bpe
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_bpe) * 1000 // sum(n_chars) AS BIGINT)
             AS bpe_per_kchar,
           CAST(sum(n_bpe) * 100 // sum(n_ws) AS BIGINT)
             AS bpe_per_100_ws
    FROM per_doc GROUP BY lang
    """,
    tags=("text", "tokens", "bpe", "fertility"),
)
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language — the multilingual budget metric
    (tokens a tokenizer spends per unit of text) that decides whether a
    vocabulary is fair across languages before a training mix is frozen:
    a language whose bpe_per_kchar runs far above the corpus norm pays
    more context window per character, so its effective epoch share
    shrinks unless the domain-mix allocation (curation_domain_mix)
    compensates. Reuses text_bpe_token_count's pre-tokenizer regex
    verbatim so per-doc and per-language surfaces stay comparable.

    Both fertility ratios are corpus-level integer divisions of exact
    BIGINT sums (tokens*1000 DIV chars, tokens*100 DIV ws-tokens) — no
    float accumulation, order-insensitive, partial-aggregable. One scan,
    one groupBy(lang) whose state is #languages rows: the 100 TB shape is
    a map-side-combined aggregate and a |langs|-row result.

    Reference scope note: extension surface (SURVEY §2 'beyond the
    reference' LLM-pipeline rungs), no reference counterpart."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_chars = F.length("text").cast("long")
    n_ws = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    n_bpe = F.size(
        F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
    ).cast("long")
    return (
        d.select("lang", n_chars.alias("n_chars"), n_ws.alias("n_ws"),
                 n_bpe.alias("n_bpe"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_ws_tokens",
            "total_bpe_tokens",
            F.expr("total_bpe_tokens * 1000 DIV total_chars")
            .alias("bpe_per_kchar"),
            F.expr("total_bpe_tokens * 100 DIV total_ws_tokens")
            .alias("bpe_per_100_ws"),
        )
    )
