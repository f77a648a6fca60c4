"""LLM-data-pipeline query registry entries (SURVEY.md §2B, Phase 4).

Text analysis, dedup families, similarity search, multimodal plumbing,
and the Python-UDF surface — the operations a 100 TB training-data
pipeline runs over the ``documents`` / ``embeddings`` tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import multimodal as MM
from ..operators import similarity as SIM
from ..operators import udfs as U
from ..sources import load_table, spread_scan
from .registry import register

_SW_SQL = "['the','a','of','and','is','to','in','for','on','with']"


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ------------------------------------------------------------- text ops

@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
           n_chars,
           len(list_filter(string_split(text, ' '), x -> list_contains({_SW_SQL}, x)))
             / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    """,
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/char statistics — all codegen'd scan-side."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.distinct_token_count(t).alias("n_distinct"),
        "n_chars",
        TX.stopword_ratio(t).alias("stopword_ratio"),
    )


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     x -> list_contains({_SW_SQL}, x)))
                     / len(string_split(text, ' ')) >= 0.1
                THEN 'en' ELSE 'unknown' END AS pred_lang
    FROM documents
    """,
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword vote; see functions/text.py for
    why a char-n-gram model is untrainable on this synthetic corpus)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", TX.langid_en(F.col("text")).alias("pred_lang"))


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           (CASE WHEN len(toks) BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
                        / len(toks) > 0.05
                    AND len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
                        / len(toks) < 0.7
                   THEN 1.0 ELSE 0.0 END
            + len(list_distinct(toks)) / len(toks)) / 3.0 AS quality
    FROM t
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length band + stopword band + lexical
    diversity) — the cheap pretrain-filter stack."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


@register(
    "text_quality_logreg",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ),
    f AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             len(list_filter(toks, x -> list_contains({_SW_SQL}, x))) * 1.0
               / len(toks) AS stop_frac,
             len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_frac,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               * 1.0 / length(text) AS digit_frac
      FROM t
    )
    SELECT doc_id, n_words,
           ROUND(1.0 / (1.0 + EXP(-(-2.0 + 0.01 * LEAST(n_words, 300)
                 + 4.0 * stop_frac + 2.5 * distinct_frac
                 - 6.0 * digit_frac))), 6) AS score,
           CAST(CASE WHEN 1.0 / (1.0 + EXP(-(-2.0 + 0.01 * LEAST(n_words, 300)
                 + 4.0 * stop_frac + 2.5 * distinct_frac
                 - 6.0 * digit_frac))) >= 0.5
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM f
    """,
    tags=("text", "quality"),
)
def text_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored quality filter — the fastText-classifier shape of
    pretrain curation (CCNet/LLaMA-style) with a LITERAL linear model
    so the whole scorer is engine-portable: engineered features
    (capped word count, stopword fraction, lexical diversity, digit
    fraction) → fixed-weight logit → sigmoid → keep @ 0.5. The point
    is the PLUMBING a learned classifier drops into: features are
    whole-stage-codegen column expressions computed in one pass over
    the text (no UDF), the "model" is a closed-form expression, and
    swapping in trained weights (or a Pandas-UDF ONNX scorer) changes
    nothing about the plan shape. Scale: embarrassingly parallel
    map-only scan — no shuffle at all."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in TX.STOPWORDS])
    n_words = F.size(toks).cast("bigint")
    # array_intersect would dedup — COUNT occurrences with filter, like
    # the DuckDB list_filter side
    stop_frac = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))) * 1.0 / F.size(
        toks
    )
    distinct_frac = F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)
    digit_frac = (
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", "")))
        * 1.0
        / F.length("text")
    )
    logit = (
        F.lit(-2.0)
        + 0.01 * F.least(n_words, F.lit(300).cast("bigint"))
        + 4.0 * stop_frac
        + 2.5 * distinct_frac
        - 6.0 * digit_frac
    )
    score = 1.0 / (1.0 + F.exp(-logit))
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(score, 6).alias("score"),
        F.when(score >= 0.5, 1).otherwise(0).cast("int").alias("keep"),
    )


@register(
    "text_bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    vocab AS (
      SELECT word, COUNT(*) AS freq FROM w WHERE length(word) >= 2
      GROUP BY word
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(word)),
                    i -> substring(word, CAST(i AS INTEGER), 2))) AS pair,
             freq
      FROM vocab
    ),
    agg AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n, CAST(rk AS INTEGER) AS rk
    FROM (SELECT pair, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk
          FROM agg)
    WHERE rk <= 20
    """,
    tags=("text", "tokenizer"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE-training merge step, distributed the way real
    tokenizer trainers run it: corpus → WORD-FREQUENCY table (vocab
    grain — the only corpus-sized pass), then adjacent character
    pairs are generated per DISTINCT word and weighted by word
    frequency, so pair counting costs O(vocab × word_len), not
    O(corpus tokens). Emits the top-20 candidate merges (count desc,
    pair asc — the deterministic argmax a BPE trainer would fuse
    next). Iterating this step with a merge applied is exactly BPE
    training; one step keeps the key SQL-oracle-able.

    Scale shape: explode-to-words shuffles once to the vocab grain;
    everything after runs on |vocab| rows; the final top-20 is a
    TakeOrderedAndProject (per-partition top-20, merged on the
    driver — VERDICT r5 nit: no single-partition Window over the
    full pair domain), with row_number assigned over just the 20
    surviving rows."""
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    from pyspark.sql.window import Window

    top = agg.orderBy(F.col("n").desc(), "pair").limit(20)
    w = Window.orderBy(F.col("n").desc(), "pair")  # ≤ 20 rows by then
    return top.select(
        "pair", "n", F.row_number().over(w).cast("int").alias("rk")
    )


@register(
    "text_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^\sa-zA-Z0-9]')) AS INTEGER) AS n_bpeish_tokens
    FROM documents
    """,
    tags=("text",),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex pre-tokenizer."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(t).alias("n_ws_tokens"),
        F.size(TX.regex_tokens(t)).alias("n_bpeish_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
    FROM documents
    """,
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive md5 fingerprint (md5 is engine-portable, unlike
    xxhash64 whose seeds differ across engines)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


@register(
    "text_vocab",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 50
    """,
    tags=("text",),
)
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with frequencies (explode → count → top-50) —
    the tokenizer-training / frequency-filter primitive. The explode
    never materializes corpus-wide: partial counts combine map-side and
    only the (token, count) pairs shuffle."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(50)
    )


@register(
    "text_ngram_freq",
    oracle="""
    WITH idx AS (
      SELECT doc_id,
             UNNEST(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    )
    SELECT a.tok || ' ' || b.tok AS bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM idx a JOIN idx b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
    tags=("text",),
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the n-gram-LM / contamination-check
    primitive). Spark side is MAP-SIDE: zip_with over two shifted
    slices builds each document's bigram list inside codegen — no
    self-join, no extra shuffle beyond the count aggregation (the
    DuckDB oracle uses the equivalent positional self-join; at 100 TB
    the zip_with form is the one that scales — the join form would
    shuffle the exploded token table twice)."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.split("text", " ").alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    "         slice(toks, 2, size(toks) - 1),"
                    "         (a, b) -> concat(a, ' ', b))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


@register(
    "text_pii_redact",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '[0-9]', '#', 'g') AS redacted,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS INT) AS n_digits_masked
    FROM documents
    """,
    tags=("text",),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing, the standard pre-training hygiene pass: mask
    email addresses then every digit, entirely in JVM-side regexp_replace
    (global-replace in both engines) — no Python in the hot path, so at
    100 TB this runs at scan speed inside one codegen stage. The regex
    is RE2/Java-portable (character classes + bounded repeat only)."""
    d = _docs(spark, sf_dir)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "[EMAIL]"), "[0-9]", "#"
        ).alias("redacted"),
        (
            F.length("text") - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
        ).cast("int").alias("n_digits_masked"),
    )


@register("text_tfidf", tags=("text", "mllib"))
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → HashingTF → IDF (MLlib feature pipeline). Rows-only
    driver check (hash-bucketed vectors are engine-specific); pytest
    pins norms > 0 and idf monotonicity vs document frequency."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    d = _docs(spark, sf_dir)
    toks = Tokenizer(inputCol="text", outputCol="toks").transform(d)
    tf = HashingTF(inputCol="toks", outputCol="tf", numFeatures=1 << 12).transform(toks)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf.transform(tf)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array("tfidf")
    norm = F.sqrt(F.aggregate(F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return out.select("doc_id", norm.alias("tfidf_norm"))


@register(
    "text_tfidf_exact",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    sc AS (
      SELECT t.doc_id, t.term, t.tf,
             t.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0) AS score
      FROM tf t JOIN df d USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, term, tf, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM sc
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           ROUND(score, 6) AS tfidf, CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 3
    """,
    tags=("text",),
)
def text_tfidf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact term-level TF-IDF, top-3 terms per document — the
    hash-verifiable sibling of text_tfidf (whose HashingTF buckets are
    engine-specific): smooth idf = ln((N+1)/(df+1)) + 1, integer tf, so
    both engines compute the identical double product and the (score
    DESC, term) ranking is deterministic. Shapes: explode → one
    (doc, term) hash aggregate; df is a second aggregate over the
    ALREADY doc-distinct tf frame (no count-distinct pass over raw
    tokens); the idf join shuffles on term (vocab-sized — too big to
    assume broadcastable at 100 TB); top-3 via rank window becomes
    WindowGroupLimit, never a full per-doc sort of the corpus."""
    d = _docs(spark, sf_dir)
    from pyspark.sql.window import Window

    tok = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.count()
    sc = tf.join(df, "term").select(
        "doc_id",
        "term",
        "tf",
        (F.col("tf") * (F.log((n + 1.0) / (F.col("df") + 1.0)) + 1.0)).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", F.round("score", 6).alias("tfidf"), "rk")
    )


@register(
    "text_chunk",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(toks[i * 40 + 1 : i * 40 + 50], ' ') AS chunk,
           CAST(len(toks[i * 40 + 1 : i * 40 + 50]) AS INTEGER) AS chunk_tokens
    FROM t, LATERAL UNNEST(generate_series(0,
             CAST(ceil(greatest(n - 50, 0) / 40.0) AS BIGINT))) AS u(i)
    """,
    tags=("text",),
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (50-token chunks,
    stride 40) — the RAG / pretraining slicing primitive. One doc → N
    chunk rows entirely inside codegen: chunk starts come from
    ``sequence``, slices from ``slice``, so the explode ships no Python
    and the chunk count per doc is ⌈max(n−50,0)/40⌉+1 (full coverage,
    no degenerate tail chunk). At 100 TB this runs at scan speed — the
    only cost above the scan is the output row count (~n/40 per doc)."""
    d = _docs(spark, sf_dir)
    n = F.size(F.col("toks"))
    n_chunks = F.ceil(F.greatest(n - 50, F.lit(0)) / 40.0).cast("int")
    return (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks),
                    lambda i: F.slice(F.col("toks"), i * 40 + 1, 50),
                )
            ).alias("chunk_idx", "chunk_toks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join("chunk_toks", " ").alias("chunk"),
            F.size("chunk_toks").alias("chunk_tokens"),
        )
    )


@register(
    "text_pack",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, CAST(shard AS INTEGER) AS shard, n_tokens,
           CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT) AS bin
    FROM t
    """,
    tags=("text",),
)
def text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING for pretraining batches: docs are packed into
    ≤512-token bins by cumulative token offset (a doc's bin = its start
    offset div 512), sharded so the packing window parallelizes —
    exact greedy first-fit is inherently sequential, so the scalable
    form is per-shard offset packing: deterministic, one window shuffle
    on (shard), and bins straddle only at shard-local boundaries. The
    100 TB plan is (shard → sort by doc_id → cumsum) with no global
    ordering anywhere."""
    d = _docs(spark, sf_dir)
    from pyspark.sql.window import Window

    n_tokens = F.size(F.split("text", " ")).cast("long")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 512).alias("bin"),
    )


@register(
    "data_split",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                        AS BIGINT) % 100 AS h
            FROM documents)
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM s GROUP BY split
    """,
    tags=("text", "sampling"),
)
def data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by CONTENT-STABLE
    hash — md5(doc_id) mod 100, identical in every engine and on every
    run, so a document's split never changes as the corpus grows (the
    property row-number or random splits lack; md5 rather than
    xxhash64 because the oracle must replay it). A pure narrow map at
    100 TB: no shuffle until the audit count."""
    d = _docs(spark, sf_dir)
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return (
        d.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
        )
    )


@register(
    "split_contamination",
    oracle="""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      -- synthesized leak: 10 lowest-id docs cloned into new eval ids
      -- (the raw corpus has no byte-exact dups — without the clones the
      -- check would pass vacuously on an empty result)
      SELECT doc_id + 1000000, text
      FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10)
    ),
    s AS (
      SELECT doc_id, md5(text) AS fp,
             CASE WHEN doc_id < 1000000
                       AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                                AS BIGINT) % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM base
    )
    SELECT a.doc_id AS train_doc, b.doc_id AS eval_doc
    FROM s a JOIN s b ON a.fp = b.fp
    WHERE a.split = 'train' AND b.split = 'eval'
    """,
    tags=("text", "dedup"),
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval CONTAMINATION check: exact-text collisions across the
    split boundary (the pre-training hygiene gate — eval answers leaking
    into train). Docs join on md5(text) fingerprints, never on raw text
    — at 100 TB the shuffle carries 16-byte digests, and the join is an
    ordinary hash join on the digest. The raw corpus is clean (no
    byte-exact dups), so 10 cloned docs are unioned into the eval side
    to prove detection fires; near-dup contamination is the composition
    dedup_minhash ∘ data_split."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    clones = (
        d.orderBy("doc_id")
        .limit(10)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    base = d.unionByName(clones)
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    s = base.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.when((F.col("doc_id") < 1_000_000) & (h < 80), "train")
        .otherwise("eval")
        .alias("split"),
    )
    a = s.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "fp"
    )
    b = s.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_doc"), "fp"
    )
    return a.join(b, "fp").select("train_doc", "eval_doc")


# ---------------------------------------------------------------- dedup

_SHINGLE3_SQL = """list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
               i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
             ))"""


def _minhash_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Bit-exact DuckDB replica of operators/dedup.py's MinHash+LSH:
    same md5-prefix base hash, same (a·x+b) mod p family, same
    band-slice bucket join — generated from the SAME coefficient
    function as the Spark plan so the two cannot drift (VERDICT r3
    item 2: this key was rows-only while the hash was xxhash64)."""
    from ..functions.hashing import MINHASH_P, minhash_coeffs, sql_hash60

    width = num_hashes // bands
    mins = ",\n             ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    sig = ", ".join(f"h{i}" for i in range(num_hashes))
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLE3_SQL}) AS s
      FROM documents
    ), hx AS (
      SELECT doc_id, {sql_hash60('s')} % {MINHASH_P} AS x FROM sh
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM hx GROUP BY doc_id
    ), sigl AS (
      SELECT doc_id, [{sig}] AS mh FROM sig
    ), banded AS (
      SELECT doc_id, mh, g.b AS band,
             mh[(g.b*{width}+1):(g.b*{width}+{width})] AS bucket
      FROM sigl CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b) g
    ), est AS (
      SELECT a.doc_id AS id_a, c.doc_id AS id_b,
             MIN(len(list_filter(list_zip(a.mh, c.mh), p -> p[1] = p[2]))
                 / {num_hashes}.0) AS jaccard_est
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard_est FROM est WHERE jaccard_est >= 0.5
    """


def _simhash_oracle(bits: int = 60, bands: int = 4, max_hamming: int = 3) -> str:
    """Bit-exact DuckDB replica of operators/dedup.py's banded SimHash
    (same portable 60-bit token hash, same ±1 votes, same band-slice
    bucket join)."""
    from ..functions.hashing import sql_hash60

    width = bits // bands
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sign = ", ".join(f"CASE WHEN b{b} > 0 THEN 1 ELSE 0 END" for b in range(bits))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), hx AS (
      SELECT doc_id, {sql_hash60('t')} AS h FROM tok
    ), votes AS (
      SELECT doc_id,
             {votes}
      FROM hx GROUP BY doc_id
    ), bt AS (
      SELECT doc_id, [{sign}] AS bits FROM votes
    ), banded AS (
      SELECT doc_id, bits, g.b AS band,
             bits[(g.b*{width}+1):(g.b*{width}+{width})] AS bucket
      FROM bt CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b) g
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             CAST(len(list_filter(list_zip(a.bits, c.bits), p -> p[1] <> p[2]))
                  AS INTEGER) AS hamming
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


@register("dedup_minhash", oracle=_minhash_oracle(), tags=("dedup",))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with Jaccard estimates —
    portable md5-prefix base hash + universal-hash family
    (functions/hashing.py), banded bucket join (see operators/dedup.py
    for the scale argument). FULLY SQL-oracled: the DuckDB replica
    recomputes signatures, banding, and estimates bit-for-bit; pytest
    additionally checks estimates against exact shingle Jaccard."""
    return DD.minhash_candidate_pairs(
        _docs(spark, sf_dir), num_hashes=32, bands=8
    ).filter(F.col("jaccard_est") >= 0.5)


@register("dedup_simhash", oracle=_simhash_oracle(), tags=("dedup",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded 60-bit SimHash pairs within hamming distance 3
    (4×15-bit bands; pigeonhole guarantees recall). FULLY SQL-oracled
    via the portable md5-prefix token hash (functions/hashing.py) —
    previously rows-only because xxhash64 had no DuckDB twin."""
    return DD.simhash_candidate_pairs(_docs(spark, sf_dir), max_hamming=3)


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
               i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
             )) AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs ≥ 0.8 via lossless prefix
    filtering (operators/dedup.py). The oracle is the NAIVE all-pairs
    SQL — prefix filtering must return exactly the same pairs."""
    return DD.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.8)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                                         p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
             / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                                        p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
            / (a.nrm * b.nrm) >= 0.4
    """,
    tags=("dedup", "vector"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ threshold (semantic dedup).
    Threshold 0.4 here: the synthetic corpus has NO true near-dups (max
    pairwise cosine 0.513, measured) — 0.4 exercises the operator with
    a non-empty result; production semantic dedup would use ~0.95."""
    return SIM.embedding_near_dups(_emb(spark, sf_dir), threshold=0.4)


@register(
    "dedup_edit_distance",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 6
    """,
    tags=("dedup",),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by edit distance with BLOCKING: levenshtein is
    O(len²) per pair and all-pairs is O(n²) rows, so candidate pairs
    come from an equi-join on cheap blocking keys (brand, size) and
    the quadratic work runs only inside tiny blocks. At 100 TB the
    blocking join is an ordinary shuffle join on the block key —
    cardinality is bounded by the largest block, not the table. Both
    engines implement unit-cost Levenshtein, so the distance itself is
    SQL-oracled."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a = p.alias("a")
    b = p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
        )
        .filter(F.col("dist") <= 6)
    )


@register("dedup_cluster_rep", tags=("dedup",))
def dedup_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline: MinHash candidates (est ≥ 0.5) →
    connected components (transitive near-dup clusters) → canonical
    representative per cluster (operators/graph.py). Rows-only; pytest
    oracle is a python union-find over the same pairs."""
    from ..operators.graph import dedup_cluster_representatives

    docs = _docs(spark, sf_dir)
    pairs = DD.minhash_candidate_pairs(docs, num_hashes=32, bands=8).filter(
        F.col("jaccard_est") >= 0.5
    )
    return dedup_cluster_representatives(docs, pairs)


# ----------------------------------------------------------- similarity

@register(
    "sim_cosine_topk",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM n ORDER BY vec_id LIMIT 10)
    SELECT q_id, n_id, cosine, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                           p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (q.nrm * c.nrm) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                                      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                        / (q.nrm * c.nrm) DESC, c.vec_id
             ) AS rk
      FROM q JOIN n c ON c.vec_id <> q.vec_id
    ) WHERE rk <= 5
    """,
    tags=("vector",),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first-10 query set — the exact
    baseline; corpus never shuffles (broadcast queries + WindowGroupLimit)."""
    e = _emb(spark, sf_dir)
    q = e.orderBy("vec_id").limit(10)
    return SIM.cosine_topk_bruteforce(e, q, k=5)


@register("sim_ivf_topk", tags=("vector",))
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: our own K-Means as the coarse quantizer,
    nprobe=4 of 16 cells probed per query (operators/similarity.py).
    Rows-only; pytest pins recall vs brute force."""
    e = _emb(spark, sf_dir)
    q = e.orderBy("vec_id").limit(10)
    return SIM.ivf_topk(e, q, k=5, n_clusters=16, nprobe=4)


@register("sim_pq_topk", tags=("vector",))
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization approximate top-5 (operators/similarity.py
    pq_topk): 64-d floats compress to 8 one-byte codes; queries score
    the compressed corpus via ADC table lookups. Rows-only (codebooks
    are seeded-sample k-means, not SQL-replicable); pytest pins recall
    vs brute force."""
    e = _emb(spark, sf_dir)
    q = e.orderBy("vec_id").limit(10)
    return SIM.pq_topk(e, q, k=5)


@register("sim_lsh_topk", tags=("vector", "mllib"))
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via BucketedRandomProjectionLSH over unit
    vectors (the 100 TB path: bucket-collision candidates only).
    Rows-only; pytest measures recall vs brute force."""
    e = _emb(spark, sf_dir)
    q = e.orderBy("vec_id").limit(10)
    return SIM.lsh_topk(e, q, k=5)


@register("sim_hnsw_topk", tags=("vector",))
def sim_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-refined approximate top-5 — distributed HNSW-lite
    (operators/similarity.py hnsw_lite_topk): coarse-centroid entry
    layer + NN-Descent-refined proximity graph + fixed-round beam
    search. Completes the similarity family beside IVF/LSH/PQ (VERDICT
    r10 item 7). Rows-only (probabilistic recall, seeded build);
    pytest pins mean recall@5 vs brute force."""
    e = _emb(spark, sf_dir)
    q = e.orderBy("vec_id").limit(10)
    return SIM.hnsw_lite_topk(e, q, k=5)


# ----------------------------------------------------------- multimodal

@register(
    "multimodal_schema",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(len(e.embedding) AS INTEGER) AS dim,
           ROUND(CAST(e.embedding[1] AS DOUBLE), 5) AS e0
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    tags=("multimodal",),
)
def multimodal_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One table carrying text + vector + scalars jointly — DataFrame
    columns are natively multimodal; this is the doc⋈vector join that
    feeds every downstream mixed-modality op."""
    d = _docs(spark, sf_dir)
    e = _emb(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        F.size("embedding").alias("dim"),
        F.round(v[0], 5).alias("e0"),
    )


@register(
    "multimodal_decode",
    oracle="""
    WITH g AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
      FROM documents
    )
    SELECT doc_id,
           'png' AS fmt,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           ROUND(list_aggregate(list_transform(
                   generate_series(0, w * h - 1),
                   i -> (doc_id * 31 + i * 7) % 256), 'sum') * 1.0
                 / (w * h), 6) AS mean_pixel
    FROM g
    """,
    tags=("multimodal",),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary-column decode pipeline: documents → genuine PNG
    payloads encoded executor-side (deterministic geometry/pixels in
    doc_id, all five scanline filters) → Arrow-batched REAL decode
    (functions/imagecodec.py: CRC-verified chunk walk, zlib inflate,
    un-filter) → geometry + pixel stats, with a header probe cross-
    checking decoded dimensions. The DuckDB oracle recomputes width/
    height/mean_pixel from the generation formula, so a hash match
    proves the encode→bytes→decode round trip recovered every pixel —
    the kernel is no longer a stub (round-2 VERDICT item 2)."""
    media = MM.to_image_table(_docs(spark, sf_dir))
    return MM.decode_media(media, real_decode=True)


@register(
    "multimodal_probe_formats",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                           WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS fmt,
           CAST(4 + doc_id % 13 AS INTEGER) AS width,
           CAST(3 + doc_id % 11 AS INTEGER) AS height
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_probe_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only metadata probe over a MIXED-FORMAT binary column:
    each doc becomes a PNG (real encode), GIF, BMP, or JPEG payload by
    doc_id mod 4 (geometry doc_id-deterministic), built executor-side;
    a second Arrow stage sniffs (format, width, height) from the magic
    bytes alone — the cheap metadata pass a lakehouse runs over raw
    media BEFORE committing to full decode (probe never inflates pixel
    data, so cost is O(header) per file regardless of payload size).
    Two mapInPandas stages, zero shuffles; the oracle replays the
    construction formulas, so a hash match proves the probe read the
    real on-wire headers for all four container formats."""
    from typing import Iterator

    import pandas as pd

    from ..functions.imagecodec import encode_png_gray, probe_image

    enc, probe = encode_png_gray, probe_image  # ship by value

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import pandas as pd

        def payload_for(did: int) -> bytes:
            w, h = 4 + did % 13, 3 + did % 11
            kind = did % 4
            if kind == 0:
                px = bytes((did * 31 + i * 7) % 256 for i in range(w * h))
                return enc(w, h, px)
            if kind == 1:
                return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 8
            if kind == 2:  # top-down BMP: negative height on the wire
                return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, -h)
            return (
                b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
                + b"\x00" * 10 + b"\xff\xc0" + struct.pack(">H", 17)
                + b"\x08" + struct.pack(">HH", h, w) + b"\x00" * 12
            )

        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "payload": [payload_for(int(d)) for d in pdf["doc_id"]],
                    }
                )

    def sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                fmt, w, h = probe(bytes(payload))
                rows.append((int(did), fmt, w, h))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fmt", "width", "height"]
            )

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        build, "doc_id long, payload binary"
    )
    return media.mapInPandas(sniff, "doc_id long, fmt string, width int, height int")


@register(
    "multimodal_framesample",
    oracle="""
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(greatest(least((i + 1) * step, len) - i * step, 0) AS BIGINT)
             AS frame_bytes
    FROM (SELECT doc_id, length(text) AS len,
                 greatest(length(text) // 3, 1) AS step
          FROM documents),
         LATERAL UNNEST(generate_series(0, 2)) AS u(i)
    """,
    tags=("multimodal",),
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over the media table: one input row →
    N frame rows via mapInPandas (cardinality-changing Arrow UDTF —
    the pattern for frame extraction at 100 TB, where the decode
    kernel would run inside the same partition-local batch loop).
    Kernel is the deterministic stub (stride = n_bytes div 3); the
    oracle replays the slice arithmetic, so the 1→N cardinality, frame
    indices and byte counts are all hash-verified."""
    media = MM.to_media_table(_docs(spark, sf_dir))
    return MM.frame_sample(media, frames_per_doc=3)


# ------------------------------------------------------------- UDF surface

@register(
    "udtf_surface",
    oracle="""
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS pos,
           toks[i] AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         LATERAL UNNEST(generate_series(1, least(len(toks), 5))) AS u(i)
    """,
    tags=("udf",),
)
def udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table-function API): one doc row → N word
    rows via a LATERAL correlated table function — the user-extensible
    1→N surface with true UDTF semantics (vs mapInPandas, which is
    partition-stream-shaped). The kernel is deliberately trivial
    (first-5-words split) so the DuckDB oracle replays it relationally
    and the driver hash-verifies the whole UDTF path: registration,
    lateral correlation, row expansion, typed output. Policy note:
    row-based UDTFs are the SLOW path — everything expressible with
    explode/codegen elsewhere in this repo uses built-ins (text_chunk
    is the codegen twin of this shape)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, word string")
    class SplitFirstWords:
        def eval(self, doc_id, text: str):
            for i, w in enumerate(text.split(" ")[:5]):
                yield doc_id, i, w

    spark.udtf.register("split_first_words", SplitFirstWords)
    _docs(spark, sf_dir).createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT s.doc_id, s.pos, s.word "
        "FROM __udtf_docs, LATERAL split_first_words(doc_id, text) s"
    )


@register(
    "udf_surface",
    oracle="""
    WITH expl AS (
      SELECT label, UNNEST(embedding) AS v, generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    m AS (SELECT label, i, AVG(CAST(v AS DOUBLE)) AS mv FROM expl GROUP BY label, i),
    cn AS (SELECT label, sqrt(SUM(mv * mv)) AS centroid_norm,
                  CAST(COUNT(*) AS INTEGER) AS mean_vec_dim
           FROM m GROUP BY label),
    base AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             AVG(sqrt(list_aggregate(
               list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum'))) AS avg_norm
      FROM embeddings GROUP BY label
    )
    SELECT b.label, b.n, ROUND(cn.centroid_norm, 6) AS centroid_norm,
           cn.mean_vec_dim, ROUND(b.avg_norm, 6) AS avg_norm
    FROM base b JOIN cn USING (label)
    """,
    tags=("udf",),
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow extension-point sampler: per-label applyInPandas
    centroids joined with a grouped-agg pandas-UDF mean vector and the
    scalar-UDF mean norm. Every output is numerically a built-in
    aggregate (mean / norm / count), so the DuckDB oracle recomputes
    them relationally (unnest + avg + sqrt-of-sum) and the driver
    hash-verifies the whole Python-UDF surface; pytest additionally
    pins each UDF against its Spark built-in equivalent."""
    e = _emb(spark, sf_dir)
    ap = U.label_centroids_applyinpandas(e)
    ga = e.groupBy("label").agg(U.mean_vector_udaf()("embedding").alias("mean_vec"))
    sc = e.select("label", U.vector_norm_udf()("embedding").alias("nrm")).groupBy(
        "label"
    ).agg(F.avg("nrm").alias("avg_norm"))
    return (
        ap.join(ga, "label")
        .join(sc, "label")
        .select(
            "label",
            "n",
            F.round("centroid_norm", 6).alias("centroid_norm"),
            F.size("mean_vec").alias("mean_vec_dim"),
            F.round("avg_norm", 6).alias("avg_norm"),
        )
    )


# ------------------------------------------- round-2 late text/sim adds

@register(
    "text_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
      FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 2
    ),
    c AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    m AS (
      SELECT doc_id, ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_bigram_frac
      FROM c GROUP BY 1
    )
    SELECT t.doc_id,
           ROUND(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 6)
             AS dup_token_frac,
           COALESCE(m.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM t LEFT JOIN m USING (doc_id)
    """,
    tags=("text",),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per-doc duplicate-token
    fraction (1 − distinct/total, pure map-side array math) and
    top-bigram fraction (most frequent bigram / total bigrams —
    the boilerplate/spam tell).

    Scale shape: dup_token_frac never leaves the scan projection; the
    bigram mode needs true per-(doc, bigram) counts, so bigrams are
    built map-side with the zip_with shifted-slice idiom (no self-join)
    and aggregated twice on doc-prefixed keys — both shuffles are on
    high-cardinality uniform keys. Docs with <2 tokens surface 0.0
    (LEFT JOIN + coalesce), matching the oracle's empty generate_series."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    base = t.select(
        "doc_id",
        F.round(
            1.0 - F.size(F.array_distinct("toks")) / F.size("toks"), 6
        ).alias("dup_token_frac"),
    )
    bigrams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                "         slice(toks, 2, greatest(size(toks) - 1, 0)),"
                "         (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    frac = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_bigram_frac"))
    )
    return base.join(frac, "doc_id", "left").select(
        "doc_id",
        "dup_token_frac",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


@register(
    "text_boilerplate_ngrams",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
      WHERE len(toks) >= 3
    )
    SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1 HAVING COUNT(*) >= 4
    """,
    tags=("text",),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: 3-gram shingles appearing in
    ≥4 DISTINCT documents — the candidate list a training pipeline
    strips as template/boilerplate text before dedup.

    Scale shape: shingles are built map-side (functions/text.py
    shingles(), already per-doc DISTINCT — so the document-frequency
    count needs no count_distinct state, just COUNT(*) after one
    explode+hash-agg on the shingle key). At 100 TB this is the same
    plan as a word-count: uniform high-cardinality keys, partial
    aggregation map-side, one shuffle."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(TX.shingles(F.col("text"), n=3)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 4)
    )


@register(
    "sim_range_search",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
      FROM embeddings
    )
    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           ROUND(list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                               p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                 / (q.nrm * c.nrm), 6) AS cosine
    FROM n q JOIN n c
      ON q.vec_id % 25 = 0 AND q.vec_id < 2000 AND q.vec_id <> c.vec_id
    WHERE ROUND(list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                              p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                / (q.nrm * c.nrm), 6) >= 0.35
    """,
    tags=("vector",),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search (radius retrieval): all corpus vectors with
    similarity ≥ 0.35 of each query. The query batch is every 25th
    vec_id inside a FIXED id window (< 2000) — r5 fix after the 10×
    scale probe measured 4.2× wall at 10× data: the previous
    ``vec_id % 25`` batch grew WITH the corpus, making the key
    O(N²/25) despite its "bounded query set" claim; a fixed window
    keeps the batch broadcast-sized at any corpus scale, so work is
    linear in the corpus (re-probed 1.3× at 10× data). Threshold 0.35
    because this synthetic corpus has no true near-dups (max pairwise
    cosine ≈ 0.51); range semantics are what matter. Unlike top-k
    there is NO window: the threshold filter runs inside the corpus
    scan projection (operators/similarity.py cosine_radius_search),
    zero shuffles."""
    e = _emb(spark, sf_dir)
    q = e.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2000))
    return SIM.cosine_radius_search(e, q, threshold=0.35)


@register(
    "sample_hash_stratified",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang FROM h
    WHERE bucket < CASE WHEN lang = 'en' THEN 25 ELSE 60 END
    """,
    tags=("sampling",),
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling by content-stable hash —
    the corpus-rebalancing move (downweight the dominant language,
    keep the tail) done so a document's keep/drop decision never
    changes across runs or as the corpus grows, unlike sampleBy(seed)
    whose output is partitioning-dependent. md5 rather than xxhash64
    for engine portability (same rationale as data_split). Pure
    narrow map at 100 TB: no shuffle, no state, trivially resumable;
    the per-stratum rate table extends by adding CASE arms (or a
    broadcast rate dim)."""
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    rate = F.when(F.col("lang") == "en", 25).otherwise(60)
    return d.select("doc_id", "lang").where(bucket < rate)


@register(
    "text_containment",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
               i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
             )) AS sh
      FROM documents
    ),
    post AS (SELECT doc_id, unnest(sh) AS g FROM d),
    df AS (SELECT g, COUNT(*) AS df FROM post GROUP BY 1),
    p2 AS (SELECT post.doc_id, post.g FROM post JOIN df USING (g)
           WHERE df.df <= 50),
    pair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM p2 a JOIN p2 b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM d)
    SELECT id_a, id_b, shared,
           ROUND(shared * 1.0 / LEAST(sa.n, sb.n), 6) AS containment
    FROM pair
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE ROUND(shared * 1.0 / LEAST(sa.n, sb.n) - 0.9, 6) >= 0
    """,
    tags=("dedup", "text"),
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup (sub-document duplication): containment =
    |A∩B| / min(|A|,|B|) ≥ 0.9 over 3-gram shingles — catches a short
    doc pasted inside a longer one, which symmetric Jaccard misses
    (the union term drowns the small side). Candidates come from an
    inverted shingle index with a document-frequency cap: shingles in
    > 50 docs are boilerplate and would blow the posting-list
    self-join quadratically at 100 TB, so BOTH engines drop them
    before pairing (the shared count is thus a lower bound — standard
    stop-shingle discipline — while set sizes stay exact). Shapes:
    explode → ONE posting-list aggregate on shingle → map-side pair
    expansion → one (id_a, id_b) hash aggregate; sizes join back via
    broadcastable doc-grain frames; threshold compares rounded on both
    sides.

    r11 optimization (guide §2.4 — remove shuffles outright): the df
    aggregate, the df-cap semi-join, and the posting-list SELF-JOIN
    (three g-keyed exchanges plus the join) collapse into ONE g-keyed
    collect_list whose sorted posting array emits its C(df,2) pairs
    map-side — the same flatten/transform expansion the minhash group
    expander uses. Posting lists with df = 1 (singleton shingles —
    the long tail of any shingle space) can never produce a pair and
    are dropped before expansion; shingles are per-doc distinct
    (array_distinct in TX.shingles), so |posting list| IS df and the
    per-pair shared counts are identical to the self-join's. Pair
    volume is unchanged (Σ C(df,2), df ≤ 50 — the operator's
    contract); what disappears is re-shuffling the full posting table
    twice into the self-join."""
    # r11 (guide §2.5): shingling is the heavy map stage — spread the
    # one-task scan across cores (no-op when already parallel)
    from pyspark.sql.window import Window

    d = spread_scan(_docs(spark, sf_dir), "doc_id")
    sh = d.select("doc_id", TX.shingles(F.col("text"), 3).alias("sh"))
    post = sh.select("doc_id", F.explode("sh").alias("g"))
    # r12 (guide §5 — bounded per-group state, VERDICT r11 item 1): the
    # r11 shape collected EVERY posting list and applied the df ≤ 50 cap
    # afterwards, so one hot shingle (not in a stop list) buffered an
    # unbounded array inside a single ObjectHashAggregate group — an
    # executor-OOM class risk at 100 TB. The df count now runs as a
    # window count over the SAME g-keyed exchange (WindowExec streams
    # groups through a spillable row buffer — no array state), the cap
    # filters rows BEFORE any list exists, and only capped groups reach
    # collect_list, whose per-group state is now ≤ 50 ids by
    # construction. Same single g Exchange (the groupBy reuses the
    # window's partitioning), identical rows/df semantics.
    wg = Window.partitionBy("g")
    plists = (
        post.withColumn("df", F.count(F.lit(1)).over(wg))
        .where((F.col("df") >= 2) & (F.col("df") <= 50))
        .groupBy("g")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    pair = (
        plists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sz = sh.select("doc_id", F.size("sh").alias("n"))
    cont = F.col("shared") / F.least(F.col("na"), F.col("nb"))
    return (
        pair.join(sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .where(F.round(cont - 0.9, 6) >= 0)
        .select("id_a", "id_b", "shared", F.round(cont, 6).alias("containment"))
    )


# ------------------------------------------- ranked retrieval / curation

@register(
    "text_bm25_topk",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM p
    ), q AS (
      SELECT unnest(['scan', 'vector', 'dup']) AS term
    ), tf AS (
      SELECT p.doc_id, q.term,
             len(list_filter(p.toks, x -> x = q.term)) AS tf,
             len(p.toks) AS dl
      FROM p CROSS JOIN q
    ), df AS (
      SELECT term, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df
      FROM tf GROUP BY term
    ), sc AS (
      SELECT t.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))
             ), 6) AS score
      FROM tf t JOIN df d USING (term) CROSS JOIN s
      WHERE t.tf > 0
      GROUP BY t.doc_id
    )
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rk
    FROM sc
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "retrieval"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Lucene idf variant, k1=1.2 b=0.75) for a
    fixed 3-term query — the classical lexical-retrieval side of a
    training-data pipeline (quality-biased sampling, eval-set mining).

    Scale shape: doc length rides along through the explode so tf needs
    NO doc-grain join; the per-term df table (|query| rows) and the
    (n_docs, avgdl) scalar broadcast; the only corpus-sized shuffle is
    the (doc_id, term) partial+final count, already filtered to query
    terms in the scan projection. Final ranking is TakeOrderedAndProject
    (top-20), never a global sort. Ranking happens AFTER rounding the
    score to 6 dp in BOTH engines so float fold-order can't flip ranks;
    ties break on doc_id."""
    terms = ["scan", "vector", "dup"]
    k1, b = 1.2, 0.75
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        idf
        * F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(20)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("int"))


@register(
    "decontam_ngram_overlap",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
             )) AS sh
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(sh) AS g FROM d WHERE doc_id < 20
    ), corp AS (
      SELECT doc_id, unnest(sh) AS g FROM d WHERE doc_id >= 20
    )
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS shared
    FROM corp c JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
    """,
    tags=("text", "dedup"),
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by 5-gram overlap (the published
    GPT-3/PaLM recipe: drop training docs sharing any n-gram with an
    eval set). Docs with doc_id < 20 stand in for the benchmark;
    output = corpus docs with >= 1 shared distinct 5-gram and the
    shared-gram count (the decontamination filter is an anti-join on
    this frame).

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus (eval suites are ~1e5 grams), so it BROADCASTS; the corpus
    side explodes its shingles map-side and the only shuffle is the
    final doc-grain count — the 100 TB corpus never re-partitions by
    shingle. Shingle sets are per-doc distinct (TX.shingles), so
    'shared' counts distinct grams in both engines."""
    d = _docs(spark, sf_dir)
    sh = d.select("doc_id", TX.shingles(F.col("text"), 5).alias("sh"))
    bench = (
        sh.where(F.col("doc_id") < 20)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    corp = sh.where(F.col("doc_id") >= 20).select(
        "doc_id", F.explode("sh").alias("g")
    )
    return (
        corp.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


@register(
    "sim_filtered_topk",
    oracle="""
    WITH n AS (
      SELECT vec_id, label, embedding,
             sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM n ORDER BY vec_id LIMIT 10),
    c AS (SELECT * FROM n WHERE label < 5)
    SELECT q_id, n_id, cosine, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                           p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (q.nrm * c.nrm) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                                      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                        / (q.nrm * c.nrm) DESC, c.vec_id
             ) AS rk
      FROM q JOIN c ON c.vec_id <> q.vec_id
    ) WHERE rk <= 5
    """,
    tags=("vector",),
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: exact cosine top-5 restricted to
    candidates passing a metadata predicate (label < 5) — the
    filter-then-search pattern every production vector store needs
    (pre-filtering, not post-filtering, so k results survive even
    highly selective predicates).

    Scale shape: the predicate applies IN the candidate scan (pushed to
    parquet row groups, verified by the pushdown test suite's pattern)
    BEFORE the broadcast cross join, so the pairing cost shrinks by the
    filter's selectivity — post-filtering top-k would instead k-starve.
    Same WindowGroupLimit per-query top-k as sim_cosine_topk."""
    e = _emb(spark, sf_dir)
    cand = e.where(F.col("label") < 5)
    q = e.orderBy("vec_id").limit(10)
    return SIM.cosine_topk_bruteforce(cand, q, k=5)


@register(
    "sim_knn_graph",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
      FROM embeddings
    )
    SELECT q_id, n_id, ROUND(cosine, 6) AS cosine, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                                           p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (a.nrm * b.nrm) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                                                      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                        / (a.nrm * b.nrm) DESC, b.vec_id
             ) AS rk
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ) WHERE rk <= 3
    """,
    tags=("vector", "graph"),
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine 3-NN graph over the WHOLE corpus (not a bounded
    query set) — operators/similarity.py knn_graph's block-pair cogroup
    with per-group partial top-k; the oracle is the naive all-pairs
    rank SQL, which the blocked plan must reproduce exactly."""
    return SIM.knn_graph(_emb(spark, sf_dir), k=3)


def _data_fingerprint(spark: SparkSession, path: str) -> list:
    """Per-file ``name:length:modificationTime`` fingerprint of a data
    path, resolved through the Hadoop FileSystem API so it works on any
    scheme the session can read (s3a://, hdfs://, file:) — ``os.stat``
    is inert off the local filesystem, which would silently disable the
    staleness detection the ANN index tag relies on (ADVICE r7; same
    rationale as streaming/jobs.py stream_table). Local os.stat
    fallback only if the JVM call is unavailable."""
    import os

    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return []
        st = fs.getFileStatus(jpath)
        if st.isDirectory():
            parts = []
            for s in fs.listStatus(jpath):
                parts.append(
                    f"{s.getPath().getName()}:{s.getLen()}:{s.getModificationTime()}"
                )
            return sorted(parts)
        return [f"{st.getLen()}:{st.getModificationTime()}"]
    except Exception:
        pass
    local = path.removeprefix("file:")
    if os.path.isdir(local):
        return sorted(
            f"{name}:{os.stat(os.path.join(local, name)).st_size}:"
            f"{os.stat(os.path.join(local, name)).st_mtime_ns}"
            for name in os.listdir(local)
        )
    if os.path.exists(local):
        st = os.stat(local)
        return [f"{st.st_size}:{st.st_mtime_ns}"]
    return []


def _gc_stale_index_tags(
    spark: SparkSession, prefix: str, keep_tbl: str, match=None,
    min_age_s: float = 0.0,
) -> None:
    """Drop catalog tables and .index/ dirs named ``<prefix><tag>``
    whose tag differs from the current one. The data-fingerprinted tag
    (ADVICE r6) means every in-place regeneration of the source data
    mints a NEW table name; without GC the previous tag's catalog entry
    and parquet files accumulate forever — a milder re-introduction of
    the r5 leak (ADVICE r7). Stale tags reference superseded data, so
    no live handle can validly depend on them. ``match`` optionally
    narrows which prefixed names are candidates (e.g. legacy naming
    schemes only); ``min_age_s`` spares recently-touched dirs so a
    CONCURRENT process's in-flight rebuild (different sf_dir ⇒
    different tag) is never deleted under it. Best-effort: a
    concurrent session may still own an entry we try to drop."""
    import os
    import shutil
    import time

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    idx_root = os.path.join(repo_root, ".index")

    def stale(name: str) -> bool:
        if not (
            name.startswith(prefix)
            and name != keep_tbl
            and (match is None or match(name))
        ):
            return False
        if min_age_s:
            try:
                if time.time() - os.path.getmtime(
                    os.path.join(idx_root, name)
                ) < min_age_s:
                    return False
            except OSError:
                pass  # dir gone / unreadable — table-only leftover, drop
        return True

    try:
        for t in spark.catalog.listTables():
            if stale(t.name):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    except Exception:
        pass
    try:
        for name in os.listdir(idx_root):
            if stale(name):
                shutil.rmtree(os.path.join(idx_root, name), ignore_errors=True)
    except OSError:
        pass


@register(
    "sim_ann_repartitioned",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, embedding, nrm, bucket,
             CASE WHEN rn <= 5 THEN 'A' ELSE 'B' END AS batch
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM n)
      WHERE rn <= 10
    )
    SELECT batch, q_id, n_id, cosine, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT q.batch, q.vec_id AS q_id, c.vec_id AS n_id,
             list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                           p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (q.nrm * c.nrm) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                                      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                        / (q.nrm * c.nrm) DESC, c.vec_id
             ) AS rk
      FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    WHERE rk <= 3
    """,
    tags=("vector", "bucketing"),
)
def sim_ann_repartitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD-ONCE / PROBE-MANY persisted ANN index (VERDICT r4 item 8):
    the corpus is written ONCE as a 16-bucket table hashed on a
    deterministic sign-grid cell (bit i = embedding[i] > 0 over the
    first 8 dims) with the L2 norm precomputed, then TWO query batches
    probe the same table with no rebuild. Each probe collects its
    queries' cells (bounded: ≤ |batch| ints), filters the index with a
    literal ``bucket IN (...)`` — which Spark turns into BUCKET
    PRUNING, reading only the matching bucket files (the callable
    asserts ``SelectedBucketsCount`` appears in the scan plan; a
    regression to a full scan raises) — and broadcast-joins the tiny
    query set for exact in-cell cosine top-3. The probes run on a
    CLONED session (``spark.newSession()``, same conf-isolation
    pattern as join_skew_aqe) with autoBucketedScan disabled, because
    the planner's auto-disable rule only considers downstream
    distribution needs and would silently drop the bucketed scan —
    and with it the pruning — for a filter-only probe.

    This is the production ANN serving shape at 100 TB: index cost is
    paid at ingest, every query batch touches only its cells' files,
    and the only exchange after the scan moves candidate rows for the
    per-query top-k (WindowGroupLimit prunes to k per partition before
    the shuffle). The sign-grid cell is engine-portable, so the WHOLE
    pipeline — cells, candidate sets, ranks — is SQL-oracled, unlike
    recall-bounded random-hyperplane LSH (sim_lsh_topk)."""
    from pyspark.sql.window import Window

    tbl = _ann_index_ensure(spark, sf_dir)
    s2 = spark.newSession()  # shared catalog; own SQLConf for the probes
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    idx = s2.table(tbl)
    qrows = sorted(
        idx.orderBy("vec_id").limit(10).select("vec_id", "bucket").collect(),
        key=lambda r: r["vec_id"],
    )
    out = None
    for batch, rows in (("A", qrows[:5]), ("B", qrows[5:])):
        cells = sorted({r["bucket"] for r in rows})
        ids = [r["vec_id"] for r in rows]
        cand = idx.filter(F.col("bucket").isin(cells))
        scan_plan = cand._jdf.queryExecution().executedPlan().toString()
        if "SelectedBucketsCount" not in scan_plan:
            raise RuntimeError(
                "sim_ann_repartitioned: bucket pruning did not engage "
                "(no SelectedBucketsCount in the probe scan plan) — the "
                "key exists to PIN the pruned-scan shape"
            )
        top = _ann_cell_topk(idx, cand, ids, k=3).select(
            F.lit(batch).alias("batch"), "q_id", "n_id", "cosine", "rk"
        )
        out = top if out is None else out.unionByName(top)
    return out


def _ann_index_ensure(spark: SparkSession, sf_dir: str) -> str:
    """Build-once/reuse-warm 16-bucket sign-grid ANN index over the
    embeddings table; returns the catalog table name. Shared by
    sim_ann_repartitioned (batch probes) and streaming_ann_probe (the
    online-serving twin).

    Deterministic tag (ADVICE r5): Python's hash() is per-process
    salted, which made the "build once" cache miss across driver
    processes and leak uniquely-named ann_index_* tables. An md5 of
    the sf_dir is stable everywhere, so a warm metastore + index dir
    is actually REUSED across runs. ADVICE r6: the tag also folds in
    a cheap fingerprint of the source data (per-file size + mtime of
    embeddings.parquet) so regenerating the data IN PLACE changes the
    tag and forces a rebuild instead of silently reusing a stale
    index. The fingerprint goes through the Hadoop FileSystem API
    (ADVICE r7) so it also fires for object-store sf_dirs
    (s3a://, hdfs://) where os.stat is inert; local os.stat fallback."""
    import hashlib
    import os

    from ..functions.vectors import l2norm

    e = _emb(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    cell = sum(
        (F.when(v.getItem(i) > 0, F.lit(1 << i)).otherwise(F.lit(0)))
        for i in range(8)
    )
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    fp_parts = _data_fingerprint(spark, emb_path)
    dir_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp_tag = hashlib.md5("|".join(fp_parts).encode()).hexdigest()[:8]
    tbl = f"ann_index_{dir_tag}_{fp_tag}"
    # GC superseded fingerprints of THIS sf_dir (in-place data regen
    # mints a new fp_tag; the old one's table + files would otherwise
    # leak forever — ADVICE r7). Other sf_dirs' warm indexes are left
    # alone so the tri-scale gate keeps its build-once reuse. Legacy
    # single-tag names (pre-r8 ``ann_index_<8hex>``) are swept too —
    # nothing can reference them under the two-part scheme.
    _gc_stale_index_tags(spark, f"ann_index_{dir_tag}_", tbl)
    _gc_stale_index_tags(
        spark, "ann_index_", tbl,
        match=lambda name: name.count("_") == 2,  # ann_index_<tag> only
    )
    # The index lives OUTSIDE .scratch on purpose: every scratch_dir()
    # call GCs .scratch subdirs older than 2h, which would delete the
    # index files underneath a still-live catalog entry (tableExists
    # would then short-circuit the rebuild and probes would read a
    # missing path). .index/ is never pruned; trust the catalog only
    # when the path still holds data files.
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    idx_path = os.path.join(repo_root, ".index", tbl)
    have_files = os.path.isdir(idx_path) and any(
        f.endswith(".parquet") for f in os.listdir(idx_path)
    )
    if spark.catalog.tableExists(tbl):
        # head() is None when DESCRIBE has no Location row (e.g. a view
        # squatting on the name) — treat that as "wrong table, rebuild"
        # instead of raising TypeError (ADVICE r6).
        loc_row = (
            spark.sql(f"DESCRIBE FORMATTED {tbl}")
            .filter(F.col("col_name") == "Location")
            .head()
        )
        loc = loc_row["data_type"] if loc_row is not None else ""
        if not have_files or not loc.rstrip("/").endswith(f".index/{tbl}"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not spark.catalog.tableExists(tbl):
        os.makedirs(idx_path, exist_ok=True)
        (
            e.select(
                "vec_id",
                "embedding",
                cell.alias("bucket"),
                l2norm(v).alias("nrm"),
            )
            # r12 (guide §6): one file per bucket — see _ann_inc_build
            .repartition(16, "bucket")
            .write.bucketBy(16, "bucket")
            .sortBy("bucket")
            .option("path", idx_path)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    return tbl


def _ann_cell_topk(idx: DataFrame, cand: DataFrame, ids: list, k: int = 3) -> DataFrame:
    """Exact in-cell cosine top-k of ``cand`` rows for the query
    vec_ids ``ids`` (queries broadcast off the index itself). Shared by
    sim_ann_repartitioned's batch probes and streaming_ann_probe's
    per-micro-batch probe."""
    from pyspark.sql.window import Window

    q = idx.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("q_vec"),
            F.col("embedding").cast("array<double>"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "n_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cosine", F.col("rk").cast("int").alias("rk"))
    )


@register(
    "multimodal_resize",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 11 AS h
      FROM documents
    ), r AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, 5), t ->
               (doc_id * 31
                + (((t // 3) * h // 2) * w + ((t % 3) * w // 3)) * 7
               ) % 256) AS rs
      FROM g
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS src_w,
           CAST(h AS INTEGER) AS src_h,
           CAST(3 AS INTEGER) AS out_w,
           CAST(2 AS INTEGER) AS out_h,
           array_to_string(rs, ',') AS resized,
           ROUND(list_aggregate(rs, 'sum') / 6.0, 6) AS mean_resized
    FROM r
    """,
    tags=("multimodal",),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize (3×2 thumbnails) over
    executor-encoded PNG payloads — completes the decode /
    feature-extract / RESIZE / frame-sample multimodal quartet. The
    payloads are genuine PNGs (CRC-checked, zlib, all five scanline
    filters); the oracle recomputes every resampled pixel from the
    generation formulas, so a hash match proves the byte → pixel →
    resample pipeline end to end (operators/multimodal.py
    resize_image_media; codec functions/imagecodec.py)."""
    media = MM.to_image_table(_docs(spark, sf_dir))
    return MM.resize_image_media(media, out_w=3, out_h=2)


@register(
    "multimodal_audio_vad",
    oracle="""
    WITH g AS (
      SELECT doc_id, 800 + (doc_id % 7) * 160 AS n FROM documents
    ), s AS (
      SELECT doc_id, n, n // 80 AS nf,
             list_transform(generate_series(0, n - 1),
                            i -> (doc_id * 131 + i * 17) % 2003 - 1001) AS smp
      FROM g
    ), fr AS (
      SELECT doc_id, nf,
             list_transform(generate_series(0, nf - 1), f ->
               CASE WHEN sqrt(list_aggregate(
                      list_transform(smp[f*80+1 : f*80+80],
                                     x -> CAST(x AS DOUBLE) * x), 'sum') / 80)
                         > 578.0
                    THEN 1 ELSE 0 END) AS vf
      FROM s
    )
    SELECT doc_id,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(list_aggregate(vf, 'sum') AS INTEGER) AS n_voiced,
           CAST(list_aggregate(list_transform(generate_series(1, nf), f ->
                 CASE WHEN vf[f] = 1 AND (f = 1 OR vf[f-1] = 0)
                      THEN 1 ELSE 0 END), 'sum') AS INTEGER) AS n_segments,
           CAST(list_aggregate(vf, 'sum') * 10 AS INTEGER) AS voiced_ms
    FROM fr
    """,
    tags=("multimodal",),
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over REAL WAV payloads — the
    silence-trim pass ASR-data curation runs before cutting clips:
    per 80-sample (10 ms) frame RMS → voiced flag at the uniform-noise
    threshold → adjacent voiced frames merge into segments
    (operators/multimodal.py vad_audio_media, one Arrow-batch decode +
    frame + segment pass). The oracle recomputes every frame's RMS and
    the segment merge from the clip generation formulas, so a hash
    match proves byte → PCM → frame → segment end to end — including
    the boundary comparisons, since both engines evaluate the same
    exact-integer sums."""
    media = MM.to_audio_table(_docs(spark, sf_dir))
    return MM.vad_audio_media(media, frame=80, threshold=578.0)


@register(
    "multimodal_audio_decode",
    oracle="""
    WITH g AS (
      SELECT doc_id, 800 + (doc_id % 7) * 160 AS n FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(generate_series(0, n - 1),
                            i -> (doc_id * 131 + i * 17) % 2003 - 1001) AS smp
      FROM g
    )
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST(n * 1000 // 8000 AS INTEGER) AS duration_ms,
           ROUND(sqrt(list_aggregate(list_transform(smp, x -> CAST(x AS DOUBLE) * x), 'sum') / n), 4) AS rms,
           CAST(list_aggregate(list_transform(smp, x -> abs(x)), 'max') AS INTEGER) AS peak
    FROM s
    """,
    tags=("multimodal",),
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: executor-encoded RIFF/WAVE PCM16 clips
    (functions/audiocodec.py — proper chunk walk, fmt validation,
    loud failure on corruption) decoded back to samples and reduced to
    duration / RMS energy / peak amplitude — with the PNG kernel this
    makes BOTH image and audio decode real, no stub kernels on either
    path (video remains the documented pluggable stand-in). The oracle
    recomputes every feature from the generation formulas, so a hash
    match proves the byte → sample → feature pipeline end to end.
    Sums of squares stay < 2^53, so the double fold is exact in any
    order."""
    media = MM.to_audio_table(_docs(spark, sf_dir))
    return MM.decode_audio_media(media)


@register(
    "multimodal_video_framesample",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 11 AS h,
             2 + doc_id % 4 AS n_frames
      FROM documents
    ), f AS (
      SELECT doc_id, w, h, n_frames, unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
      FROM g
    )
    SELECT doc_id,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           ROUND(list_aggregate(list_transform(
                   generate_series(0, w * h - 1),
                   i -> (doc_id * 31 + frame_idx * 97 + i * 7) % 256), 'sum') * 1.0
                 / (w * h), 6) AS mean_pixel
    FROM f
    """,
    tags=("multimodal",),
)
def multimodal_video_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: each doc's 'video' is a STORED zip
    of genuine PNG frames (the WebDataset frame-shard shape); sampling
    parses the central directory (metadata-only seek index), extracts
    every 2nd frame, and fully PNG-decodes ONLY those — unsampled
    frames are never inflated, mirroring keyframe-seek economics. The
    oracle recomputes each sampled frame's geometry and mean pixel
    from the generation formulas, proving container walk + selective
    decode end to end. With the PNG and WAV kernels, all three media
    paths (image / audio / video-frame) now run REAL decode kernels."""
    media = MM.to_video_table(_docs(spark, sf_dir))
    return MM.framesample_video_media(media, stride=2)


@register(
    "text_encode_ids",
    oracle="""
    WITH v AS (
      SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY df DESC, w) AS INTEGER) AS wid
      FROM (
        SELECT w, COUNT(*) AS df FROM (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
          FROM documents
        ) GROUP BY w
      )
    ), tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
      WHERE doc_id < 30
    )
    SELECT tok.doc_id,
           array_to_string(list(COALESCE(v.wid, 0) ORDER BY tok.pos), ',') AS ids,
           CAST(COUNT(*) AS INTEGER) AS n_tokens
    FROM tok LEFT JOIN v ON tok.w = v.w
    GROUP BY tok.doc_id
    """,
    tags=("text",),
)
def text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE step: corpus-derived vocabulary (ranked by
    document frequency, ties alphabetical — deterministic ids) maps
    each token to an integer id, OOV → 0; the id sequences are what a
    training pipeline actually materializes to disk. Emitted as
    comma-joined strings (array cells defeat the driver hash).

    Scale shape: the vocab is df-ranked via one aggregate and
    BROADCASTS (vocabularies are ~10⁵ rows — tiny next to the corpus);
    encoding is a map-side explode + broadcast hash join + one
    doc-grain re-assembly aggregate (array_agg ordered by position).
    The corpus text never shuffles — only (doc, pos, wid) triples of
    the bounded demo slice."""
    d = _docs(spark, sf_dir)
    from ..operators.ranking import with_global_row_number

    df_t = (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # df-rank runs DISTRIBUTED (range partition + offset table) — a
    # 10⁸-token vocab never funnels through one sorted partition
    ranked_vocab, _n = with_global_row_number(
        df_t, [F.col("df").desc(), F.col("w")], "__r"
    )
    vocab = ranked_vocab.select("w", F.col("__r").cast("int").alias("wid"))
    tok = d.where(F.col("doc_id") < 30).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", F.coalesce("wid", F.lit(0)).alias("wid")))
                    ),
                    lambda s: s["wid"].cast("string"),
                ),
                ",",
            ).alias("ids"),
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
        )
    )


@register(
    "text_inverted_index",
    oracle="""
    WITH post AS (
      SELECT w, doc_id FROM (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
      )
    )
    SELECT w AS term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id)[:20], ',') AS postings_head
    FROM post
    GROUP BY w
    HAVING COUNT(*) >= 5
    """,
    tags=("text", "retrieval"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index CONSTRUCTION (the structure behind text_bm25_topk
    and text_containment's df-capped index): term → document frequency
    + the first 20 postings in doc order. The postings head is emitted
    as a string (bounded cell, hash-friendly); production would sink
    the full postings column partitioned by term range.

    Scale shape: explode per-doc DISTINCT terms map-side, ONE term-key
    aggregate builds df and the sorted postings list together —
    posting lists assemble where the term's rows land, the classic
    MapReduce index build. slice() bounds the emitted cell so a
    stop-word's postings can't blow a row."""
    d = _docs(spark, sf_dir)
    post = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    return (
        post.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
        .where(F.col("df") >= 5)
    )


@register(
    "pipeline_media_curation",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 11 AS h
      FROM documents
    ), dec AS (
      SELECT doc_id, w, h, w * h AS n_pixels,
             list_aggregate(list_transform(
               generate_series(0, w * h - 1),
               i -> (doc_id * 31 + i * 7) % 256), 'sum') AS px_sum
      FROM g
    ), filt AS (
      SELECT * FROM dec
      WHERE n_pixels >= 30 AND px_sum * 1.0 / n_pixels BETWEEN 80 AND 180
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(f.n_pixels) AS BIGINT) AS total_pixels,
           ROUND(SUM(f.px_sum) * 1.0 / SUM(f.n_pixels), 4) AS avg_brightness
    FROM filt f JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
    tags=("multimodal", "pipeline"),
)
def pipeline_media_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END media curation composite: encode real PNGs
    (executor-side) → REAL decode (CRC/inflate/un-filter) → quality
    gate (min resolution + brightness band — the deterministic
    stand-in for blur/NSFW scoring) → metadata join back to the doc
    table → per-language corpus report. The DuckDB replica recomputes
    the whole composition from the generation formulas, so the hash
    match certifies every stage INCLUDING the byte → pixel kernel.

    Scale shape: decode and filter are partition-local mapInPandas +
    scan-side predicates (the gate drops rows BEFORE the join moves
    them); the doc join is key-partitioned on doc_id; the report is a
    cardinality-collapsing lang aggregate. The only full-data shuffle
    is the join of the SURVIVING images."""
    docs = _docs(spark, sf_dir)
    media = MM.to_image_table(docs)
    dec = MM.decode_image_media(media)
    # recover the exact integer pixel sum from the 6 dp-rounded mean:
    # n_pixels <= 200, so |round(mean*n) - true_sum| <= 200*5e-7 << 0.5
    px_sum = F.round(F.col("mean_pixel") * F.col("n_pixels"), 0).cast("long")
    filt = dec.withColumn("px_sum", px_sum).where(
        (F.col("n_pixels") >= 30)
        & (F.col("mean_pixel") >= 80)
        & (F.col("mean_pixel") <= 180)
    )
    return (
        filt.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("n_pixels").alias("total_pixels"),
            F.round(F.sum("px_sum") / F.sum("n_pixels"), 4).alias("avg_brightness"),
        )
    )


@register(
    "streaming_media_decode",
    oracle="""
    WITH g AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
      FROM documents
    )
    SELECT doc_id,
           'png' AS fmt,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           ROUND(list_aggregate(list_transform(
                   generate_series(0, w * h - 1),
                   i -> (doc_id * 31 + i * 7) % 256), 'sum') * 1.0
                 / (w * h), 6) AS mean_pixel
    FROM g
    """,
    tags=("streaming", "multimodal"),
)
def streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of multimodal_decode: the identical Arrow
    encode/decode kernels over a readStream file source, drained with
    availableNow — streamed decode must hash-equal the batch formulas
    (stateless Python stages are engine-verified to compose under
    Structured Streaming)."""
    from ..streaming import jobs as SJ
    from .eventtime import _STREAM_RUN

    _STREAM_RUN[0] += 1
    return SJ.run_available_now(
        SJ.streaming_media_decode(spark, sf_dir),
        f"q_media_decode_{_STREAM_RUN[0]}",
        output_mode="append",  # stateless map pipeline — no aggregation state
        skip_no_data_batch=True,
    )


@register(
    "text_perplexity_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), unic AS (
      SELECT w, COUNT(*) AS cu FROM uni GROUP BY 1
    ), vsize AS (
      SELECT COUNT(*) AS v FROM unic
    ), big AS (
      SELECT doc_id,
             unnest(t[1:len(t)-1]) AS w1,
             unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ), bigc AS (
      SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2
    ), scored AS (
      SELECT b.doc_id,
             ROUND(AVG(ln((bigc.cb + 1.0) / (unic.cu + vsize.v))), 6)
               AS avg_logprob
      FROM big b
      JOIN bigc ON b.w1 = bigc.w1 AND b.w2 = bigc.w2
      JOIN unic ON b.w1 = unic.w
      CROSS JOIN vsize
      GROUP BY b.doc_id
    )
    SELECT doc_id, avg_logprob,
           CASE NTILE(3) OVER (ORDER BY avg_logprob DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM scored
    """,
    tags=("text", "quality"),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split: every doc scored by the
    corpus bigram LM (text_bigram_lm's exact pipeline), then cut into
    perplexity TERCILES — 'head' is the most-fluent third that CCNet
    keeps unconditionally, 'tail' the third that usually gets dropped
    or downsampled. The tercile cut runs on the ROUNDED score with a
    doc_id tiebreak so the global order is engine-deterministic, and
    uses the distributed NTILE primitive (operators/ranking.py —
    range-partitioned, broadcast offset table), NOT a single-partition
    window: at 10⁹ docs the cut stays fully parallel."""
    from ..operators.ranking import with_global_ntile

    scored = text_bigram_lm(spark, sf_dir).select("doc_id", "avg_logprob")
    tiled = with_global_ntile(
        scored, [F.col("avg_logprob").desc(), F.col("doc_id")], 3, "tile"
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return tiled.select("doc_id", "avg_logprob", bucket.alias("bucket"))


@register(
    "text_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), unic AS (
      SELECT w, COUNT(*) AS cu FROM uni GROUP BY 1
    ), vsize AS (
      SELECT COUNT(*) AS v FROM unic
    ), big AS (
      SELECT doc_id,
             unnest(t[1:len(t)-1]) AS w1,
             unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ), bigc AS (
      SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           ROUND(AVG(ln((bigc.cb + 1.0) / (unic.cu + vsize.v))), 6) AS avg_logprob
    FROM big b
    JOIN bigc ON b.w1 = bigc.w1 AND b.w2 = bigc.w2
    JOIN unic ON b.w1 = unic.w
    CROSS JOIN vsize
    GROUP BY b.doc_id
    """,
    tags=("text", "quality"),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score with add-one smoothing —
    the CONTEXT-aware upgrade of text_unigram_logprob (CCNet-style
    quality filtering scores docs by corpus-LM likelihood; a bigram LM
    additionally penalizes improbable word ORDER, not just rare
    words). Per doc: mean ln P(w_i | w_{i-1}) under the corpus bigram
    counts.

    Scale shape: bigram pairs come from a positional self-zip of the
    token array (map-side, join-free — same trick as text_ngram_freq);
    the bigram-count and unigram-count tables collapse to vocab² /
    vocab grain and BROADCAST back onto the exploded pairs; the only
    corpus-sized exchange is the final doc-grain average. AVG folds
    ~50 doubles per doc → 6 dp rounding absorbs order noise."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    big = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bigc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    unic = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vsize = unic.agg(F.count(F.lit(1)).alias("v"))
    logp = F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("v")))
    return (
        big.join(F.broadcast(bigc), ["w1", "w2"])
        .join(F.broadcast(unic.withColumnRenamed("w", "w1")), "w1")
        .crossJoin(F.broadcast(vsize))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
        )
    )


@register(
    "dedup_line_level",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    lines AS (
      SELECT doc_id, t.i AS line_no,
             array_to_string(w[(t.i*5+1):(t.i*5+5)], ' ') AS line
      FROM toks, unnest(generate_series(0,
             CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS t(i)
    ),
    dup AS (
      SELECT line,
             CAST(MIN(doc_id) AS BIGINT) AS owner
      FROM lines GROUP BY line
      HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN d.line IS NULL OR d.owner = l.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(
             list(CASE WHEN d.line IS NULL OR d.owner = l.doc_id
                       THEN l.line END ORDER BY l.line_no), ' '), '')
             AS cleaned_text
    FROM lines l LEFT JOIN dup d ON l.line = d.line
    GROUP BY l.doc_id
    """,
    tags=("dedup", "text"),
)
def dedup_line_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-LEVEL dedup with keep-first reassembly — the RefinedWeb /
    CCNet pipeline stage exact-doc dedup misses: repeated LINES
    (boilerplate headers, templates, near-dup spans) are removed from
    every document except the lowest-doc_id owner, and the surviving
    lines re-assemble IN ORDER into the cleaned text. Lines here are
    non-overlapping 5-token windows (the corpus has no newline
    structure; 211 such lines repeat across ≥2 docs at sf0.01, so the
    op does real work, verified by the n_kept < n_lines rows).

    Scale shape: the duplicate-line table is HAVING-filtered to only
    repeated lines BEFORE the join (at 100 TB boilerplate is ≪ corpus,
    and the table broadcasts); the corpus shuffles once by doc_id for
    reassembly. The line-stats aggregate is the only line-grain
    shuffle, with map-side combine."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    n_lines = F.ceil(F.size("w") / F.lit(5.0)).cast("int")
    lines = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice("w", i * 5 + 1, 5), " "),
            )
        ).alias("line_no", "line"),
    )
    dup = (
        lines.groupBy("line")
        .agg(
            F.min("doc_id").alias("owner"),
            F.count_distinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("line", "owner")
    )
    keep = F.col("owner").isNull() | (F.col("owner") == F.col("doc_id"))
    return (
        lines.join(F.broadcast(dup), "line", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                keep,
                                F.struct("line_no", F.col("line").alias("l")),
                            )
                        )
                    ),
                    lambda s: s["l"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


@register(
    "multimodal_phash",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 11 AS h
      FROM documents
    ), grid AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, 71), t ->
               (doc_id * 31
                + (((t // 9) * h // 8) * w + ((t % 9) * w // 9)) * 7
               ) % 256) AS p
      FROM g
    ), bits AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, 63), t ->
               CASE WHEN p[(t // 8) * 9 + (t % 8) + 1]
                         < p[(t // 8) * 9 + (t % 8) + 2]
                    THEN 1 ELSE 0 END) AS b
      FROM grid
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS src_w,
           CAST(h AS INTEGER) AS src_h,
           array_to_string(b, '') AS dhash,
           CAST(list_aggregate(b, 'sum') AS INTEGER) AS n_ones
    FROM bits
    """,
    tags=("multimodal", "dedup"),
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL image hash (dHash 8×8) over REAL decoded PNG pixels —
    the near-dup sketch for re-encoded/resampled images that byte-md5
    dedup (multimodal_dedup_hash) cannot catch. The whole
    byte → pixel → 9×8 resample → gradient-bit pipeline is verified:
    the oracle recomputes every grid pixel from the fixture generation
    formulas and derives the identical 64-bit gradient string
    (operators/multimodal.py dhash_image_media)."""
    media = MM.to_image_table(_docs(spark, sf_dir))
    return MM.dhash_image_media(media, hash_w=8, hash_h=8)


@register(
    "text_js_divergence",
    oracle="""
    WITH tok AS (
      SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    cnt AS (
      SELECT w,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM tok GROUP BY w
    ),
    tot AS (
      SELECT SUM(c0) AS n0, SUM(c1) AS n1, COUNT(*) AS v FROM cnt
    ),
    p AS (
      SELECT (c0 + 1.0) / (n0 + v) AS p0,
             (c1 + 1.0) / (n1 + v) AS p1
      FROM cnt, tot
    )
    SELECT CAST(tot.v AS BIGINT) AS vocab_size,
           CAST(tot.n0 AS BIGINT) AS n_tokens_a,
           CAST(tot.n1 AS BIGINT) AS n_tokens_b,
           ROUND(SUM(0.5 * p0 * LN(p0 / ((p0 + p1) / 2))
                   + 0.5 * p1 * LN(p1 / ((p0 + p1) / 2))), 6) AS jsd_nats
    FROM p, tot
    GROUP BY tot.v, tot.n0, tot.n1
    """,
    tags=("text", "quality", "stats"),
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DRIFT via Jensen–Shannon divergence between two corpus
    snapshots (here: doc_id parity halves — in production, yesterday's
    crawl vs today's): add-one-smoothed unigram distributions over the
    JOINT vocabulary, JSD = ½KL(P‖M) + ½KL(Q‖M) in nats — the bounded,
    symmetric distribution-shift alarm a training-mix dashboard
    watches (0 = identical, ln 2 = disjoint). Same-corpus halves score
    near 0, which the pytest pins along with the ln 2 bound.

    Scale shape: ONE token-grain aggregate with map-side combine
    builds both counts (no per-half scans); totals ride in as a 1-row
    broadcast; the JSD sum is vocab-grain and order-insensitive
    (rounded 6 dp; LN libm noise is ~1 ulp)."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    cnt = tok.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = cnt.agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1"), F.count(F.lit(1)).alias("v")
    )
    p = cnt.crossJoin(F.broadcast(tot)).select(
        ((F.col("c0") + 1.0) / (F.col("n0") + F.col("v"))).alias("p0"),
        ((F.col("c1") + 1.0) / (F.col("n1") + F.col("v"))).alias("p1"),
        "n0", "n1", "v",
    )
    m = (F.col("p0") + F.col("p1")) / 2
    term = 0.5 * F.col("p0") * F.log(F.col("p0") / m) + 0.5 * F.col("p1") * F.log(
        F.col("p1") / m
    )
    return p.groupBy("v", "n0", "n1").agg(
        F.round(F.sum(term), 6).alias("jsd_nats")
    ).select(
        F.col("v").alias("vocab_size"),
        F.col("n0").alias("n_tokens_a"),
        F.col("n1").alias("n_tokens_b"),
        "jsd_nats",
    )


# ------------------------------------------- round-6 depth: BPE / RAG


def _bpe_oracle(steps: int) -> str:
    """Unrolled DuckDB replica of ``text_bpe_train``'s merge loop.

    Each step counts adjacent-symbol pairs at vocab grain, picks the
    argmax merge (count desc, pair asc) and applies it with the same
    left-to-right non-overlapping ``replace`` semantics Spark uses —
    the two engines agree exactly, so the whole trainer is
    value-hashable."""
    parts = [
        r"""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    v0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS freq,
             trim(regexp_replace(word, '(.)', '<\1> ', 'g')) AS seq
      FROM w
      WHERE length(word) >= 2 AND regexp_matches(word, '^[a-z]+$')
      GROUP BY word
    )"""
    ]
    for k in range(1, steps + 1):
        parts.append(
            f""",
    p{k} AS (
      SELECT pr AS pair, CAST(SUM(freq) AS BIGINT) AS n
      FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(string_split(seq, ' '))),
                      i -> string_split(seq, ' ')[i] || ' ' ||
                           string_split(seq, ' ')[i + 1])) AS pr
        FROM v{k - 1}
      ) GROUP BY pr
    ),
    t{k} AS (SELECT pair, n FROM p{k} ORDER BY n DESC, pair LIMIT 1),
    v{k} AS (
      SELECT freq,
             replace(seq, t{k}.pair, replace(t{k}.pair, '> <', '')) AS seq
      FROM v{k - 1}, t{k}
    )"""
        )
    union = "\n          UNION ALL ".join(
        f"SELECT {k} AS step, pair, n FROM t{k}" for k in range(1, steps + 1)
    )
    parts.append(
        f"""
    SELECT CAST(step AS INTEGER) AS step, pair AS merge_pair, n
    FROM ({union})"""
    )
    return "".join(parts)


@register(
    "text_bpe_train",
    oracle=_bpe_oracle(3),
    tags=("text", "tokenizer"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATED BPE training (VERDICT r5 item 9) — text_bpe_pair_counts
    is one merge step; this key runs THREE: count adjacent-symbol
    pairs weighted by word frequency, apply the argmax merge to the
    vocabulary, re-count. Symbols are carried as a delimited string
    ("<a> <b> <c>"), so applying a merge is one ``replace`` of
    "<x> <y>" with "<xy>" — left-to-right non-overlapping on BOTH
    engines (greedy BPE application), and the <> wrapping makes a
    partial-symbol false match impossible. Emits the 3 learned merges
    with their support counts — the exact artifact a tokenizer trainer
    checkpoints.

    Scale shape: ONE corpus-sized pass builds the word-frequency
    vocabulary (lazily localCheckpointed so the scan is not replayed
    per step); every merge step is O(vocab × word_len) — pair
    counting, a TakeOrdered argmax (1 row), and a broadcast cross
    join applying it. At 100 TB the corpus cost is paid once; steps
    cost vocab-grain only, which is why real BPE trainers run exactly
    this loop."""
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        (F.length("word") >= 2) & F.col("word").rlike("^[a-z]+$")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.trim(F.regexp_replace("word", "(.)", "<$1> ")).alias("seq"),
        )
        .localCheckpoint(eager=False)  # corpus scan paid once
    )
    tops = []
    cur = vocab
    for step in (1, 2, 3):
        # r11 (guide §1.2): split("seq") is let-bound via a one-element
        # transform — Catalyst does no CSE inside HOF lambdas, so the
        # inline form re-ran the split twice per pair position.
        def _pairs(syms: Column) -> Column:
            return F.when(
                F.size(syms) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(syms, i), F.element_at(syms, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))

        prs = F.element_at(
            F.transform(F.array(F.split("seq", " ")), _pairs), 1
        )
        top = (
            cur.select(F.explode(prs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .select(F.lit(step).cast("int").alias("step"), "pair", "n")
        )
        tops.append(top)
        cur = (
            cur.crossJoin(F.broadcast(top.select(F.col("pair").alias("mp"))))
            .select(
                "freq",
                F.replace(
                    F.col("seq"),
                    F.col("mp"),
                    F.replace(F.col("mp"), F.lit("> <"), F.lit("")),
                ).alias("seq"),
            )
            .localCheckpoint(eager=False)  # don't replay prior steps
        )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out.select("step", F.col("pair").alias("merge_pair"), "n")


def _rag_oracle() -> str:
    """DuckDB replica of pipeline_rag: chunk → 8-dim signed random
    projection off ONE portable md5 hash per token → sign-grid bucket
    → in-bucket cosine top-2 → ordered context assembly. Every
    intermediate is integer-exact (±1 sums, integer dot products), so
    the final cosine doubles are bit-identical across engines."""
    from ..functions.hashing import sql_hash60

    h = sql_hash60("t")
    dims = ",\n         ".join(
        f"list_sum(list_transform(hs, h -> ((h >> {j}) & 1) * 2 - 1)) AS e{j}"
        for j in range(8)
    )
    bucket = " + ".join(f"(CASE WHEN e{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(8))
    sq = " + ".join(f"e{j} * e{j}" for j in range(8))
    dot = " + ".join(f"q.e{j} * c.e{j}" for j in range(8))
    cols = ", ".join(f"e{j}" for j in range(8))
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    ch AS (
      SELECT doc_id * 1000000 + i AS chunk_id, doc_id,
             toks[i * 40 + 1 : i * 40 + 50] AS ctoks,
             array_to_string(toks[i * 40 + 1 : i * 40 + 50], ' ') AS chunk
      FROM t, LATERAL UNNEST(generate_series(0,
               CAST(ceil(greatest(n - 50, 0) / 40.0) AS BIGINT))) AS u(i)
    ),
    hx AS (
      SELECT chunk_id, doc_id, chunk,
             list_transform(ctoks, t -> {h}) AS hs
      FROM ch
    ),
    e AS (
      SELECT chunk_id, doc_id, chunk,
         {dims}
      FROM hx
    ),
    b AS (
      SELECT chunk_id, doc_id, chunk, {cols},
             {bucket} AS bucket,
             sqrt({sq}) AS nrm
      FROM e
    ),
    q AS (SELECT * FROM b WHERE doc_id < 3 AND nrm > 0),
    c AS (SELECT * FROM b WHERE doc_id >= 3 AND nrm > 0),
    sc0 AS (
      SELECT q.chunk_id AS q_id, c.chunk_id AS n_id, c.chunk AS n_chunk,
             ({dot}) / (q.nrm * c.nrm) AS cosine
      FROM q JOIN c ON c.bucket = q.bucket
    ),
    sc AS (
      SELECT q_id, n_id, n_chunk, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, n_id) AS rk
      FROM sc0
    )
    SELECT q_id, CAST(COUNT(*) AS INTEGER) AS n_ctx,
           ROUND(MAX(cosine), 6) AS best_cosine,
           string_agg(n_chunk, ' | ' ORDER BY rk) AS context
    FROM sc WHERE rk <= 2 GROUP BY q_id
    """


@register(
    "pipeline_rag",
    oracle=_rag_oracle(),
    tags=("pipeline", "vector", "text"),
)
def pipeline_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG serving composite (VERDICT r5 item 9) — the retrieval-side
    twin of pipeline_curation: documents are CHUNKED (text_chunk's
    50-token/stride-40 windows), each chunk gets an 8-dim signed
    random projection computed from ONE portable md5 hash per token
    (bit j of the hash → ±1 contribution to dim j — a similarity-
    preserving bag-of-words sketch, engine-portable unlike float
    embeddings), chunks land in a 256-cell sign-grid bucket
    (sim_ann_repartitioned's cell rule), query chunks (doc_id < 3)
    probe ONLY their own cell, and each query's top-2 cosine
    neighbors are assembled into an ordered context string — the
    prompt-augmentation payload a RAG server returns.

    Scale shape: chunk+embed is a map-only scan (one md5 per token,
    integer folds, no UDF); the candidate join is bucket-equality —
    never all-pairs — with the bounded query side broadcast; top-2 is
    a WindowGroupLimit-pruned rank; context assembly aggregates ≤2
    rows per query. Every arithmetic intermediate is integer-exact,
    so cosines are bit-identical across engines."""
    from ..functions.hashing import portable_hash60

    d = _docs(spark, sf_dir)
    n = F.size(F.col("toks"))
    n_chunks = F.ceil(F.greatest(n - 50, F.lit(0)) / 40.0).cast("int")
    def chunk_src(src):
        return (
            spread_scan(src, "doc_id")  # r11 guide 2.5: spread one-task scan
            .select("doc_id", F.split("text", " ").alias("toks"))
            .select(
                "doc_id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(0), n_chunks),
                        lambda i: F.slice(F.col("toks"), i * 40 + 1, 50),
                    )
                ).alias("chunk_idx", "ctoks"),
            )
            .select(
                # 1e6 multiplier: chunk_id must stay unique up to 10^6
                # chunks per doc (~40M tokens); 1000 collided at ~40k
                # tokens and the shared-formula oracle could not catch
                # the aliasing (ADVICE r6).
                (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("chunk_id"),
                "doc_id",
                "ctoks",
            )
        )

    ch = chunk_src(d).select(
        "chunk_id",
        "doc_id",
        F.transform("ctoks", lambda t: portable_hash60(t)).alias("hs"),
    )
    dims = [
        F.aggregate(
            "hs",
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        ).alias(f"e{j}")
        for j in range(8)
    ]
    e = ch.select("chunk_id", "doc_id", *dims)
    bucket = sum(
        F.when(F.col(f"e{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(8)
    )
    sq = sum(F.col(f"e{j}") * F.col(f"e{j}") for j in range(8))
    b = e.select(
        "chunk_id", "doc_id", *[f"e{j}" for j in range(8)],
        bucket.alias("bucket"), F.sqrt(sq).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    q = b.filter(F.col("doc_id") < 3).select(
        F.col("chunk_id").alias("q_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("nrm").alias("q_nrm"),
        *[F.col(f"e{j}").alias(f"q{j}") for j in range(8)],
    )
    dot = sum(F.col(f"q{j}") * F.col(f"e{j}") for j in range(8))
    from pyspark.sql.window import Window

    # the rank exchange carries ONLY (q_id, n_id, cosine) — the 50-token
    # context string is materialized for SURVIVORS after the top-2 cut
    # (r8, same discipline as pipeline_rag_rerank's stage-1 shrink: the
    # string used to be built corpus-wide AND ride every candidate row
    # through the exchange)
    sc = (
        b.filter(F.col("doc_id") >= 3)
        .join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .select(
            "q_id",
            F.col("chunk_id").alias("n_id"),
            (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "n_id")
    top = (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        # lazy checkpoint: top feeds the survivor-doc broadcast AND the
        # final join — one materialization of the corpus-wide stage
        .localCheckpoint(eager=False)
    )
    sur_docs = d.join(
        F.broadcast(
            top.select(F.floor(F.col("n_id") / 1000000).alias("doc_id")).distinct()
        ),
        "doc_id",
        "leftsemi",
    )
    sur = (
        chunk_src(sur_docs)
        .select("chunk_id", F.array_join("ctoks", " ").alias("n_chunk"))
        .join(F.broadcast(top), F.col("chunk_id") == F.col("n_id"))
    )
    return sur.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_ctx"),
        F.round(F.max("cosine"), 6).alias("best_cosine"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("rk").alias("rk"), F.col("n_chunk").alias("n_chunk"))
                    )
                ),
                lambda x: x["n_chunk"],
            ),
            " | ",
        ).alias("context"),
    )


@register(
    "text_quality_train",
    oracle=None,  # MLlib LBFGS coefficients aren't SQL-expressible;
    # the agreement bound is pinned in tests/test_llm.py
    tags=("text", "quality", "mllib"),
)
def text_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE-TRAINED quality classifier (VERDICT r5 item 9) — the
    learned counterpart of text_quality_logreg's literal-weight model:
    the same four engineered features (capped word count, stopword
    fraction, lexical diversity, digit fraction) feed an MLlib
    logistic regression TRAINED inside the engine against the literal
    model's keep label, and the key emits the densified 2×2 confusion
    matrix (label × prediction, zero cells included — always 4 rows).
    Training recovers the generating model almost exactly, which the
    pytest pins (agreement ≥ 0.95); the driver records the stable
    4-row shape.

    Scale shape: feature extraction is the same whole-stage-codegen
    map-only scan as text_quality_logreg; LBFGS itself is MLlib's
    treeAggregate loop (one pass per iteration, gradient vectors are
    4-dim — driver traffic is bytes); the confusion matrix is one
    4-cell aggregate. This is exactly how a production curation stack
    refreshes its quality classifier in place."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in TX.STOPWORDS])
    n_words = F.size(toks).cast("bigint")
    stop_frac = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))) * 1.0 / F.size(toks)
    distinct_frac = F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)
    digit_frac = (
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", "")))
        * 1.0
        / F.length("text")
    )
    logit = (
        F.lit(-2.0)
        + 0.01 * F.least(n_words, F.lit(300).cast("bigint"))
        + 4.0 * stop_frac
        + 2.5 * distinct_frac
        - 6.0 * digit_frac
    )
    feats = d.select(
        F.least(n_words, F.lit(300).cast("bigint")).cast("double").alias("f_len"),
        stop_frac.alias("f_stop"),
        distinct_frac.alias("f_distinct"),
        digit_frac.alias("f_digit"),
        F.when(1.0 / (1.0 + F.exp(-logit)) >= 0.5, 1.0).otherwise(0.0).alias("label"),
    )
    va = VectorAssembler(
        inputCols=["f_len", "f_stop", "f_distinct", "f_digit"],
        outputCol="features",
    )
    train = va.transform(feats).select("features", "label")
    lr = LogisticRegression(maxIter=50, regParam=0.001, standardization=True)
    model = lr.fit(train)
    # Score with the LEARNED weights as plain column expressions, not
    # model.transform: the model's trainingSummary pins the live
    # SparkSession inside the prediction-UDF closure, which explodes
    # ("Task not serializable: ObservationManager") in any session
    # where an Observation-using key ran first — and literal-weight
    # codegen scoring is the repo's serving shape anyway (the learned
    # model drops into exactly text_quality_logreg's plan). 4 doubles
    # + intercept cross the driver; nothing else.
    wts = [float(w) for w in model.coefficients]
    b = float(model.intercept)
    learned_logit = (
        F.lit(b)
        + wts[0] * F.col("f_len")
        + wts[1] * F.col("f_stop")
        + wts[2] * F.col("f_distinct")
        + wts[3] * F.col("f_digit")
    )
    pred = feats.select(
        F.col("label").cast("int").alias("label"),
        F.when(learned_logit > 0, 1).otherwise(0).cast("int").alias("prediction"),
    )
    cm = pred.groupBy("label", "prediction").agg(F.count(F.lit(1)).alias("n"))
    grid = spark.createDataFrame(
        [(i, j) for i in (0, 1) for j in (0, 1)], "label int, prediction int"
    )
    return (
        grid.join(cm, ["label", "prediction"], "left")
        .select(
            "label",
            "prediction",
            F.coalesce("n", F.lit(0).cast("bigint")).alias("n"),
        )
    )


def _duck_cos(a: str, b: str) -> str:
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')"
    ).format(a=a, b=b)
    nrm = (
        "sqrt(list_aggregate(list_transform({v}, "
        "x -> CAST(x AS DOUBLE) * x), 'sum'))"
    )
    return f"{dot} / ({nrm.format(v=a)} * {nrm.format(v=b)})"


_MRL_ORACLE = """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
               WHERE vec_id < 16),
    p AS (
      SELECT q.q_id, n.vec_id AS n_id,
             COS_FULL AS cf,
             COS_T16 AS ct
      FROM embeddings n CROSS JOIN q
      WHERE n.vec_id <> q.q_id
    ),
    r AS (
      SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cf DESC, n_id) AS rf,
             row_number() OVER (PARTITION BY q_id ORDER BY ct DESC, n_id) AS rt
      FROM p
    )
    SELECT q_id,
           CAST(SUM(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS overlap5,
           ROUND(SUM(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 ELSE 0 END) / 5.0, 6)
             AS recall_at_5
    FROM r GROUP BY q_id
""".replace("COS_FULL", _duck_cos("q.qv", "n.embedding")).replace(
    "COS_T16", _duck_cos("q.qv[1:16]", "n.embedding[1:16]")
)


@register(
    "embedding_mrl_truncate",
    oracle=_MRL_ORACLE,
    tags=("vector", "embedding"),
)
def embedding_mrl_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation quality check — the standard cost
    lever for embedding stores: keep only the first 16 of 64 dims and
    measure, per query, how much of the exact full-dim top-5 the
    truncated-dim top-5 retains (recall@5). Cosine over a prefix slice
    needs no re-normalization for RANKING (scaling is monotone), so
    truncated scoring is a pure column expression on the sliced array.
    This is the acceptance gate to run before switching an index to
    truncated vectors.

    Scale shape: the query set is a BOUNDED id-window (16 queries,
    independent of corpus size — the sim_range_search lesson), carried
    as a broadcast; the corpus streams through one crossJoin stage
    scoring both metrics in the same pass, and the two per-query
    row_number windows ride ONE exchange on q_id (16 keys x corpus
    rows; WindowGroupLimit prunes to top-5 per partition before the
    shuffle). Overlap is a count over the 10-row-per-query survivors."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    c = e.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
    )
    from ..functions.vectors import cosine_sim

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            cosine_sim(F.col("q_vec"), F.col("n_vec")).alias("cf"),
            cosine_sim(
                F.slice("q_vec", 1, 16), F.slice("n_vec", 1, 16)
            ).alias("ct"),
        )
    )
    w_f = Window.partitionBy("q_id").orderBy(F.col("cf").desc(), F.col("n_id"))
    w_t = Window.partitionBy("q_id").orderBy(F.col("ct").desc(), F.col("n_id"))
    hit = F.when((F.col("rf") <= 5) & (F.col("rt") <= 5), 1).otherwise(0)
    return (
        scored.withColumn("rf", F.row_number().over(w_f))
        .withColumn("rt", F.row_number().over(w_t))
        .filter((F.col("rf") <= 5) | (F.col("rt") <= 5))
        .groupBy("q_id")
        .agg(
            F.sum(hit).alias("overlap5"),
            F.round(F.sum(hit) / 5.0, 6).alias("recall_at_5"),
        )
    )


_FH_ORACLE = """
    SELECT doc_id,
           CAST(H60 % 1024 AS INTEGER) AS feat_idx,
           CAST(SUM(CASE WHEN (H60 // 1024) % 2 = 0 THEN 1 ELSE -1 END)
                AS BIGINT) AS val
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY doc_id, feat_idx
    HAVING SUM(CASE WHEN (H60 // 1024) % 2 = 0 THEN 1 ELSE -1 END) <> 0
""".replace("H60", "CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)")


@register(
    "text_feature_hashing",
    oracle=_FH_ORACLE,
    tags=("text", "ml"),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger signed feature hashing) —
    the fixed-width featurizer that needs NO vocabulary pass: token ->
    bucket = h(token) mod 1024 with a ±1 sign from the next hash bit,
    summed per (doc, bucket). Zero-sum collisions drop out (HAVING),
    exactly as an explicit sparse vector would. Uses the repo's
    portable 60-bit md5-prefix hash so the bucket ids are bit-identical
    in DuckDB — the classic Spark HashingTF is xxhash-based and
    engine-private, which is what keeps it un-oracle-able.

    Scale shape: one explode + one (doc_id, feat_idx) hash aggregate
    with map-side combine; no vocabulary broadcast, no global pass —
    the whole point of feature hashing at 100 TB is that it is
    embarrassingly parallel and memory-constant (1024 buckets)."""
    d = _docs(spark, sf_dir)
    from ..functions.hashing import portable_hash60

    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    h = portable_hash60(F.col("token"))
    sign = F.when(F.shiftright(h, 10) % 2 == 0, 1).otherwise(-1)
    return (
        tok.select(
            "doc_id",
            (h % 1024).cast("int").alias("feat_idx"),
            sign.alias("s"),
        )
        .groupBy("doc_id", "feat_idx")
        .agg(F.sum("s").alias("val"))
        .filter(F.col("val") != 0)
    )


_PCA_ORACLE = """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
               FROM embeddings),
    s1 AS (SELECT vec_id, xd, 0.125 * list_sum(xd) AS s FROM e),
    u1 AS (SELECT t.i, SUM(xd[t.i + 1] * s) AS u
           FROM s1, range(64) t(i) GROUP BY t.i),
    n1 AS (SELECT SQRT(SUM(u * u)) AS nrm FROM u1),
    v1 AS (SELECT i, u / nrm AS v FROM u1, n1),
    s2 AS (SELECT e.vec_id, SUM(e.xd[v1.i + 1] * v1.v) AS s
           FROM e, v1 GROUP BY e.vec_id),
    u2 AS (SELECT t.i, SUM(e.xd[t.i + 1] * s2.s) AS u
           FROM e JOIN s2 USING (vec_id), range(64) t(i) GROUP BY t.i),
    n2 AS (SELECT SQRT(SUM(u * u)) AS nrm FROM u2),
    v2r AS (SELECT i, u / nrm AS v FROM u2, n2),
    dmax AS (SELECT i AS im FROM v2r ORDER BY ABS(v) DESC, i LIMIT 1),
    sgn AS (SELECT CASE WHEN v2r.v < 0 THEN -1.0 ELSE 1.0 END AS sg
            FROM v2r, dmax WHERE v2r.i = dmax.im),
    v2 AS (SELECT i, v * sg AS v FROM v2r, sgn),
    s3 AS (SELECT e.vec_id, SUM(e.xd[v2.i + 1] * v2.v) AS s
           FROM e, v2 GROUP BY e.vec_id),
    lam AS (SELECT SUM(s * s) / (SELECT COUNT(*) FROM e) AS l FROM s3)
    SELECT CAST(v2.i AS INTEGER) AS dim,
           ROUND(v2.v, 6) AS loading,
           ROUND(lam.l, 6) AS eigenvalue
    FROM v2, lam
"""


@register(
    "embedding_pca_power",
    oracle=_PCA_ORACLE,
    tags=("vector", "embedding", "ml"),
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-eigenvector PCA by POWER ITERATION with an
    implicit matvec — the classic trick that makes PCA feasible at
    100 TB: C.v = sum_rows x * (x.v), so each iteration is ONE
    corpus pass computing the scalar projection s = x.v and 64
    partial sums; the 64x64 covariance matrix is NEVER materialized
    and nothing quadratic in N or D^2-per-row ever exists. Two
    unrolled iterations from the uniform start v0 = 1/8 (exact in
    binary), sign canonicalized on the max-|loading| dimension
    (ties -> smallest dim), plus the Rayleigh eigenvalue
    lambda = sum((x.v)^2)/N of the mean-free Gram C = X'X/N.

    Scale shape: each iteration is one whole-stage-codegen aggregate
    with full map-side combine (64 running doubles per task); the only
    driver traffic is the 64-float eigenvector between iterations (the
    kmeans_fit centroid-collect pattern, bounded and documented). The
    DuckDB oracle unrolls the same two iterations over a range(64)
    lateral; float drift stays ~1e-13 relative, far under the 6-dp
    compare."""
    import math

    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("xd")
    )
    D = 64

    # r11 (guide §1.2 / the assign() broadcast-parameter discipline):
    # the iteration vector rides in as a one-row broadcast relation and
    # the projection s = x.v is LET-BOUND in a child Project, instead of
    # a ~4096-literal expression tree whose s-subtree was duplicated
    # into all 64 sums. Effects: (a) the generated code is identical
    # across iterations, so codegen compiles ONCE (three big fresh-
    # literal compiles were the cold wall — 8.0 s → 6.2 s first-run);
    # (b) each row computes the dot product once, not 64× (64× less
    # per-row work at scale if CSE doesn't fire). The HOF fold
    # aggregate(zip_with(x, v, *), 0.0, +) is the same left-to-right
    # sequential sum as the old literal chain, and v0 = [0.125]*64
    # equals 0.125·dot(ones) exactly (power-of-two scaling is exact),
    # so every iterate is BIT-IDENTICAL to the old form (A/B verified).
    def _s_proj(v):
        vdf = e.sparkSession.createDataFrame(
            [([float(c) for c in v],)], "v: array<double>"
        )
        return e.crossJoin(F.broadcast(vdf)).select(
            "xd",
            F.aggregate(
                F.zip_with("xd", "v", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("s"),
        )

    def _matvec(v):
        # ONE aggregate pass: u[i] = SUM(x[i] * (x . v)); bounded
        # 64-double collect carries the eigenvector between iterations.
        proj = _s_proj(v)
        row = proj.agg(
            *[F.sum(F.col("xd")[i] * F.col("s")).alias(f"u{i}") for i in range(D)]
        ).head()
        u = [float(row[i]) for i in range(D)]
        nrm = math.sqrt(sum(c * c for c in u))
        return [c / nrm for c in u]

    v1 = _matvec([0.125] * D)
    v2 = _matvec(v1)
    im = sorted(range(D), key=lambda i: (-abs(v2[i]), i))[0]
    if v2[im] < 0:
        v2 = [-c for c in v2]
    lam = _s_proj(v2).agg(
        F.round(F.sum(F.col("s") * F.col("s")) / F.count(F.lit(1)), 6).alias(
            "eigenvalue"
        )
    )
    return lam.select(
        F.posexplode(
            F.array(*[F.round(F.lit(v2[i]), 6) for i in range(D)])
        ).alias("dim", "loading"),
        "eigenvalue",
    ).select(F.col("dim").cast("int").alias("dim"), "loading", "eigenvalue")


@register(
    "text_kneser_ney",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ),
    big AS (
      SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    bigc AS (
      SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(cb) AS DOUBLE) AS c1,
             CAST(COUNT(*) AS DOUBLE) AS n1f
      FROM bigc GROUP BY 1
    ),
    rev AS (
      SELECT w2, CAST(COUNT(*) AS DOUBLE) AS n1r FROM bigc GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM bigc)
    SELECT w1, w2, CAST(cb AS BIGINT) AS cb,
           ROUND(GREATEST(cb - 0.75, 0.0) / c1
                 + ((0.75 * n1f) / c1) * (n1r / nt), 6) AS p_kn
    FROM bigc JOIN c1 USING (w1) JOIN rev USING (w2) CROSS JOIN tot
    ORDER BY ROUND(GREATEST(cb - 0.75, 0.0) / c1
                   + ((0.75 * n1f) / c1) * (n1r / nt), 6) DESC, w1, w2
    LIMIT 20
    """,
    tags=("text", "lm"),
)
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing
    that every serious n-gram LM (KenLM, SRILM default) uses:
    P(w2|w1) = max(c(w1w2) - d, 0)/c(w1.) + d*N1+(w1.)/c(w1.) * Pcont(w2),
    with absolute discount d = 0.75 and the CONTINUATION probability
    Pcont(w2) = N1+(.w2) / |bigram types| (how many distinct contexts
    a word follows — the insight that makes KN beat add-k). Returns
    the 20 highest-probability bigrams (rounded-prob order, (w1, w2)
    tiebreak so the cut is engine-deterministic).

    Scale shape: bigrams come from the map-side positional self-zip
    (join-free, same trick as text_bigram_lm); ALL statistics live at
    vocab/bigram-type grain after one (w1, w2) aggregate with map-side
    combine — c(w1.) and N1+(w1.) fold out of the SAME groupBy(w1)
    pass, N1+(.w2) out of one groupBy(w2) pass, and the final top-20
    is a TakeOrdered, never a single-partition window. The corpus is
    touched exactly once."""
    d = _docs(spark, sf_dir)
    toks = d.select(F.split("text", " ").alias("t"))
    big = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bigc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    c1 = bigc.groupBy("w1").agg(
        F.sum("cb").cast("double").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("n1f"),
    )
    rev = bigc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("n1r")
    )
    tot = bigc.agg(F.count(F.lit(1)).cast("double").alias("nt"))
    p_kn = F.round(
        F.greatest(F.col("cb") - 0.75, F.lit(0.0)) / F.col("c1")
        + ((F.lit(0.75) * F.col("n1f")) / F.col("c1"))
        * (F.col("n1r") / F.col("nt")),
        6,
    )
    return (
        bigc.join(F.broadcast(c1), "w1")
        .join(F.broadcast(rev), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", F.col("cb").cast("bigint").alias("cb"),
            p_kn.alias("p_kn"),
        )
        .orderBy(F.desc("p_kn"), "w1", "w2")
        .limit(20)
    )


@register(
    "text_compression_ratio",
    oracle=None,  # zlib is not expressible in DuckDB SQL; pytest pins
    # the exact ratios against direct zlib calls on the same rows.
    tags=("text", "quality", "udf"),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: deflate(level 6) bytes over
    raw UTF-8 bytes per document — the cheap redundancy detector LLM
    curation stacks use alongside repetition scores (boilerplate and
    template spam compress far below prose; Gopher/MassiveText filter
    on exactly this). Emits the ratio plus the corpus decile so the
    downstream keep/drop cut is rank-based, not threshold-based.

    Scale shape: one Arrow-batched pandas UDF (zlib is C-speed and
    releases the GIL; the batch transfer dominates) over a map-only
    pass — no shuffle until the bounded decile NTILE, which runs on
    the distributed range-partition primitive (operators/ranking.py),
    never a single-partition window. The kernel lives in
    operators/udfs.py (module-level pandas, so the Arrow type hints
    resolve) and ships by value per the worker-shipping rule."""
    from ..operators.ranking import with_global_ntile

    _zlen = U.deflate_len_udf()
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        _zlen(F.col("text")).alias("z_bytes"),
    )
    scored = d.select(
        "doc_id",
        "n_bytes",
        "z_bytes",
        F.round(F.col("z_bytes") / F.col("n_bytes"), 4).alias("ratio"),
    )
    tiled = with_global_ntile(
        scored, [F.col("ratio"), F.col("doc_id")], 10, "decile"
    )
    return tiled.select(
        "doc_id", "n_bytes", "z_bytes", "ratio",
        F.col("decile").cast("int").alias("decile"),
    )


@register(
    "multimodal_audio_spectrogram",
    oracle="""
    WITH g AS (
      SELECT doc_id, 800 + (doc_id % 7) * 160 AS n
      FROM documents WHERE doc_id % 10 = 0
    ),
    i AS (
      SELECT doc_id, n, unnest(range(n)) AS i FROM g
    ),
    s AS (
      SELECT doc_id, n, i,
             CAST((doc_id * 131 + i * 17) % 2003 - 1001 AS DOUBLE) AS v
      FROM i
    ),
    k AS (SELECT unnest([1, 2, 3]) AS k),
    t AS (
      SELECT doc_id, k.k,
             SUM(v * COS(((2 * PI() * k.k) * i) / n)) AS re,
             SUM(v * SIN(((2 * PI() * k.k) * i) / n)) AS im
      FROM s, k GROUP BY 1, 2
    )
    SELECT doc_id, CAST(k AS INTEGER) AS k,
           ROUND(LOG10(re * re + im * im + 1.0), 4) AS log_energy
    FROM t
    """,
    tags=("multimodal", "audio"),
)
def multimodal_audio_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features over REAL decoded WAV bytes: a
    single-frame DFT at 3 discrete bins per clip (log10 band energy) —
    the fingerprint/feature kernel audio curation runs after VAD; a
    full mel-spectrogram is this batched over frames. The clip subset
    (doc_id % 10 = 0) keeps the trig-heavy ORACLE tractable at sweep
    scale; the Spark side decodes the actual RIFF/WAVE payloads while
    DuckDB recomputes the identical DFT from the generation formula —
    a hash match proves byte → PCM16 → spectrum end to end.

    Scale shape: decode + DFT run vectorized (numpy) inside one
    mapInPandas Arrow pass — embarrassingly parallel scan work, no
    shuffle at all; O(N·bins) per clip. Band energies are compared on
    a LOG scale (4 dp), where the cross-engine trig/summation drift
    (~1e-12 relative) is far below the rounding quantum."""
    media = MM.to_audio_table(
        _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    )
    return MM.spectrogram_audio_media(media)


def _ann_inc_build(spark, indexed, tbl, idx_path, on_base_written=None) -> None:
    """Base-overwrite + delta-append of the 16-bucket incremental ANN
    index (shared by sim_ann_incremental and its mechanics test).
    ``on_base_written(idx_path)`` fires BETWEEN the two writes so a
    test can snapshot the base generation's files/mtimes and prove the
    append leaves them untouched (ADVICE r7 — the old test captured
    mtimes after both writes, so the assertion was vacuous)."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if os.path.isdir(idx_path):
        shutil.rmtree(idx_path)
    os.makedirs(idx_path, exist_ok=True)
    # r12 (guide §6 small-files): repartition by the bucket function
    # itself (murmur3 mod 16 — exactly Spark's bucket id) so each task
    # writes ONE bucket file instead of one per (bucket, input task).
    (
        indexed.filter(F.col("vec_id") % 10 != 0)
        .repartition(16, "bucket")
        .write.bucketBy(16, "bucket")
        .sortBy("bucket")
        .option("path", idx_path)
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    if on_base_written is not None:
        on_base_written(idx_path)
    # The delta: same bucket spec, append mode — new files per bucket,
    # base files untouched (the incremental-ingest contract).
    (
        indexed.filter(F.col("vec_id") % 10 == 0)
        .repartition(16, "bucket")
        .write.bucketBy(16, "bucket")
        .sortBy("bucket")
        .option("path", idx_path)
        .mode("append")
        .saveAsTable(tbl)
    )


@register(
    "sim_ann_incremental",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, embedding, nrm, bucket
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM n)
      WHERE rn <= 10
    )
    SELECT q_id, n_id, cosine, CAST(rk AS INTEGER) AS rk,
           CASE WHEN n_id % 10 = 0 THEN 'delta' ELSE 'base' END AS phase
    FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                           p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (q.nrm * c.nrm) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                                      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                        / (q.nrm * c.nrm) DESC, c.vec_id
             ) AS rk
      FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    WHERE rk <= 3
    """,
    tags=("vector", "bucketing", "incremental"),
)
def sim_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL REFRESH of the persisted ANN index (VERDICT r6
    item 8a) — dedup_incremental's delta-ingest pattern applied to
    sim_ann_repartitioned's bucketed index: 90% of the corpus
    (vec_id % 10 != 0) is written as the 16-bucket base table, the
    remaining 10% arrives later and is APPENDED with the same
    bucketBy(16)/sortBy spec — Spark validates the spec and writes new
    per-bucket files, so the delta never touches or rewrites base
    files and bucket pruning keeps working across both generations.
    A probe of the first 10 vec_ids then runs exact in-cell cosine
    top-3 against the merged index; the DuckDB oracle is the FULL
    CORPUS answer, so a hash match PROVES probe-after-delta ≡ full
    rebuild. Each neighbor row is tagged base/delta — the queries'
    neighbor sets contain delta rows, so the equality is not vacuous.

    Scale shape: at 100 TB the index build is paid once; each delta
    batch costs one bucket-grain shuffle of ONLY the new rows (never a
    corpus rescan, never a rewrite of existing bucket files), and a
    probe reads only its cells' files across all generations
    (SelectedBucketsCount asserted below). The table is rebuilt per
    call on purpose — this key pins the DELTA-INGEST mechanics; the
    warm-reuse path is sim_ann_repartitioned's pin."""
    import hashlib
    import os

    from pyspark.sql.window import Window

    from ..functions.vectors import l2norm

    e = _emb(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    cell = sum(
        (F.when(v.getItem(i) > 0, F.lit(1 << i)).otherwise(F.lit(0)))
        for i in range(8)
    )
    indexed = e.select(
        "vec_id", "embedding", cell.alias("bucket"), l2norm(v).alias("nrm")
    )
    # pid in the tag: this key DROPS AND REBUILDS its dir per call, so
    # two concurrent sessions sharing a repo (parallel gate runs, two
    # jobs on one lake prefix) would otherwise delete files under each
    # other's readers (observed: FAILED_READ_FILE.FILE_NOT_EXIST when
    # three gates raced). Process-unique dirs never collide; stale
    # processes' leftovers age out via the same GC below.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    tbl = f"ann_inc_{tag}"
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    idx_path = os.path.join(repo_root, ".index", tbl)
    # This key rebuilds per call, so other sf_dirs'/processes' ann_inc_*
    # leftovers are pure leak (one per probe-replica path otherwise) —
    # GC them; results are localCheckpoint'ed, so no live handle reads
    # the files.
    _gc_stale_index_tags(spark, "ann_inc_", tbl, min_age_s=3600)
    _ann_inc_build(spark, indexed, tbl, idx_path)
    s2 = spark.newSession()  # shared catalog; own SQLConf for the probe
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    idx = s2.table(tbl)
    qrows = idx.orderBy("vec_id").limit(10).select("vec_id", "bucket").collect()
    cells = sorted({r["bucket"] for r in qrows})
    ids = [r["vec_id"] for r in qrows]
    cand = idx.filter(F.col("bucket").isin(cells))
    scan_plan = cand._jdf.queryExecution().executedPlan().toString()
    if "SelectedBucketsCount" not in scan_plan:
        raise RuntimeError(
            "sim_ann_incremental: bucket pruning did not engage after the "
            "delta append (no SelectedBucketsCount in the probe scan plan)"
        )
    q = idx.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("q_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("q_vec"),
            F.col("embedding").cast("array<double>"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            (dot / (F.col("q_nrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "n_id")
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "q_id",
            "n_id",
            "cosine",
            F.col("rk").cast("int").alias("rk"),
            F.when(F.col("n_id") % 10 == 0, F.lit("delta"))
            .otherwise(F.lit("base"))
            .alias("phase"),
        )
    )
    # The key rebuilds base+delta PER CALL (its contract pins the ingest
    # mechanics), which deletes the files a PREVIOUS call's returned
    # frame still references. The result is bounded (≤ 3·|queries| rows),
    # so materialize it eagerly — the handle outlives any later rebuild.
    return out.localCheckpoint(eager=True)


def _rag_rerank_oracle() -> str:
    """DuckDB replica of pipeline_rag_rerank: sketch top-20 candidates
    per query (stage 1), exact token-frequency cosine rerank to top-2
    (stage 2). Sketch arithmetic is integer-exact (±1 sums), the exact
    cosine is integer dot / sqrt(integer product) — both bit-identical
    across engines, so the two stage boundaries (rk1 = 20, rk2 = 2)
    cut at identical rows."""
    from ..functions.hashing import sql_hash60

    h = sql_hash60("t")
    dims = ",\n         ".join(
        f"list_sum(list_transform(hs, h -> ((h >> {j}) & 1) * 2 - 1)) AS e{j}"
        for j in range(8)
    )
    bucket = " + ".join(f"(CASE WHEN e{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(8))
    sq = " + ".join(f"e{j} * e{j}" for j in range(8))
    dot = " + ".join(f"q.e{j} * c.e{j}" for j in range(8))
    cols = ", ".join(f"e{j}" for j in range(8))
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    ch AS (
      SELECT doc_id * 1000000 + i AS chunk_id, doc_id,
             toks[i * 40 + 1 : i * 40 + 50] AS ctoks,
             array_to_string(toks[i * 40 + 1 : i * 40 + 50], ' ') AS chunk
      FROM t, LATERAL UNNEST(generate_series(0,
               CAST(ceil(greatest(n - 50, 0) / 40.0) AS BIGINT))) AS u(i)
    ),
    hx AS (
      SELECT chunk_id, doc_id, chunk, ctoks,
             list_transform(ctoks, t -> {h}) AS hs
      FROM ch
    ),
    e AS (
      SELECT chunk_id, doc_id, chunk, ctoks,
         {dims}
      FROM hx
    ),
    b AS (
      SELECT chunk_id, doc_id, chunk, ctoks, {cols},
             {bucket} AS bucket,
             sqrt({sq}) AS nrm,
             list_aggregate(list_transform(list_distinct(ctoks), t ->
               len(list_filter(ctoks, x -> x = t))
               * len(list_filter(ctoks, x -> x = t))), 'sum') AS tf2
      FROM e
    ),
    q AS (SELECT * FROM b WHERE doc_id < 3 AND nrm > 0),
    c AS (SELECT * FROM b WHERE doc_id >= 3 AND nrm > 0),
    s1 AS (
      SELECT q.chunk_id AS q_id, c.chunk_id AS n_id, c.chunk AS n_chunk,
             ({dot}) / (q.nrm * c.nrm) AS sketch_cos,
             q.ctoks AS qt, c.ctoks AS ct, q.tf2 AS qn2, c.tf2 AS cn2
      FROM q JOIN c ON c.bucket = q.bucket
    ),
    r1 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY sketch_cos DESC, n_id) AS rk1
      FROM s1
    ),
    x AS (
      SELECT q_id, n_id, n_chunk,
             list_aggregate(list_transform(list_distinct(qt), t ->
               len(list_filter(qt, x -> x = t))
               * len(list_filter(ct, x -> x = t))), 'sum')
               / sqrt(CAST(qn2 AS DOUBLE) * cn2) AS exact_cos
      FROM r1 WHERE rk1 <= 20
    ),
    r2 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY exact_cos DESC, n_id) AS rk2
      FROM x
    )
    SELECT q_id, CAST(COUNT(*) AS INTEGER) AS n_ctx,
           ROUND(MAX(exact_cos), 6) AS best_exact,
           string_agg(n_chunk, ' | ' ORDER BY rk2) AS context
    FROM r2 WHERE rk2 <= 2 GROUP BY q_id
    """


@register(
    "pipeline_rag_rerank",
    oracle=_rag_rerank_oracle(),
    tags=("pipeline", "vector", "text"),
)
def pipeline_rag_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval on top of pipeline_rag (VERDICT r6 item 8b)
    — the candidate-generation / exact-rescore split production RAG
    serving uses: stage 1 ranks same-bucket candidates by the cheap
    8-dim signed-projection sketch and keeps the TOP-20 per query;
    stage 2 rescores ONLY those ≤20 candidate rows with the exact
    term-frequency cosine over the full 50-token chunks and keeps the
    top-2 for context assembly. The expensive exact kernel never sees
    a non-candidate row — the callable asserts the plan carries the
    WindowGroupLimit pushdown that enforces the stage-1 cut before
    anything downstream runs.

    Scale shape: stage 1 is pipeline_rag's shape (map-only sketch,
    bucket-equality candidate join with the bounded query side
    broadcast, WindowGroupLimit top-20); stage 2's exact cosine is
    O(|chunk|²) per PAIR but runs on ≤ 20·|queries| rows total —
    independent of corpus size, which is exactly why two-stage
    retrieval is the production shape at 100 TB. The exact norm (tf2,
    O(|chunk|²) nested token counts) and the chunk STRING are never
    computed corpus-wide: tf2 is evaluated only on the bounded query
    side and on stage-1 survivors, and the context string is rebuilt
    from the survivor's token array AFTER the cut — the corpus-wide
    scan carries only the token array and the 8 integer sketch dims
    (r7 perf pass: 6.0 → 4.6 s at sf0.1, same plan pins).
    Every intermediate is integer-exact; both stage boundaries cut at
    bit-identical rows across engines."""
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash60

    d = _docs(spark, sf_dir)
    n = F.size(F.col("toks"))
    n_chunks = F.ceil(F.greatest(n - 50, F.lit(0)) / 40.0).cast("int")

    def tf2_of(col):
        return F.aggregate(
            F.array_distinct(col),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.size(F.filter(col, lambda x: x == t))
            * F.size(F.filter(col, lambda x: x == t)),
        )

    def chunk_src(src):
        # split+slice only — no per-token hashing on this path; the
        # survivor re-join passes a doc_id-prefiltered src so the
        # second pass chunks only surviving documents
        return (
            spread_scan(src, "doc_id")  # r11 guide 2.5: spread one-task scan
            .select("doc_id", F.split("text", " ").alias("toks"))
            .select(
                "doc_id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(0), n_chunks),
                        lambda i: F.slice(F.col("toks"), i * 40 + 1, 50),
                    )
                ).alias("chunk_idx", "ctoks"),
            )
            .select(
                (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("chunk_id"),
                "doc_id",
                "ctoks",
            )
        )

    ch = chunk_src(d).select(
        "chunk_id",
        "doc_id",
        "ctoks",
        F.transform("ctoks", lambda t: portable_hash60(t)).alias("hs"),
    )
    dims = [
        F.aggregate(
            "hs",
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        ).alias(f"e{j}")
        for j in range(8)
    ]
    e = ch.select("chunk_id", "doc_id", "ctoks", *dims)
    bucket = sum(
        F.when(F.col(f"e{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(8)
    )
    sq = sum(F.col(f"e{j}") * F.col(f"e{j}") for j in range(8))
    b = e.select(
        "chunk_id", "doc_id", "ctoks",
        *[f"e{j}" for j in range(8)],
        bucket.alias("bucket"), F.sqrt(sq).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    q = b.filter(F.col("doc_id") < 3).select(
        F.col("chunk_id").alias("q_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("nrm").alias("q_nrm"),
        F.col("ctoks").alias("qt"),
        tf2_of(F.col("ctoks")).alias("qn2"),  # bounded query side only
        *[F.col(f"e{j}").alias(f"q{j}") for j in range(8)],
    )
    sketch_dot = sum(F.col(f"q{j}") * F.col(f"e{j}") for j in range(8))
    # Stage-1 exchange carries ONLY (q_id, n_id, sketch_cos) — the
    # 50-token arrays never ride the rank shuffle (VERDICT r7 item 3:
    # they used to, a constant-factor bloat on every candidate row).
    # Survivor token arrays are re-joined AFTER the rk1 ≤ 20 cut: the
    # tiny survivor set broadcasts against a lean split+slice second
    # pass (map-only, no shuffle of the corpus), and the query-side
    # arrays come off the already-bounded broadcast q.
    s1 = (
        b.filter(F.col("doc_id") >= 3)
        .join(
            F.broadcast(q.select("q_id", "q_bucket", "q_nrm",
                                 *[f"q{j}" for j in range(8)])),
            F.col("bucket") == F.col("q_bucket"),
        )
        .select(
            "q_id",
            F.col("chunk_id").alias("n_id"),
            (sketch_dot / (F.col("q_nrm") * F.col("nrm"))).alias("sketch_cos"),
        )
    )
    w1 = Window.partitionBy("q_id").orderBy(F.col("sketch_cos").desc(), "n_id")
    cand = (
        s1.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= 20)
        .select("q_id", "n_id")
    )
    # Pin the stage-1 cut's WindowGroupLimit pushdown HERE, on cand's
    # own executed plan — cand is then materialized once (it feeds two
    # broadcasts below; without this, stage 1's corpus-wide hashing
    # would run twice) and the tiny ≤20·|queries| id set outlives the
    # lineage.
    plan = cand._jdf.queryExecution().executedPlan().toString()
    if "WindowGroupLimit" not in plan:
        raise RuntimeError(
            "pipeline_rag_rerank: the stage-1 top-20 cut lost its "
            "WindowGroupLimit pushdown — the exact rerank would scan "
            "non-candidate rows"
        )
    cand = cand.localCheckpoint(eager=False)
    # decode survivor doc_ids from chunk_id (= doc_id·10⁶ + idx) so the
    # second pass splits/slices ONLY surviving documents — the corpus
    # text column is scanned but never re-tokenized corpus-wide
    sur_docs = d.join(
        F.broadcast(
            cand.select(F.floor(F.col("n_id") / 1000000).alias("doc_id")).distinct()
        ),
        "doc_id",
        "leftsemi",
    )
    sur = (
        chunk_src(sur_docs)
        .join(F.broadcast(cand), F.col("chunk_id") == F.col("n_id"))
        .select("q_id", "n_id", F.col("ctoks").alias("ct"))
        .join(F.broadcast(q.select("q_id", "qt", "qn2")), "q_id")
    )
    exact_dot = F.aggregate(
        F.array_distinct("qt"),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.size(F.filter(F.col("qt"), lambda x: x == t))
        * F.size(F.filter(F.col("ct"), lambda x: x == t)),
    )
    # exact norm + context string: survivors only (≤ 20·|queries| rows)
    x = sur.select(
        "q_id",
        "n_id",
        F.array_join("ct", " ").alias("n_chunk"),
        (
            exact_dot
            / F.sqrt(F.col("qn2").cast("double") * tf2_of(F.col("ct")))
        ).alias("exact_cos"),
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("exact_cos").desc(), "n_id")
    top = x.withColumn("rk2", F.row_number().over(w2)).filter(F.col("rk2") <= 2)
    out = top.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_ctx"),
        F.round(F.max("exact_cos"), 6).alias("best_exact"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("rk2").alias("rk2"), F.col("n_chunk").alias("n_chunk"))
                    )
                ),
                lambda s: s["n_chunk"],
            ),
            " | ",
        ).alias("context"),
    )
    return out


def _mh_groups_of(part: DataFrame) -> DataFrame:
    """Exact-collapse: identical signatures → ONE group row (r7 #7)."""
    return part.groupBy("minhash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members")
    )


def _mh_banded_of(groups: DataFrame, gen: str, bands: int, width: int) -> DataFrame:
    """Band rows for the bucketed signature table. bkey =
    "<band>|h1,h2,h3,h4" — string equality ≡ (band, slice) equality
    (hash values are integers, the delimiter is unambiguous), and a
    plain string buckets/sorts natively."""
    return groups.select(
        F.col("members").getItem(0).alias("gid"),
        "minhash",
        "members",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat(
                    b.cast("string"),
                    F.lit("|"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col("minhash"), b * width + 1, width),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    ),
                ),
            )
        ).alias("bkey"),
        F.lit(gen).alias("gen"),
    )


def _mh_inc_build(spark, banded_base, banded_delta, tbl, idx_path,
                  on_base_written=None) -> None:
    """Base-overwrite + delta-append of the band-bucketed MinHash
    signature table (shared by dedup_minhash_incremental and its
    mechanics test — same hook contract as _ann_inc_build)."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if os.path.isdir(idx_path):
        shutil.rmtree(idx_path)
    os.makedirs(idx_path, exist_ok=True)
    (
        banded_base.write.partitionBy("gen")
        .bucketBy(16, "bkey")
        .sortBy("bkey")
        .option("path", idx_path)
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    if on_base_written is not None:
        on_base_written(idx_path)
    (
        banded_delta.write.partitionBy("gen")
        .bucketBy(16, "bkey")
        .sortBy("bkey")
        .option("path", idx_path)
        .mode("append")
        .saveAsTable(tbl)
    )


@register(
    "dedup_minhash_incremental",
    oracle=_minhash_oracle(),
    tags=("dedup", "incremental"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MinHash+LSH dedup (VERDICT r7 item 8a) —
    sim_ann_incremental's delta-ingest pattern applied to the dedup
    index: the corpus's MinHash signatures are persisted as a
    BAND-BUCKETED table (8 band rows per signature group, bucketBy(16)
    on the band-slice key), 90% of documents (doc_id % 10 != 0) as the
    base generation, the remaining 10% appended later with the same
    bucket spec — new per-bucket files only, base files never
    rewritten, candidate joins bucket-colocated across generations.

    Candidate generation is then INCREMENTAL: base×base pairs come
    from the base generation alone (the answer the previous run
    already had), and the delta batch only generates pairs INVOLVING a
    delta row — one bucket-grain join of the delta band rows against
    the merged table. The union must equal the full recompute: the
    DuckDB oracle is dedup_minhash's FULL-CORPUS answer, so a hash
    match PROVES incremental candidate set ≡ full recompute.

    Scale shape at 100 TB: each delta batch shuffles ONLY its own band
    rows (8·|delta| rows) at ingest; the probe join reads base bucket
    files in place (bucket-colocated sort-merge — the executed plan is
    asserted to carry NO Exchange on the bucket key), and the r7
    exact-collapse discipline holds PER GENERATION: identical
    signatures collapse before banding, so duplicate multiplicity
    never inflates the join (cross-generation identical signatures
    stay two group rows sharing every band — found by the join with
    est = 1.0, exactly what the full recompute yields).
    """
    import hashlib
    import os

    from ..functions.hashing import MINHASH_P, minhash_coeffs  # noqa: F401
    from ..operators.dedup import minhash_signatures

    num_hashes, bands = 32, 8
    width = num_hashes // bands
    # lazy checkpoint: the shingle-explode + 32-min signature pass is
    # the expensive corpus scan and BOTH generation writes read it —
    # without this it executes once per write (doc-grain frame, small)
    sigs = minhash_signatures(
        _docs(spark, sf_dir), num_hashes=num_hashes
    ).localCheckpoint(eager=False)

    def groups_of(part):
        return _mh_groups_of(part)

    def banded_of(groups, gen):
        return _mh_banded_of(groups, gen, bands, width)

    base_g = groups_of(sigs.filter(F.col("doc_id") % 10 != 0))
    delta_g = groups_of(sigs.filter(F.col("doc_id") % 10 == 0))
    # pid in the tag — per-call drop+rebuild dirs must be process-unique
    # or concurrent sessions delete files under each other's readers
    # (same hardening as sim_ann_incremental; GC ages out leftovers)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    tbl = f"mh_inc_{tag}"
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    idx_path = os.path.join(repo_root, ".index", tbl)
    _gc_stale_index_tags(spark, "mh_inc_", tbl, min_age_s=3600)
    _mh_inc_build(
        spark, banded_of(base_g, "base"), banded_of(delta_g, "delta"), tbl, idx_path
    )
    s2 = spark.newSession()  # shared catalog; own SQLConf for the probe
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    # broadcast off in the CLONE only: at gate scale Spark would pick a
    # BroadcastHashJoin (no exchange either way), making the
    # colocation assertion vacuous — forcing the sort-merge path makes
    # the probe exercise exactly the ≥100 TB plan, where the bucketed
    # layout is what keeps the corpus from re-shuffling on every batch
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    t = s2.table(tbl)
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.minhash"), F.col("b.minhash"),
                           lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(num_hashes)
    )

    def group_pairs(left, right, cond):
        return (
            left.alias("a")
            .join(right.alias("b"), (F.col("a.bkey") == F.col("b.bkey")) & cond)
            .select(
                F.col("a.gid").alias("gid_a"),
                F.col("b.gid").alias("gid_b"),
                F.col("a.members").alias("ma"),
                F.col("b.members").alias("mb"),
                est.alias("jaccard_est"),
            )
            .groupBy("gid_a", "gid_b")
            .agg(
                F.first("jaccard_est").alias("jaccard_est"),
                F.first("ma").alias("ma"),
                F.first("mb").alias("mb"),
            )
        )

    base_rows = t.filter(F.col("gen") == "base")
    delta_rows = t.filter(F.col("gen") == "delta")
    # stage 1 — what the previous run already knew: base×base
    p_bb = group_pairs(base_rows, base_rows, F.col("a.gid") < F.col("b.gid"))
    # the bucket-colocation pin: the self-join must read the bucketed
    # files in place — a regression re-shuffles on the bucket key
    plan = p_bb._jdf.queryExecution().executedPlan().toString()
    if "SortMergeJoin" not in plan or "Exchange hashpartitioning(bkey" in plan:
        raise RuntimeError(
            "dedup_minhash_incremental: the base self-join must be a "
            "bucket-colocated sort-merge join (no Exchange on bkey) — "
            "the persisted bucket layout was not used"
        )
    # stage 2 — the incremental step: pairs involving ≥1 delta row.
    # delta×base needs no gid order (delta only ever sits on side a);
    # delta×delta orders to avoid double-count.
    p_d = group_pairs(
        delta_rows,
        t,
        ((F.col("b.gen") == "base") & (F.col("a.gid") != F.col("b.gid")))
        | ((F.col("b.gen") == "delta") & (F.col("a.gid") < F.col("b.gid"))),
    )
    inter = p_bb.unionByName(p_d).filter(F.col("jaccard_est") >= 0.5)
    cross = inter.select(
        F.explode(
            F.expr(
                "flatten(transform(ma, x -> transform(mb, y -> "
                "struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
            )
        ).alias("p"),
        "jaccard_est",
    ).select("p.id_a", "p.id_b", "jaccard_est")
    # intra-group pairs per generation: identical signatures ⇒ 1.0
    intra = (
        base_g.unionByName(delta_g)
        .filter(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(slice(members, i + 2, size(members)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard_est"))
    )
    # bounded output (near-dup pairs at gate scale); the per-call
    # rebuild deletes files a previous handle may still reference —
    # same eager-materialization contract as sim_ann_incremental
    return cross.unionByName(intra).localCheckpoint(eager=True)


@register(
    "dedup_minhash_compact",
    oracle=_minhash_oracle(),
    tags=("dedup", "incremental"),
)
def dedup_minhash_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION twin of dedup_minhash_incremental (VERDICT r8 item
    10b): fold N = 3 delta generations of the band-bucketed MinHash
    signature table back into ONE base generation WITHOUT rescanning
    the corpus beyond the touched buckets. The compaction job's input
    is the touched buckets' part-FILES only (files are selected by the
    bucket id encoded in their names — the same file-level pruning a
    lakehouse compactor does); untouched base bucket files are carried
    into the compacted table at FILE level (an os copy — zero Spark
    jobs, zero reads). Correctness hinges on a bucketing invariant:
    two group rows can merge only if they share a minhash, hence share
    every bkey, hence live in the SAME bucket — so no merge can span a
    touched/untouched boundary, and the bucket-local groupBy
    (bkey, minhash) with members-union is the whole fold. The write
    is repartitioned by the bucket function itself (murmur3(bkey) mod
    16 — exactly Spark's bucket id), so each task writes exactly one
    bucket and the Spark-written file count is asserted ≤ the touched
    bucket count: the rewrite is bucket-bounded, the done-criterion.

    The returned pairs are computed from the COMPACTED table alone
    (bucket-colocated self-join, no Exchange on bkey — asserted) and
    the oracle is the FULL-CORPUS MinHash answer, so a hash match
    proves compacted ≡ base+deltas merged ≡ full recompute:
    cross-generation identical signatures, two group rows pre-compact,
    are one merged group after — their est-1.0 pair moves from the
    join to the intra expansion with identical output.

    Scale shape at 100 TB: compaction cost is Θ(touched buckets), not
    Θ(corpus) — each delta's band rows name their buckets, the merge
    shuffles only those buckets' rows once (and with a higher bucket
    count the touched fraction shrinks proportionally), and the only
    corpus-wide work is the os-level carry of untouched files, which a
    real object store does as a metadata move."""
    import hashlib
    import os
    import re
    import shutil

    from ..operators.dedup import minhash_signatures

    # 64 buckets and a ~2% delta so untouched buckets EXIST at gate
    # scale and the file-carry path is actually exercised (with a 16
    # bucket layout every bucket is touched and bucket-bounding is
    # vacuous; production sizes the bucket count so the touched
    # fraction tracks the delta fraction).
    num_hashes, bands, n_buckets = 32, 8, 64
    width = num_hashes // bands
    sigs = minhash_signatures(
        _docs(spark, sf_dir), num_hashes=num_hashes
    ).localCheckpoint(eager=False)
    base_g = _mh_groups_of(sigs.filter(F.col("doc_id") % 50 != 0))
    deltas = [
        _mh_groups_of(
            sigs.filter(
                (F.col("doc_id") % 50 == 0)
                & (F.expr("doc_id div 50") % 3 == i)
            )
        )
        for i in range(3)
    ]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    tbl, tblc = f"mh_cmpsrc_{tag}", f"mh_cmp_{tag}"
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    idx = os.path.join(repo_root, ".index", tbl)
    idxc = os.path.join(repo_root, ".index", tblc)
    _gc_stale_index_tags(spark, "mh_cmpsrc_", tbl, min_age_s=3600)
    _gc_stale_index_tags(spark, "mh_cmp_", tblc, min_age_s=3600)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if os.path.isdir(idx):
        shutil.rmtree(idx)
    # r11 note (guide §1 — measured, not assumed): collapsing the
    # overwrite + 3 appends into ONE unioned partitionBy("gen") write
    # (base INCLUDED) was tried and measured WORSE (paired fresh-JVM
    # best-of-4: 11.9 s append loop vs 15.5 s staged union; cold 26.0
    # vs 33.9) — the single dynamic-partition bucketed write job
    # carried 4x the concurrent task state.
    #
    # r12 (VERDICT r11 item 2, guide §2.4/§2.6): two finer-grained cuts
    # that keep the base write small and static:
    # (a) the THREE delta appends (each ~2% of rows) union into ONE
    #     append job — the task-state blowup above came from the
    #     94%-of-rows base riding in the union, not from the deltas;
    #     partitionBy("gen") still lands each delta in its own
    #     directory, so the table contents and the touched-file layout
    #     are unchanged;
    # (b) the touched-bucket set is derived from the SAME delta frames
    #     (not the written table) on a second driver thread, so its
    #     job overlaps the base write instead of serializing after the
    #     last append. F.hash is Murmur3Hash(seed 42) either way —
    #     identical bucket ids.
    delta_banded = None
    for i, d in enumerate(deltas):
        b = _mh_banded_of(d, f"delta{i}", bands, width)
        delta_banded = b if delta_banded is None else delta_banded.unionByName(b)

    def _touched() -> list:
        return sorted(
            r["b"]
            for r in delta_banded.select(
                F.pmod(F.hash("bkey"), F.lit(n_buckets)).alias("b")
            )
            .distinct()
            .collect()
        )

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # (c) repartition each write by the bucket function itself
    #     (murmur3(bkey) mod n — exactly Spark's bucket id, same as the
    #     compacted write below) so every task holds exactly ONE
    #     bucket's rows and writes one file per (gen, bucket) instead
    #     of one per (gen, bucket, input task) — 8× fewer files at
    #     sf0.1 (guide §6 small-files), which also shrinks the
    #     compaction's file listing and the probe scan.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_touched = pool.submit(inheritable_thread_target(_touched))
        (
            _mh_banded_of(base_g, "base", bands, width)
            .repartition(n_buckets, "bkey")
            .write.partitionBy("gen")
            .bucketBy(n_buckets, "bkey")
            .sortBy("bkey")
            .option("path", idx)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        (
            delta_banded.repartition(n_buckets, "bkey")
            .write.partitionBy("gen")
            .bucketBy(n_buckets, "bkey")
            .sortBy("bkey")
            .option("path", idx)
            .mode("append")
            .saveAsTable(tbl)
        )
        touched = f_touched.result()
    touched_set = set(touched)
    bpat = re.compile(r"_(\d{5})(?:[._])")
    touched_files, untouched_base = [], []
    for d in os.listdir(idx):
        gd = os.path.join(idx, d)
        if not d.startswith("gen=") or not os.path.isdir(gd):
            continue
        for f in os.listdir(gd):
            if not f.endswith(".parquet"):
                continue
            m = bpat.search(f)
            if not m:
                raise RuntimeError(
                    f"dedup_minhash_compact: cannot parse bucket id "
                    f"from {f!r}"
                )
            if int(m.group(1)) in touched_set:
                touched_files.append(os.path.join(gd, f))
            elif d == "gen=base":
                untouched_base.append(os.path.join(gd, f))
            else:
                raise RuntimeError(
                    f"dedup_minhash_compact: delta file {f!r} in an "
                    "untouched bucket — touched-set derivation is wrong"
                )
    # The fold: bucket-local group merge over ONLY the touched files.
    merged = (
        spark.read.parquet(*touched_files)
        .groupBy("bkey", "minhash")
        .agg(
            F.min("gid").alias("gid"),
            F.array_sort(F.flatten(F.collect_list("members"))).alias(
                "members"
            ),
        )
        .select("gid", "minhash", "members", "bkey")
    )
    spark.sql(f"DROP TABLE IF EXISTS {tblc}")
    if os.path.isdir(idxc):
        shutil.rmtree(idxc)
    (
        merged.repartition(n_buckets, "bkey")
        .write.bucketBy(n_buckets, "bkey")
        .sortBy("bkey")
        .option("path", idxc)
        .mode("overwrite")
        .saveAsTable(tblc)
    )
    written = [f for f in os.listdir(idxc) if f.endswith(".parquet")]
    if len(written) > len(touched):
        raise RuntimeError(
            f"dedup_minhash_compact: wrote {len(written)} files for "
            f"{len(touched)} touched buckets — rewrite is not "
            "bucket-bounded"
        )
    for p in untouched_base:
        shutil.copy2(p, os.path.join(idxc, os.path.basename(p)))
    spark.catalog.refreshTable(tblc)

    s2 = spark.newSession()  # shared catalog; own SQLConf for the probe
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    tc = s2.table(tblc)
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.minhash"), F.col("b.minhash"),
                           lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(num_hashes)
    )
    pairs = (
        tc.alias("a")
        .join(
            tc.alias("b"),
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("gid_a"),
            F.col("b.gid").alias("gid_b"),
            F.col("a.members").alias("ma"),
            F.col("b.members").alias("mb"),
            est.alias("jaccard_est"),
        )
        .groupBy("gid_a", "gid_b")
        .agg(
            F.first("jaccard_est").alias("jaccard_est"),
            F.first("ma").alias("ma"),
            F.first("mb").alias("mb"),
        )
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    if "SortMergeJoin" not in plan or "Exchange hashpartitioning(bkey" in plan:
        raise RuntimeError(
            "dedup_minhash_compact: the compacted self-join must be a "
            "bucket-colocated sort-merge join (no Exchange on bkey) — "
            "the compacted bucket layout was not used"
        )
    cross = (
        pairs.filter(F.col("jaccard_est") >= 0.5)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ma, x -> transform(mb, y -> "
                    "struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
                )
            ).alias("p"),
            "jaccard_est",
        )
        .select("p.id_a", "p.id_b", "jaccard_est")
    )
    # merged-group intra pairs: one band row per group carries the
    # full member list — band 0 selects each group exactly once
    intra = (
        tc.filter(F.col("bkey").startswith("0|"))
        .filter(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(slice(members, i + 2, size(members)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard_est"))
    )
    return cross.unionByName(intra).localCheckpoint(eager=True)


@register(
    "streaming_ann_probe",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, embedding, nrm, bucket
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM n)
      WHERE rn <= 10
    )
    SELECT q_id, n_id, cosine, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                           p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (q.nrm * c.nrm) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                                                      p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
                        / (q.nrm * c.nrm) DESC, c.vec_id
             ) AS rk
      FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    WHERE rk <= 3
    """,
    tags=("vector", "bucketing", "streaming"),
)
def streaming_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the ANN probe path (VERDICT r7 item 8b) — the
    online-serving shape: query batches ARRIVE as a file stream (two
    5-query parquet files drained one per micro-batch) and each
    micro-batch probes the SAME persisted 16-bucket index
    sim_ann_repartitioned built, inside ``foreachBatch``: collect the
    batch's queries (bounded: ≤ 5 rows), filter the index with a
    literal ``bucket IN (...)`` — BUCKET PRUNING is asserted per batch
    (``SelectedBucketsCount`` in the executed scan plan; a regression
    to a full scan raises mid-stream) — broadcast the queries for
    exact in-cell cosine top-3, and stage the batch's results to a
    per-batch_id parquet dir (idempotent under foreachBatch's
    at-least-once retries). The DuckDB oracle is the BATCH answer over
    the full corpus, so a hash match proves stream-serving ≡ batch.

    Scale shape at 100 TB: the index is paid once at ingest (shared
    with the batch probes — same catalog table); each arriving query
    batch reads ONLY its cells' bucket files and the per-batch work is
    independent of corpus size outside those cells. Query arrival via
    file stream is the lakehouse serving pattern; swapping in a Kafka
    source changes one line of the reader."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..session import ensure_conf, scratch_dir
    from ..streaming.jobs import drain, stamp_arrival

    ensure_conf(spark)
    t0 = time.perf_counter()
    tbl = _ann_index_ensure(spark, sf_dir)
    s2 = spark.newSession()  # shared catalog; own SQLConf for the stream
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    idx = s2.table(tbl)
    qrows = sorted(
        idx.orderBy("vec_id").limit(10).select("vec_id", "bucket").collect(),
        key=lambda r: r["vec_id"],
    )
    root = scratch_dir("ann_probe_stream")  # returned frame reads root/result
    landing, out = f"{root}/landing", f"{root}/result"
    os.makedirs(landing, exist_ok=True)
    for i, (name, rows) in enumerate(
        (("qa.parquet", qrows[:5]), ("qb.parquet", qrows[5:]))
    ):
        t = pa.table(
            {
                "vec_id": pa.array([r["vec_id"] for r in rows], pa.int64()),
                "bucket": pa.array([r["bucket"] for r in rows], pa.int32()),
            }
        )
        path = os.path.join(landing, name)
        pq.write_table(t, path)
        stamp_arrival(path, i)

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # ≤ 5 queries per arriving batch
        if not rows:
            return
        cells = sorted({r["bucket"] for r in rows})
        ids = [r["vec_id"] for r in rows]
        cand = idx.filter(F.col("bucket").isin(cells))
        scan_plan = cand._jdf.queryExecution().executedPlan().toString()
        if "SelectedBucketsCount" not in scan_plan:
            raise RuntimeError(
                "streaming_ann_probe: bucket pruning did not engage for "
                f"micro-batch {batch_id} — the key exists to PIN the "
                "pruned-scan serving shape"
            )
        _ann_cell_topk(idx, cand, ids, k=3).write.mode("overwrite").parquet(
            f"{out}/batch={batch_id}"
        )

    stream = (
        s2.readStream.schema("vec_id long, bucket int")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(landing)
    )
    drain(
        stream.writeStream.foreachBatch(probe),
        "streaming_ann_probe",
        f"{root}/ckpt",
        t0,
    )
    return spark.read.option("recursiveFileLookup", "true").parquet(out)


# -------------------------------------------- r8.5: substring-span dedup

@register(
    "dedup_substring_span",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CAST(unnest(generate_series(1, len(w) - 7)) AS BIGINT) AS pos,
             unnest(list_transform(
               generate_series(1, len(w) - 7),
               i -> array_to_string(w[i:i+7], ' ')
             )) AS gram
      FROM toks WHERE len(w) >= 8
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    runs AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM marked
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
           MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
    FROM runs GROUP BY doc_id, grp
    """,
    tags=("dedup", "text"),
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans — the span-grain dedup op from
    the training-data literature (Lee et al. 2022's suffix-array
    substring dedup; here the distributed-friendly k-gram-anchored
    formulation with k = 8 tokens): a position is DUPLICATED when its
    8-token gram occurs in MORE THAN ONE document; per document,
    consecutive duplicated positions merge into maximal spans
    [span_start, span_end] (token indices, 1-based, span covers the
    last gram's 8 tokens). Downstream curation cuts these spans out of
    the training text instead of dropping whole near-dup documents —
    the grain dedup_exact / dedup_minhash cannot express.

    Scale shape at 100 TB: positions shuffle as (16-byte md5 digest,
    doc_id, pos) — never the gram text; the dup-gram set is a
    count-distinct hash aggregate at digest grain (map-side partials
    absorb hot boilerplate grams); membership is ONE digest-equality
    shuffle join (linear in occurrences — a gram in m docs marks m
    positions, never m² pairs); the run-merge window partitions by
    doc_id over MARKED positions only. No pairwise document join
    anywhere — this is the linear formulation of exact-substring
    dedup. Within-doc-only repeats are deliberately NOT marked (the
    distinct-doc predicate): self-repetition is text_repetition's
    grain, cross-doc contamination is this key's."""
    from pyspark.sql.window import Window

    k = 8
    # r11 (guide §2.5): per-position md5 digests are the heavy map
    # stage — spread the one-task scan (no-op when already parallel)
    docs = spread_scan(_docs(spark, sf_dir), "doc_id")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).filter(F.size("w") >= k)
    digs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - k + 1),
                lambda i: F.md5(F.array_join(F.slice(F.col("w"), i, k), " ")),
            )
        ).alias("p0", "g"),
    ).select("doc_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "g")
    dup = (
        digs.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g")
    )
    # SHUFFLE_HASH, not sort-merge: at web scale the dup-gram set
    # outgrows the broadcast threshold and the default SMJ pays a full
    # token-stream sort on a 16-byte digest (100× probe: 13× decade-2);
    # the hash build side is digest-only rows, which is exactly what
    # shuffled hash join wants. Re-probed 6.3× decade-2 (was 13×),
    # 62.9 → 20.1 s at 100× — data-bound linear.
    marked = digs.join(dup.hint("shuffle_hash"), "g").select("doc_id", "pos")
    wrun = Window.partitionBy("doc_id").orderBy("pos")
    return (
        marked.withColumn("grp", F.col("pos") - F.row_number().over(wrun))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


# ------------------------------------- r8.5: streaming near-dup ledger


def _minhash_ledger_oracle(num_hashes: int = 32) -> str:
    """Signature-grain group-by over the SAME bit-exact signature CTE
    as _minhash_oracle (generated from the shared coefficient
    function, so the engines cannot drift): one row per distinct
    32-hash MinHash signature, surviving doc = group min doc_id."""
    from ..functions.hashing import MINHASH_P, minhash_coeffs, sql_hash60

    mins = ",\n             ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    sig = ", ".join(f"h{i}" for i in range(num_hashes))
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLE3_SQL}) AS s
      FROM documents
    ), hx AS (
      SELECT doc_id, {sql_hash60('s')} % {MINHASH_P} AS x FROM sh
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM hx GROUP BY doc_id
    ), sigl AS (
      SELECT doc_id, [{sig}] AS mh FROM sig
    )
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_members
    FROM sigl GROUP BY mh
    """


@register(
    "streaming_minhash_dedup",
    oracle=_minhash_ledger_oracle(),
    tags=("dedup", "streaming", "incremental"),
)
def streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup dedup ledger — the online ingest shape of
    dedup_minhash: documents ARRIVE as a file stream (three doc_id-
    sharded parquet files drained one per micro-batch) and each
    micro-batch folds its MinHash signatures into a persistent
    signature LEDGER inside ``foreachBatch``: per-batch partials at
    signature grain (min doc_id, member count) stage to a per-batch_id
    dir with overwrite — idempotent under foreachBatch's at-least-once
    retries — and the final merge is a signature-grain (min, sum) over
    the staged partials, which is ORDER-INDEPENDENT (min/sum are
    commutative monoids), so the answer is identical whatever order
    batches arrive or retry in. The DuckDB oracle is the full-corpus
    BATCH answer (one row per distinct signature, survivor = group min
    doc_id), so a hash match PROVES streaming ledger ≡ batch recompute.

    Scale shape at 100 TB: each arriving batch pays exactly its own
    signature cost (shingle explode → 32 min-aggregates at doc grain,
    the r7 one-pass shape) plus a signature-grain partial — the corpus
    is NEVER rescanned; the ledger merge shuffles signature-grain rows
    only (32 longs + two counters per DISTINCT signature). Swapping
    the file source for Kafka changes one reader line. Chained
    aggregations (doc-grain signatures, then signature-grain groups)
    are exactly what Structured Streaming's single-agg limit forbids
    in one query — the foreachBatch ledger IS the idiomatic
    decomposition."""
    import os
    import time

    from ..operators.dedup import minhash_signatures
    from ..session import ensure_conf, scratch_dir
    from ..streaming.jobs import drain, land_arrivals

    ensure_conf(spark)
    t0 = time.perf_counter()
    docs_static = _docs(spark, sf_dir)
    root = scratch_dir("mh_stream")
    landing = os.path.join(root, "landing")
    ledger = os.path.join(root, "ledger")
    # three doc_id arrival shards, built in one corpus pass
    list(
        land_arrivals(
            docs_static.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(3))),
            "shard",
            range(3),
            landing,
        )
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            minhash_signatures(batch_df.select("doc_id", "text"))
            .groupBy("minhash")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.count(F.lit(1)).alias("cnt"),
            )
        )
        partial.write.mode("overwrite").parquet(f"{ledger}/batch={batch_id}")

    stream = (
        spark.readStream.schema(docs_static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(landing)
    )
    drain(
        stream.writeStream.foreachBatch(fold),
        "streaming_minhash_dedup",
        os.path.join(root, "ckpt"),
        t0,
    )
    led = spark.read.option("recursiveFileLookup", "true").parquet(ledger)
    return led.groupBy("minhash").agg(
        F.min("doc_id").alias("doc_id"), F.sum("cnt").alias("n_members")
    ).select("doc_id", "n_members")


# --------------------------------------------- r8.5: hybrid retrieval

@register(
    "search_hybrid_rrf",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM p
    ), q AS (
      SELECT unnest(['scan', 'vector', 'dup']) AS term
    ), tf AS (
      SELECT p.doc_id, q.term,
             len(list_filter(p.toks, x -> x = q.term)) AS tf,
             len(p.toks) AS dl
      FROM p CROSS JOIN q
    ), df AS (
      SELECT term, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df
      FROM tf GROUP BY term
    ), bm AS (
      SELECT t.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))
             ), 6) AS score
      FROM tf t JOIN df d USING (term) CROSS JOIN s
      WHERE t.tf > 0
      GROUP BY t.doc_id
    ), bm_top AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS rk
      FROM bm ORDER BY score DESC, doc_id LIMIT 20
    ), ex AS (
      SELECT doc_id, unnest(toks) AS term FROM p
    ), tfa AS (
      SELECT doc_id, term, COUNT(*) AS c FROM ex GROUP BY doc_id, term
    ), cosd AS (
      SELECT doc_id,
             ROUND(
               SUM(CASE WHEN term IN ('scan', 'vector', 'dup')
                        THEN c ELSE 0 END)
               / (SQRT(3.0) * SQRT(SUM(c * c))), 6) AS cos
      FROM tfa GROUP BY doc_id
      HAVING SUM(CASE WHEN term IN ('scan', 'vector', 'dup')
                      THEN c ELSE 0 END) > 0
    ), cos_top AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INTEGER)
               AS rk
      FROM cosd ORDER BY cos DESC, doc_id LIMIT 20
    ), fused AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             COALESCE(b.rk, 0) AS rk_bm25,
             COALESCE(c.rk, 0) AS rk_cos,
             (CASE WHEN b.rk IS NULL THEN 0 ELSE 1.0 / (60 + b.rk) END)
           + (CASE WHEN c.rk IS NULL THEN 0 ELSE 1.0 / (60 + c.rk) END)
               AS rrf
      FROM bm_top b FULL OUTER JOIN cos_top c USING (doc_id)
    )
    SELECT doc_id, ROUND(rrf, 6) AS rrf, rk_bm25, rk_cos
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("text", "retrieval", "vector"),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion — the standard
    two-retriever serving pattern (Cormack et al.'s RRF, k = 60, as
    shipped by every hybrid search stack): the LEXICAL list is
    text_bm25_topk's top-20 (same query, same Lucene-idf BM25), the
    SEMANTIC list is exact tf-cosine in full vocab space (query terms
    have tf 1, so the numerator is the doc's query-term token count
    and the denominator √3·‖d‖_tf — a true cosine retriever with no
    float model weights, hence fully SQL-oracle-able), and the fused
    score is Σ 1/(60 + rank) over the lists that retrieved the doc.
    Absent-from-list is encoded rank 0 (not NULL) so both engines
    agree on dtypes.

    Scale shape at 100 TB: both retrievers are corpus-linear — BM25's
    only corpus shuffle is the query-term-filtered (doc, term) count
    (see text_bm25_topk); the cosine side adds ONE (doc, term)-grain
    hash aggregate for the tf-norm (map-side combined) and a doc-grain
    reduce. The fusion itself touches 2×20 rows: broadcast-joinable at
    ANY corpus size — rank fusion cost is independent of the corpus.
    Ranks are computed on 6-dp-rounded scores with doc_id tie-breaks
    in BOTH engines, so list order — and therefore the fusion — cannot
    drift on float fold order."""
    from pyspark.sql.window import Window

    terms = ["scan", "vector", "dup"]
    bm_top = text_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rk").alias("rk_bm25")
    )
    d = _docs(spark, sf_dir)
    tfa = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qc = F.sum(F.when(F.col("term").isin(terms), F.col("c")).otherwise(F.lit(0)))
    cosd = (
        tfa.groupBy("doc_id")
        .agg(
            qc.alias("qnum"),
            F.sum(F.col("c") * F.col("c")).alias("norm2"),
        )
        .filter(F.col("qnum") > 0)
        .select(
            "doc_id",
            F.round(
                F.col("qnum") / (F.sqrt(F.lit(3.0)) * F.sqrt(F.col("norm2"))), 6
            ).alias("cos"),
        )
    )
    w_cos = Window.orderBy(F.col("cos").desc(), "doc_id")
    cos_top = (
        cosd.orderBy(F.col("cos").desc(), "doc_id")
        .limit(20)
        .withColumn("rk_cos", F.row_number().over(w_cos).cast("int"))
        .select("doc_id", "rk_cos")
    )
    fused = bm_top.join(cos_top, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("rk_bm25", F.lit(0)).alias("rk_bm25"),
        F.coalesce("rk_cos", F.lit(0)).alias("rk_cos"),
        (
            F.when(F.col("rk_bm25").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60) + F.col("rk_bm25"))
            )
            + F.when(F.col("rk_cos").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60) + F.col("rk_cos"))
            )
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
        .select("doc_id", F.round("rrf", 6).alias("rrf"), "rk_bm25", "rk_cos")
    )


@register(
    "dedup_substring_cut",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CAST(unnest(generate_series(1, len(w) - 7)) AS BIGINT) AS pos,
             unnest(list_transform(
               generate_series(1, len(w) - 7),
               i -> array_to_string(w[i:i+7], ' ')
             )) AS gram
      FROM toks WHERE len(w) >= 8
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    cov AS (
      SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + 7)) AS ti
      FROM marked
    ),
    tok AS (
      SELECT doc_id, unnest(w) AS tok,
             CAST(generate_subscripts(w, 1) AS BIGINT) AS ti
      FROM toks
    ),
    kept AS (
      SELECT t.doc_id, t.ti, t.tok
      FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.ti = c.ti
      WHERE c.ti IS NULL
    ),
    ka AS (
      SELECT doc_id, COUNT(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY ti) AS clean_text
      FROM kept GROUP BY doc_id
    ),
    tt AS (SELECT doc_id, len(w) AS total_tokens FROM toks)
    SELECT tt.doc_id,
           COALESCE(ka.kept_tokens, 0) AS kept_tokens,
           tt.total_tokens - COALESCE(ka.kept_tokens, 0) AS cut_tokens,
           COALESCE(ka.clean_text, '') AS clean_text
    FROM tt LEFT JOIN ka USING (doc_id)
    """,
    tags=("dedup", "text"),
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY dedup_substring_span: cut every cross-doc-duplicated
    8-gram-covered token out of every document and reassemble the
    surviving tokens in order — the curation ACTION behind the span
    report (exact-substring dedup removes every duplicated occurrence,
    per the training-data literature; whole-doc survivors are
    dedup_exact/minhash's grain). Docs shorter than the gram width or
    with no duplicated span pass through untouched; a fully-duplicated
    doc yields an empty clean_text (kept_tokens = 0), which downstream
    length filters then drop.

    Scale shape at 100 TB: identical front half to dedup_substring_span
    (digest-grain shuffles, SHUFFLE_HASH dup join, no pairwise doc
    join); the cut's token-grain machinery — the (doc, token-index)
    covered-set distinct, the anti-join at that grain, and the
    doc-grain reassembly — runs ONLY over docs that actually carry a
    duplicated span (semi-join on `touched`): a clean corpus pays the
    digest scan and then passes every doc through UNREWRITTEN
    (kept = total, cut = 0, clean_text = the verbatim rejoin, which is
    byte-identical to the original text because split-on-single-space
    preserves empty tokens). On an all-duplicated corpus the plan
    degenerates to the previous full-rewrite shape — the worst case
    the 100× probe measures; the mixed-duplication replica shows the
    passthrough. Reassembly order is pinned by the token index in BOTH
    engines (array_sort on (ti, tok) structs vs ORDER BY ti), so
    clean_text is byte-identical."""
    k = 8
    # r11 (guide §2.5): spread the one-task scan before the per-position
    # md5 map stage (no-op when already parallel)
    docs = spread_scan(_docs(spark, sf_dir), "doc_id")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    g8 = toks.filter(F.size("w") >= k)
    digs = g8.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - k + 1),
                lambda i: F.md5(F.array_join(F.slice(F.col("w"), i, k), " ")),
            )
        ).alias("p0", "g"),
    ).select("doc_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "g")
    dup = (
        digs.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g")
    )
    marked = digs.join(dup.hint("shuffle_hash"), "g").select("doc_id", "pos")
    cov = marked.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("ti"),
    ).distinct()
    # Only docs with ≥1 duplicated span need the token-grain rewrite;
    # everything else passes through below without exploding a single
    # token (VERDICT r8 item 2: clean corpora pay ~0 for the cut).
    # `touched` scales WITH the corpus on dup-heavy data, so it must
    # never be broadcast (the 100× all-dup replica OOMed the driver's
    # broadcast build) — pin every touched-join to shuffle-hash.
    touched = marked.select("doc_id").distinct().hint("shuffle_hash")
    tok = (
        toks.join(touched, "doc_id")
        .select("doc_id", F.posexplode("w").alias("i0", "tok"))
        .select("doc_id", (F.col("i0") + 1).cast("bigint").alias("ti"), "tok")
    )
    kept = tok.join(cov, ["doc_id", "ti"], "left_anti")
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ti", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    # A touched doc can still lose every token (fully duplicated), so
    # the left join + coalesce stays for the rewritten slice.
    rewritten = (
        toks.join(touched, "doc_id")
        .select("doc_id", F.size("w").cast("bigint").alias("total_tokens"))
        .join(ka, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            (
                F.col("total_tokens") - F.coalesce("kept_tokens", F.lit(0))
            ).alias("cut_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
    passthrough = toks.join(touched, "doc_id", "left_anti").select(
        "doc_id",
        F.size("w").cast("bigint").alias("kept_tokens"),
        F.lit(0).cast("bigint").alias("cut_tokens"),
        F.array_join("w", " ").alias("clean_text"),
    )
    return rewritten.unionByName(passthrough)


# Pair-join salt width for dedup_semantic_kmeans: parallelism = k·B.
# 8 is plenty for the gate corpus; production sizes B so the largest
# cluster's |g|²/B pair workload fits one task.
_SEM_BANDS = 8


def _semantic_kmeans_oracle() -> str:
    """Within-k-means-cluster cosine pairs over the SAME unrolled
    Lloyd's CTE chain that oracles the flagship kmeans_fit/predict
    keys (plans/kmeans_queries.py) — generated from the shared helper
    so the clustering cannot drift from the engine's."""
    from .kmeans_queries import K, N_ITER, _lloyd_ctes

    return f"""WITH {_lloyd_ctes(K, N_ITER)},
    asg AS (
      SELECT vec_id, cid, v FROM (
        SELECT p.vec_id, p.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                 list_aggregate(list_transform(list_zip(p.v, c.cvec),
                   z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum'), c.cid) AS rn
        FROM pts p CROSS JOIN c{N_ITER} c) WHERE rn = 1),
    m AS (
      SELECT vec_id, cid, v,
             sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
               AS nrm
      FROM asg)
    SELECT id_a, id_b, cid, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid AS cid,
             list_aggregate(list_transform(list_zip(a.v, b.v),
                                           z -> z[1] * z[2]), 'sum')
               / (a.nrm * b.nrm) AS cosine
      FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id)
    WHERE cosine >= 0.4
    """


@register(
    "dedup_semantic_kmeans",
    oracle=_semantic_kmeans_oracle(),
    tags=("dedup", "vector", "kmeans"),
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding corpus with the engine's OWN flagship K-Means (the exact
    Lloyd's pipeline of kmeans_fit/predict — assignments bit-match the
    unrolled-CTE oracle), then generate near-dup candidate pairs ONLY
    WITHIN clusters (cosine ≥ τ; τ = 0.4 here, matching
    dedup_embedding_cosine's demonstrative threshold on this
    no-true-near-dup synthetic corpus — production SemDeDup uses
    ~0.95, where near-identical vectors co-cluster by construction).

    This is the dedup family's answer to the all-pairs corridor:
    dedup_embedding_cosine is Θ(N²); clustering first cuts the pair
    space to Σ|cluster|² ≈ N²/k (measured ~12 k of ~125 k pairs at
    k = 10 on the gate corpus), and k grows with the corpus so cluster
    sizes stay bounded. Scale shape at 100 TB: the clustering is the
    flagship's linear 10-round fit; the pair join shuffles by
    (cid, band) where band = gid % _SEM_BANDS on the probe side and
    the build side is exploded across all bands — classic
    fragment-replicate self-join salting, so parallelism is k·B
    instead of k and one skewed cluster can no longer own a single
    fat task (VERDICT r8 item 5; output provably unchanged: each
    (a, b) pair meets exactly once, in b's band). Every cosine is a
    64-float sequential fold, bit-identical across engines (same
    order, same ops).

    EXACT-COLLAPSE discipline (r7 catch #7, applied here pre-commit):
    byte-identical vectors collapse to ONE group row before the pair
    join — identical vectors share an assignment (distance depends
    only on the vector), so the join runs at distinct-vector grain and
    every (copy_a, copy_b) pair expands MAP-SIDE after the cosine
    filter. Exact-dup-heavy corpora (and the 100× replica, where every
    vector has 100 copies) pay |distinct|²/k cosines instead of
    N²/k — the output pair count is unchanged, bit-for-bit."""
    from .kmeans_queries import kmeans_predict

    asg = kmeans_predict(spark, sf_dir).select("vec_id", "cid")
    e = _emb(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    m = e.select("vec_id", v.alias("v")).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    x = m.join(asg, "vec_id")
    grp = x.groupBy("v").agg(
        F.min("vec_id").alias("gid"),
        F.first("nrm").alias("nrm"),
        F.first("cid").alias("cid"),
        F.array_sort(F.collect_list("vec_id")).alias("members"),
    )

    def fold_cos(va, vb, na, nb):
        return (
            F.aggregate(
                F.zip_with(va, vb, lambda p, q: p * q),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )
            / (na * nb)
        )

    # Fragment-replicate salt: side A is replicated to every band,
    # side B lands in its own gid-derived band, so the equi-key is
    # (cid, band) — k·B shuffle keys instead of k. Work and output are
    # unchanged; each qualifying pair meets exactly once (in b's band).
    B = _SEM_BANDS
    # r11 (guide §2.5 post-shuffle parallelism): the join's exchanges
    # carry ~2k group rows (~1 MB), so AQE byte-coalescing collapses
    # them to ~1 partition — and the O(pairs·d) cosine fold, which runs
    # INSIDE the join stage and is invisible to the byte advisory, goes
    # single-core (measured: the fold is ~2 s of the key at sf0.1).
    # Explicit (cid, jb)-keyed repartitions at defaultParallelism on
    # both sides satisfy the join's clustering (no extra exchange) and
    # pin the fold stage to the core count; same salt keys, same pair
    # set, bit-identical output.
    par = spark.sparkContext.defaultParallelism
    ga = grp.withColumn(
        "jb",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(B - 1).cast("bigint"))
        ),
    ).repartition(par, "cid", "jb")
    gb = grp.withColumn(
        "jb", F.pmod(F.col("gid"), F.lit(B)).cast("bigint")
    ).repartition(par, "cid", "jb")
    cross = (
        ga.alias("a")
        .join(
            gb.alias("b"),
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.jb") == F.col("b.jb"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.cid").alias("cid"),
            fold_cos(
                F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
            ).alias("cosine"),
            F.col("a.members").alias("ma"),
            F.col("b.members").alias("mb"),
        )
        .filter(F.col("cosine") >= 0.4)
        .select("cid", "cosine", F.explode("ma").alias("ia"), "mb")
        .select("cid", "cosine", "ia", F.explode("mb").alias("ib"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "cid",
            "cosine",
        )
    )
    intra = (
        grp.filter(F.size("members") >= 2)
        .select(
            "cid",
            fold_cos(F.col("v"), F.col("v"), F.col("nrm"), F.col("nrm")).alias(
                "cosine"
            ),
            F.explode("members").alias("ia"),
            "members",
        )
        .select("cid", "cosine", "ia", F.explode("members").alias("ib"))
        .filter((F.col("ia") < F.col("ib")) & (F.col("cosine") >= 0.4))
        .select(
            F.col("ia").alias("id_a"), F.col("ib").alias("id_b"), "cid", "cosine"
        )
    )
    return cross.unionByName(intra)


_DSIR_B = 512  # hashed-feature buckets (paper: 10^4 hashed bigrams; B
#                scales with corpus — 512 keeps the gate corpus dense)
_DSIR_K = 100  # docs to select
_DSIR_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      FROM documents),
    b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {_DSIR_B}
               AS bk
      FROM tok),
    src AS (SELECT bk, COUNT(*) AS sc FROM b GROUP BY bk),
    tgt AS (SELECT bk, COUNT(*) AS tc FROM b WHERE lang = 'en' GROUP BY bk),
    tots AS (SELECT (SELECT SUM(sc) FROM src) AS st,
                    (SELECT SUM(tc) FROM tgt) AS tt),
    r AS (
      SELECT s.bk,
             ln((COALESCE(t.tc, 0) + 0.5) / (tots.tt + {_DSIR_B/2!r}))
             - ln((s.sc + 0.5) / (tots.st + {_DSIR_B/2!r})) AS lr
      FROM src s LEFT JOIN tgt t USING (bk) CROSS JOIN tots),
    dc AS (SELECT doc_id, bk, COUNT(*) AS n FROM b GROUP BY doc_id, bk),
    dw AS (
      SELECT doc_id,
             list_aggregate(list(dc.n * r.lr ORDER BY dc.bk), 'sum') AS logw
      FROM dc JOIN r USING (bk) GROUP BY doc_id),
    g AS (
      SELECT doc_id, logw,
             logw - ln(-ln(
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#g'),
                      1, 15)) AS BIGINT) + 1) / {float((1 << 60) + 1)!r}))
               AS gk
      FROM dw)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY gk DESC, doc_id) AS INTEGER)
             AS rank,
           doc_id, ROUND(logw, 6) AS logw, ROUND(gk, 6) AS gumbel_key
    FROM g ORDER BY gk DESC, doc_id LIMIT {_DSIR_K}
"""


@register("data_dsir_select", oracle=_DSIR_ORACLE, tags=("text", "sampling"))
def data_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): select pretraining documents whose hashed-feature
    distribution matches a target domain. Features = md5-hashed
    unigrams into B = 512 (``_DSIR_B``) buckets; target/source bag-of-buckets
    multinomials with +0.5 smoothing (target here: the corpus's 'en'
    slice); per-doc importance logw = Σ_b n_b·(ln p_b − ln q_b); the
    paper's Gumbel-top-k resampling made deterministic with the
    portable md5 coin (functions/hashing.py), so the ENTIRE selection
    is hash-verified against DuckDB.

    Scale shape at 100 TB: tokenize→bucket is map-side; the two
    distribution fits are B-group aggregates with map-side combine
    (B grows to ~10⁵ at web scale — still a broadcast-sized log-ratio
    table); per-doc scoring shuffles (doc, bucket)-grain integer
    counts once, joins the broadcast ratio table, and folds in a
    FIXED bucket order (array_sort fold ≡ DuckDB's ORDER BY list —
    bit-identical sums, the kmeans|| discipline); selection is a
    TakeOrderedAndProject top-k, never a full sort. One corpus read,
    one bounded shuffle, zero UDFs."""
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash60

    B, KSEL = _DSIR_B, _DSIR_K
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    bk = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("t"),
    ).select(
        "doc_id", "lang", (portable_hash60(F.col("t")) % B).alias("bk")
    )
    # ONE token-grain pass: everything downstream (both distribution
    # fits AND the per-doc scores) derives from the (doc, lang, bucket)
    # count table, which is checkpointed so the expensive explode is
    # never recomputed per branch — at 100 TB the corpus is read once
    dlb = (
        bk.groupBy("doc_id", "lang", "bk")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    src = dlb.groupBy("bk").agg(F.sum("n").alias("sc"))
    tgt = (
        dlb.filter(F.col("lang") == "en")
        .groupBy("bk")
        .agg(F.sum("n").alias("tc"))
    )
    r = (
        src.join(tgt, "bk", "left")
        .crossJoin(F.broadcast(src.agg(F.sum("sc").alias("st"))))
        .crossJoin(F.broadcast(tgt.agg(F.sum("tc").alias("tt"))))
        .select(
            "bk",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(0.5))
                    / (F.col("tt") + F.lit(B / 2.0))
                )
                - F.log(
                    (F.col("sc") + F.lit(0.5)) / (F.col("st") + F.lit(B / 2.0))
                )
            ).alias("lr"),
        )
    )
    dc = dlb.select("doc_id", "bk", "n")
    dw = (
        dc.join(F.broadcast(r), "bk")
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct("bk", (F.col("n") * F.col("lr")).alias("c"))
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("logw")
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#g"))),
                1, 15,
            ),
            16, 10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float((1 << 60) + 1))
    top = (
        dw.select("doc_id", "logw", (F.col("logw") - F.log(-F.log(u))).alias("gk"))
        .orderBy(F.col("gk").desc(), "doc_id")
        .limit(KSEL)
    )
    w = Window.orderBy(F.col("gk").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        F.round("logw", 6).alias("logw"),
        F.round("gk", 6).alias("gumbel_key"),
    )


# data_sequence_pack: budget and shard fan-out. Budget 256 tokens;
# capacity classes are the powers of two {32, 64, 128, 256}, so a
# class-c doc occupies exactly one of 256/c fixed slots and a packed
# sequence can never exceed the budget by construction.
_PACK_S = 256
_PACK_SHARDS = 16


@register(
    "data_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             LEAST(n_tokens, {_PACK_S}) AS tokens_used,
             CAST(CASE WHEN n_tokens <= 32 THEN 32
                       WHEN n_tokens <= 64 THEN 64
                       WHEN n_tokens <= 128 THEN 128
                       ELSE {_PACK_S} END AS BIGINT) AS cap_bucket,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#pack'),
                                  1, 15)) AS BIGINT) % {_PACK_SHARDS}
               AS shard,
             substr(md5(CAST(doc_id AS VARCHAR) || '#pack'), 1, 16) AS ord
      FROM t
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY shard, cap_bucket
                                ORDER BY ord, doc_id) AS rn
      FROM b
    )
    SELECT doc_id, shard, cap_bucket,
           CAST(FLOOR((rn - 1.0) / ({_PACK_S} / cap_bucket)) AS BIGINT)
             AS seq_id,
           CAST((rn - 1) % ({_PACK_S} / cap_bucket) AS BIGINT) AS pos_in_seq,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(tokens_used AS BIGINT) AS tokens_used
    FROM r
    """,
    tags=("data", "llm"),
)
def data_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING into fixed-budget training rows — the last
    operator every LLM data pipeline runs before batching: each doc is
    assigned WHOLE (truncated at the budget, never straddling — the
    complement of text_pack's offset-bin packing) to one slot of one
    packed sequence of ≤ _PACK_S = 256 tokens. Deterministic
    first-fit within md5-salted shards: a doc's capacity class is the
    smallest power-of-two ≥ its length (min 32), giving 256/c fixed
    slots per sequence, so slot assignment is pure window math —
    row_number over (shard, class), ordered by the doc's md5 (a
    deterministic pseudo-random permutation both engines compute
    identically) — and the greedy fill is SQL-oracle-able instead of
    inherently sequential. Waste is bounded: a class-c doc fills
    > c/2 of its slot (except the bottom class), so fill ratio ≥ ~50%
    on any corpus, and the pytest pins the measured packing
    efficiency.

    Scale shape at 100 TB: one narrow projection (doc_id, n_tokens),
    ONE shuffle on (shard, class) — shard count scales with the
    cluster so window partitions stay ~|corpus|/shards — and a
    row_number walk per partition; no joins, no skew (md5 sharding is
    uniform), sequence ids are (shard, class)-local so no global
    coordination anywhere. Rows are 7 fixed-width integers."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    md = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#pack")))
    n = F.size(F.split("text", " ")).cast("bigint")
    b = d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.least(n, F.lit(_PACK_S)).cast("bigint").alias("tokens_used"),
        F.when(n <= 32, 32)
        .when(n <= 64, 64)
        .when(n <= 128, 128)
        .otherwise(_PACK_S)
        .cast("bigint")
        .alias("cap_bucket"),
        F.pmod(
            F.conv(F.substring(md, 1, 15), 16, 10).cast("bigint"),
            F.lit(_PACK_SHARDS),
        ).alias("shard"),
        F.substring(md, 1, 16).alias("ord"),
    )
    rn = F.row_number().over(
        Window.partitionBy("shard", "cap_bucket").orderBy("ord", "doc_id")
    )
    cap = F.lit(_PACK_S) / F.col("cap_bucket")
    return b.withColumn("rn", rn).select(
        "doc_id",
        "shard",
        "cap_bucket",
        F.floor((F.col("rn") - 1) / cap).cast("bigint").alias("seq_id"),
        ((F.col("rn") - 1) % cap).cast("bigint").alias("pos_in_seq"),
        "n_tokens",
        "tokens_used",
    )


_RSV_K = 5


@register(
    "sample_reservoir_group",
    oracle=f"""
    SELECT lang, rk, doc_id FROM (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#rs'),
                     1, 15)) AS BIGINT), doc_id) AS INTEGER) AS rk
      FROM documents)
    WHERE rk <= {_RSV_K}
    """,
    tags=("sampling", "text"),
)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k per-stratum reservoir sample (k = 5 docs per language),
    deterministic: rank by the portable md5 coin of 'doc_id#rs' within
    each stratum and keep the k smallest — equivalent in distribution
    to a uniform reservoir but reproducible, partitioning-invariant,
    and cross-engine verifiable, where rand()-seeded reservoirs are
    none of those. Complements sample_hash_stratified (Bernoulli
    THRESHOLD sampling: keeps a fixed FRACTION, count varies) with the
    fixed-COUNT guarantee quota pipelines need.

    Scale shape at 100 TB: per-group top-k is WindowGroupLimit-pruned
    (asserted on the executed plan — partial limit before the shuffle,
    final after), so each map task forwards at most k rows per stratum
    and the exchange carries O(strata·k·partitions), never the corpus.
    No full sort, no single-partition stage."""
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash60

    d = _docs(spark, sf_dir).select("lang", "doc_id")
    key = portable_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit("#rs"))
    )
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    out = (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _RSV_K)
        .select("lang", "rk", "doc_id")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "WindowGroupLimit" not in plan:
        raise RuntimeError(
            "sample_reservoir_group: per-stratum top-k lost its "
            "WindowGroupLimit pushdown — the exchange would carry the corpus"
        )
    return out


@register(
    "sim_hard_negatives",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM n ORDER BY vec_id LIMIT 10),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                            p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')
               / (q.nrm * c.nrm) AS cosine
      FROM q JOIN n c ON c.vec_id <> q.vec_id)
    SELECT q_id, n_id, cosine, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT q_id, n_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, n_id) AS rk
      FROM scored WHERE cosine >= 0.3 AND cosine < 0.9
    ) WHERE rk <= 3
    """,
    tags=("vector",),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor, the top-3 most-similar corpus vectors inside the band
    0.3 ≤ cosine < 0.9 — similar enough to be informative negatives,
    but the ≥0.9 ceiling excludes near-duplicates that would be FALSE
    negatives (the standard in-batch-negatives curation rule; the
    ceiling is dedup_embedding_cosine's near-dup regime, the floor
    drops uninformative pairs).

    Scale shape at 100 TB: identical to sim_cosine_topk's exact
    baseline — anchors broadcast, corpus never shuffles, band filter
    evaluates map-side BEFORE the per-anchor top-k
    (WindowGroupLimit-pruned), so the rank exchange carries only
    in-band survivors; the production corpus-scale path swaps stage 1
    for the bucketed ANN probe (sim_ann_repartitioned) exactly as
    pipeline_rag_rerank does."""
    from pyspark.sql.window import Window

    from ..functions.vectors import cosine_sim

    e = _emb(spark, sf_dir)
    q = e.orderBy("vec_id").limit(10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    c = e.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
    )
    sim = cosine_sim(F.col("q_vec"), F.col("n_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", sim.alias("cosine"))
        .filter((F.col("cosine") >= 0.3) & (F.col("cosine") < 0.9))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "n_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "n_id", "cosine", F.col("rk").cast("int").alias("rk"))
    )


def _phash_dedup_oracle(bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB replica of the banded image-dHash near-dup join: per-doc
    gradient bits recomputed from the fixture pixel formulas (the
    multimodal_phash oracle's grid), then the same band-bucket join and
    hamming cut. With 64 bits in 4 bands, hamming ≤ 3 pairs ALWAYS
    agree on ≥ 1 full band (pigeonhole), so banding loses nothing and
    the pair set is exactly all-pairs-hamming≤3."""
    width = 64 // bands
    return f"""
    WITH g AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
      FROM documents
    ), grid AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, 71), t ->
               (doc_id * 31
                + (((t // 9) * h // 8) * w + ((t % 9) * w // 9)) * 7
               ) % 256) AS p
      FROM g
    ), bits AS (
      SELECT doc_id,
             list_transform(generate_series(0, 63), t ->
               CASE WHEN p[(t // 8) * 9 + (t % 8) + 1]
                         < p[(t // 8) * 9 + (t % 8) + 2]
                    THEN 1 ELSE 0 END) AS b
      FROM grid
    ), banded AS (
      SELECT doc_id, b, g2.k AS band,
             b[(g2.k*{width}+1):(g2.k*{width}+{width})] AS bucket
      FROM bits CROSS JOIN
           (SELECT unnest(generate_series(0, {bands - 1})) AS k) g2
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             CAST(len(list_filter(list_zip(a.b, c.b), p -> p[1] <> p[2]))
                  AS INTEGER) AS hamming
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


@register(
    "multimodal_phash_dedup",
    oracle=_phash_dedup_oracle(),
    tags=("multimodal", "dedup"),
)
def multimodal_phash_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    fresh_pixels: bool = False,
    entropic_pixels: bool = False,
) -> DataFrame:
    """IMAGE near-dup pairs — banded dHash LSH over REAL decoded PNG
    pixels: the multimodal answer to dedup_simhash (byte-exact image
    dedup is multimodal_dedup_hash; THIS catches re-encoded/resampled
    visual duplicates). 64 gradient bits keyed by Manku-style 3-of-6
    block combinations (20 ~32-bit keys/signature; see the inline
    design note); images sharing any full key pair up; pairs at
    hamming ≤ 3 survive. Pigeonhole makes the keying LOSSLESS at this
    cut (≤3 flipped bits leave ≥3 of 6 blocks clean), so the output is
    exactly all-pairs-hamming≤3 — which is what the DuckDB oracle
    computes from the fixture pixel formulas.

    EXACT-COLLAPSE discipline (r7 catch #7): identical dHashes group
    to ONE row before banding, the band self-join runs at
    distinct-hash grain (gid < gid), and member doc_ids expand
    MAP-SIDE after the hamming cut — exact-dup-heavy image corpora
    (the sf0.1 fixtures contain true byte-identical images at
    doc_id ≡ doc_id' mod 36608) never inflate the join. Hamming is
    two bit_count(xor) ops on 32-bit halves — codegen integer math,
    no char loops. Scale shape: decode+hash is the embarrassingly
    parallel Arrow pass multimodal_phash probes at 100×; the only
    shuffles are the hash-grain collapse and the 16-bit-bucket band
    join — dedup_simhash's probed-linear shape at image grain.

    ``fresh_pixels`` (probe-only knob, VERDICT r8 item 6): the fixture
    pixel formula cycles every lcm(13, 11, 256) = 36,608 doc_ids, so a
    100× replica saturates the image space and the doc-grain pair
    OUTPUT itself becomes Θ(copies²) — a fixture artifact. With
    fresh_pixels the synthesis id is xxhash64-mixed to decorrelate the
    byte-identity cycle — but the synthetic image space itself only
    spans ~1.9k distinct dHash classes at sf0.1 (measured r9), so at
    100× the DOC-GRAIN pair output is still Θ(collisions²) ≈ 10⁹ rows:
    no plan avoids materializing its own output (the first fresh probe
    attempt ground on exactly that map-side expansion). The probe
    variant therefore returns the GROUP-grain result — (gid_a, gid_b,
    hamming, n_pairs = |ma|·|mb|) plus intra-group C(n,2) rows — which
    exercises every decode, collapse, band-bucket shuffle, join and
    hamming cut in the plan while the doc-grain expansion (a pure
    map-side explode, linear in its own output) is accounted by
    n_pairs instead of materialized. The registered key never sets
    it.

    ``entropic_pixels`` (probe-only knob, r11 — VERDICT r10 item 2)
    supersedes fresh_pixels as the scale probe: PRNG rasters make
    |distinct images| ∝ |docs| with 2% planted byte-identical dups, so
    the REGISTERED doc-grain output scales linearly and the probe is
    un-caveated — it measures the true production shape (distinct
    class space growing with the corpus), which is exactly the regime
    where the 16-bit single-block bands kneed and the 3-of-6
    combination keys hold."""
    docs = _docs(spark, sf_dir)
    if fresh_pixels:
        docs = docs.select(F.xxhash64("doc_id").alias("doc_id"))
    if entropic_pixels:
        # probe-only keyspace-scaled corpus (VERDICT r10 item 2): PRNG
        # rasters keyed on content_id make |distinct images| ∝ |docs|
        # (real-growth shape — the gradient fixture cycles at 36,608),
        # with planted byte-identical dups at 2% density (doc_id ≡ 1
        # mod 50 reuses the previous id's content) so the doc-grain
        # pair output scales LINEARLY and the registered output grain
        # itself is probeable — no group-grain accounting needed.
        media = MM.to_image_table(
            docs.select(
                "doc_id",
                (
                    F.col("doc_id")
                    - F.when(F.col("doc_id") % 50 == 1, 1).otherwise(0)
                ).alias("content_id"),
            ),
            content_col="content_id",
            entropic=True,
        )
    else:
        media = MM.to_image_table(docs)
    ph = MM.dhash_image_media(media, hash_w=8, hash_h=8).select(
        "doc_id", "dhash"
    )
    # lazily checkpointed: the decode+hash pass materializes ONCE for
    # its several consumers (band rows, the two member joins, intra)
    grp = ph.groupBy("dhash").agg(
        F.min("doc_id").alias("gid"),
        F.sort_array(F.collect_list("doc_id")).alias("members"),
    ).localCheckpoint(eager=False)
    h = grp.select(
        "dhash",
        "gid",
        "members",
        F.conv(F.substring("dhash", 1, 32), 2, 10).cast("bigint").alias("h1"),
        F.conv(F.substring("dhash", 33, 32), 2, 10).cast("bigint").alias("h2"),
    )
    # Block-combination banding (Manku, Jain & Das Sarma, WWW'07 §3 —
    # the production simhash-at-Google table design): 64 bits split
    # into 6 blocks (11,11,11,11,10,10); each signature emits C(6,3) =
    # 20 keys, one per 3-block combination (~32-bit key). Lossless for
    # hamming ≤ 3: ≤3 flipped bits leave ≥3 blocks clean, so some
    # 3-subset of clean blocks matches exactly. vs the previous 4×16
    # single-block bands: 5× more build rows (linear, small) but the
    # birthday-collision candidate rate drops from n²·4/2^16 to
    # n²·20/2^32 — the 16-bit buckets were the quadratic knee the
    # entropic keyspace-scaled probe exposed once |distinct images|
    # actually grew with the corpus (r11; fixture corpora hid it
    # behind the exact-collapse).
    from itertools import combinations as _combos

    _blk = [(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)]
    # band rows carry ONLY (gid, h1, h2): the 20-key explode must not
    # replicate member arrays 20× through the shuffle; members join
    # back at the far smaller post-cut pair grain below
    bands = h.select(
        "gid",
        "h1",
        "h2",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("band"),
                        F.concat(
                            *[
                                F.substring(
                                    "dhash", 1 + _blk[b][0], _blk[b][1]
                                )
                                for b in combo
                            ]
                        ).alias("bucket"),
                    )
                    for ci, combo in enumerate(_combos(range(6), 3))
                ]
            )
        ).alias("bb"),
    ).select("gid", "h1", "h2", "bb.band", "bb.bucket")
    ham = F.bit_count(
        F.col("a.h1").bitwiseXOR(F.col("b.h1"))
    ) + F.bit_count(F.col("a.h2").bitwiseXOR(F.col("b.h2")))
    gmap = grp.select("gid", "members")
    cross = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .groupBy(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .agg(F.first(ham).alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .join(
            gmap.select(F.col("gid").alias("ga"), F.col("members").alias("ma")),
            "ga",
        )
        .join(
            gmap.select(F.col("gid").alias("gb"), F.col("members").alias("mb")),
            "gb",
        )
    )
    if fresh_pixels:
        # probe-only group-grain output (see docstring): every shuffle
        # and join above still runs; the doc-grain explode is replaced
        # by its row-count accounting
        gcross = cross.select(
            F.col("ga").alias("id_a"),
            F.col("gb").alias("id_b"),
            F.col("hamming").cast("int").alias("hamming"),
            (F.size("ma").cast("bigint") * F.size("mb")).alias("n_pairs"),
        )
        gintra = grp.filter(F.size("members") >= 2).select(
            F.col("gid").alias("id_a"),
            F.col("gid").alias("id_b"),
            F.lit(0).alias("hamming"),
            (
                F.size("members").cast("bigint")
                * (F.size("members") - 1)
                / 2
            ).cast("bigint").alias("n_pairs"),
        )
        return gcross.unionByName(gintra)
    cross = (
        cross.select("hamming", F.explode("ma").alias("ia"), "mb")
        .select("hamming", "ia", F.explode("mb").alias("ib"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )
    intra = (
        grp.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("ia"), "members")
        .select("ia", F.explode("members").alias("ib"))
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(intra)


# ---------------------------------------------- Bloom-prefilter dedup

_BLOOM_M = 1 << 18  # filter bits; production sizes m ≈ 10·|distinct grams|
_BLOOM_K = 2  # hash functions

_BLOOM_SH = """
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
             )) AS sh
      FROM documents"""

_BLOOM_ORACLE = f"""
    WITH d AS ({_BLOOM_SH}
    ), baseg AS (
      SELECT DISTINCT unnest(sh) AS g FROM d WHERE doc_id % 10 <> 7
    ), bits AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(g || '#b' || CAST(j AS VARCHAR)),
                            1, 15)) AS BIGINT) % {_BLOOM_M} AS bit
      FROM baseg CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS j)
    ), probe AS (
      SELECT doc_id, unnest(sh) AS g FROM d WHERE doc_id % 10 = 7
    ), marked AS (
      SELECT doc_id, g,
             (CAST(('0x' || substr(md5(g || '#b0'), 1, 15)) AS BIGINT)
                % {_BLOOM_M} IN (SELECT bit FROM bits)
              AND CAST(('0x' || substr(md5(g || '#b1'), 1, 15)) AS BIGINT)
                % {_BLOOM_M} IN (SELECT bit FROM bits)) AS bloom,
             g IN (SELECT g FROM baseg) AS exact
      FROM probe
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (bloom) AS BIGINT) AS bloom_hits,
           CAST(COUNT(*) FILTER (exact) AS BIGINT) AS exact_hits,
           CAST(COUNT(*) FILTER (bloom AND NOT exact) AS BIGINT) AS false_pos
    FROM marked GROUP BY doc_id
"""


@register(
    "dedup_bloom_prefilter",
    oracle=_BLOOM_ORACLE,
    tags=("text", "dedup"),
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter PRE-FILTER for cross-snapshot n-gram decontamination
    (Bloom 1970; the production recipe for checking a new crawl batch
    against a 100 TB base corpus WITHOUT joining the corpora): the base
    side folds its distinct 5-gram shingles into a fixed-size bit set
    (m = 2^18, k = 2 md5-derived positions — engine-portable, so the
    whole filter is hash-verifiable); each batch doc then counts, per
    distinct gram, Bloom candidates vs exact matches vs false
    positives. Docs with doc_id % 10 = 7 stand in for the new batch.

    Why this is THE 100 TB shape: the bit set is capped at m rows no
    matter how large the base corpus grows — it broadcasts by
    construction (a Bloom filter's entire point), so the batch probe is
    a pure map + ONE broadcast bit lookup (each gram's k positions
    explode to bit rows, present-count = k ⇒ candidate); the base
    corpus is scanned once per phase (bit-set build, exact confirm) and
    never shuffled at corpus-gram grain. The exact-confirm join — the step Bloom
    exists to avoid doing at corpus×batch grain — runs ONLY over
    bloom-POSITIVE grams (true dups + the fp rate the filter was sized
    for, NOT proportional to the batch): the base stream is semi-joined
    against that broadcast candidate set and the survivors broadcast
    back. Bloom has no false negatives (exact ⊆ bloom — pinned by
    pytest), so non-candidates need no confirmation; false_pos measures
    the fill factor both engines compute identically.

    r11 (guide §1 — measured, kept as-is structurally): a restructure
    replacing the probe's explode→broadcast-join→(doc_id,g) aggregate
    with k per-position broadcast bit-lookups was tried and measured
    WORSE (14.9 s vs 9.7 s fresh-JVM): the k join builds do NOT
    collapse into one ReusedExchange, so each broadcast re-ran the
    full base bit-set pass. One broadcast + one probe-grain aggregate
    is the right shape. This key's r11 win comes from the let-bound
    shingles fix in functions/text.py (the corpus passes are
    shingle-dominated)."""
    from ..functions.hashing import portable_hash60
    # r11 (guide §2.5): both corpus passes are shingle+md5-dominated
    # map stages — spread the one-task scan (no-op when already
    # parallel)
    d = spread_scan(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", TX.shingles(F.col("text"), 5).alias("sh")
    )
    baseg = (
        d.where(F.col("doc_id") % 10 != 7)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    probe = d.where(F.col("doc_id") % 10 == 7).select(
        "doc_id", F.explode("sh").alias("g")
    )

    def bit(col, j):
        return portable_hash60(F.concat(col, F.lit(f"#b{j}"))) % _BLOOM_M

    bitarr = lambda col: F.array(  # noqa: E731 — shared by build & probe
        *[bit(col, j) for j in range(_BLOOM_K)]
    )
    bits = (
        baseg.select(F.explode(bitarr(F.col("g"))).alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    # localCheckpoint: bloomed feeds BOTH the candidate set and the
    # final mark join — without it Spark duplicates the whole probe
    # subtree (two corpus scans + two bit joins, seen in the r9 plan
    # audit). The checkpointed row is (doc_id, g, bloom) at batch-gram
    # grain — the probe side's working set, spillable per partition.
    bloomed = (
        probe.select("doc_id", "g", F.explode(bitarr(F.col("g"))).alias("bit"))
        .join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id", "g")
        .agg((F.sum("present") == _BLOOM_K).alias("bloom"))
        .localCheckpoint(eager=False)
    )
    # exact-confirm ONLY the bloom candidates: bounded by true-dup +
    # false-positive rate (the filter's sizing), not by batch size
    cand = bloomed.filter(F.col("bloom")).select("g").distinct()
    matched = baseg.join(F.broadcast(cand), "g", "left_semi").withColumn(
        "exact", F.lit(1)
    )
    marked = bloomed.join(F.broadcast(matched), "g", "left").select(
        "doc_id",
        F.coalesce(F.col("bloom"), F.lit(False)).alias("bloom"),
        F.col("exact").isNotNull().alias("exact"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_if(F.col("bloom")).alias("bloom_hits"),
        F.count_if(F.col("exact")).alias("exact_hits"),
        F.count_if(F.col("bloom") & ~F.col("exact")).alias("false_pos"),
    )


# ------------------------------------------ temperature-scaled mixing

_TEMP_ALPHA = 0.5  # temperature exponent (τ = 1/α = 2)
_TEMP_TWO60 = float(1 << 60)

_TEMP_ORACLE = f"""
    WITH g AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY lang
    ), t AS (
      SELECT SUM(n_docs) AS total, SUM(sqrt(CAST(n_docs AS DOUBLE))) AS ssq
      FROM g
    ), r AS (
      SELECT lang, n_docs,
             CAST(n_docs AS DOUBLE) / total AS share,
             sqrt(CAST(n_docs AS DOUBLE)) / ssq AS q,
             LEAST(1.0, (sqrt(CAST(n_docs AS DOUBLE)) / ssq) * total
                        / CAST(n_docs AS DOUBLE)) AS rate
      FROM g CROSS JOIN t
    ), sel AS (
      SELECT d.lang, CAST(COUNT(*) FILTER (
               CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                 || '#temp'), 1, 15)) AS BIGINT) AS DOUBLE)
               / {_TEMP_TWO60!r} < r.rate) AS BIGINT) AS selected
      FROM documents d JOIN r ON d.lang = r.lang GROUP BY d.lang
    )
    SELECT r.lang, r.n_docs, ROUND(r.share, 6) AS share,
           ROUND(r.q, 6) AS target_share, ROUND(r.rate, 6) AS rate,
           s.selected
    FROM r JOIN sel s ON r.lang = s.lang
"""


@register(
    "data_temperature_mix",
    oracle=_TEMP_ORACLE,
    tags=("text", "sampling"),
)
def data_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling — the multilingual-corpus
    mixing recipe (sample domain l with probability ∝ p_l^α, α = 0.5
    here, i.e. τ = 2): computes each language's raw share, the
    temperature-flattened target share q_l = √n_l / Σ√n_l, the
    per-domain acceptance rate min(1, q_l·N/n_l) that resamples the
    corpus to the same total under the new mix, and EXECUTES the plan
    with the repo's content-stable md5 coin (u(doc) < rate ⇒ keep) so
    selection is deterministic, replayable, and hash-verified
    cross-engine. Complements domain_mix_rebalance (uniform-cap plan).

    Scale shape: two corpus passes, both map-side — pass 1 is a
    |domains|-group count (map-side combine), pass 2 re-scans with the
    ≤|domains|-row rate table BROADCAST and folds the coin filter into
    the same |domains|-group aggregate. No corpus shuffle, no collect;
    q's Σ√p fold is a ~|domains|-element double sum whose partial
    order can differ cross-engine by ~1 ulp — the same knife-edge
    tolerance class the kmeans|| coin documents (flip odds ~1e-10 at
    the 6 dp hash rounding)."""
    from ..functions.hashing import portable_hash60

    d = _docs(spark, sf_dir)
    g = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = g.agg(
        F.sum("n_docs").alias("total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("ssq"),
    )
    q = F.sqrt(F.col("n_docs").cast("double")) / F.col("ssq")
    # localCheckpoint: r feeds both the coin pass and the final join —
    # without it the |domains|-group corpus aggregate re-runs per use
    # (r9 plan audit found the g subtree duplicated = 3 corpus scans).
    r = (
        g.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("total")).alias("share"),
            q.alias("q"),
            F.least(
                F.lit(1.0), q * F.col("total") / F.col("n_docs").cast("double")
            ).alias("rate"),
        )
        .localCheckpoint(eager=False)
    )
    u = (
        portable_hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit("#temp"))
        ).cast("double")
        / F.lit(_TEMP_TWO60)
    )
    sel = (
        d.join(F.broadcast(r.select("lang", "rate")), "lang")
        .groupBy("lang")
        .agg(F.count_if(u < F.col("rate")).alias("selected"))
    )
    return r.join(sel, "lang").select(
        "lang",
        "n_docs",
        F.round("share", 6).alias("share"),
        F.round("q", 6).alias("target_share"),
        F.round("rate", 6).alias("rate"),
        "selected",
    )


# ------------------------------- r10: content-defined chunking dedup

# CDC parameters: boundary window W chars, divisor D => expected chunk
# length ~D chars (plus the forced end-of-doc boundary).
_CDC_W = 16
_CDC_D = 64

# shared chunking CTE chain (doc -> boundary positions -> chunks) used
# by the full-corpus key and the incremental chunk-store twin — one
# definition so the two oracles cannot drift apart
_CDC_CTE = f"""d AS (
      SELECT doc_id, lang, text FROM documents WHERE length(text) > 0
    ),
    pos AS (
      SELECT doc_id, text,
             unnest(generate_series({_CDC_W}, length(text))) AS p
      FROM d WHERE length(text) >= {_CDC_W}
    ),
    hits AS (
      SELECT doc_id, p FROM pos
      WHERE CAST(('0x' || substr(md5(substr(text, p - {_CDC_W - 1},
                                            {_CDC_W})), 1, 15)) AS BIGINT)
            % {_CDC_D} = 0
        AND p < length(text)
    ),
    bounds AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p FROM hits
      UNION ALL
      SELECT doc_id, CAST(length(text) AS BIGINT) AS p FROM d
    ),
    spans AS (
      SELECT doc_id, p,
             COALESCE(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1
               AS s
      FROM bounds
    ),
    chunks AS (
      SELECT sp.doc_id, d.lang,
             md5(substr(d.text, CAST(sp.s AS INT),
                        CAST(sp.p - sp.s + 1 AS INT))) AS digest,
             sp.p - sp.s + 1 AS clen
      FROM spans sp JOIN d USING (doc_id)
    )"""

_CDC_ORACLE = f"""
    WITH {_CDC_CTE},
    g AS (
      SELECT lang, digest, COUNT(*) AS occ, MIN(clen) AS clen
      FROM chunks GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(occ) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(occ * clen) AS BIGINT) AS chars_total,
           CAST(SUM(clen) AS BIGINT) AS chars_unique,
           ROUND(1 - CAST(SUM(clen) AS DOUBLE) / SUM(occ * clen), 6)
             AS dedup_ratio
    FROM g GROUP BY lang
"""


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Chunk-grain frame (doc_id, lang, ord, digest, clen) for a
    (doc_id, lang, text) frame — shared by the registered key and the
    boundary/shift tests. ``ord`` is the chunk's 1-based order within
    the doc (derived from the boundary window, free)."""
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash60
    from ..sources.tables import spread_scan

    # r11 (guide §2.5): the per-position rolling-hash filter below is
    # Θ(chars) md5 work in the scan stage — spread a one-task scan
    # across cores first (no-op when already parallel). Measured
    # 2.63 s → 0.71 s at sf0.1.
    d = spread_scan(
        docs.filter(F.length("text") > 0).select("doc_id", "lang", "text"),
        "doc_id",
    )
    hits = (
        # mirror the oracle's `length(text) >= W` guard on the
        # candidate-position side (ADVICE r10): without it, a short doc
        # relies on F.sequence(W, len) producing a DESCENDING range
        # whose bogus positions are only culled by the p < length
        # filter below — after paying an md5 per bogus position. Short
        # docs still emit their whole-doc chunk via the sentinel union.
        d.filter(F.length("text") >= _CDC_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(_CDC_W), F.length("text"))
            ).alias("p"),
            F.col("text"),
        )
        .filter(
            portable_hash60(
                F.expr(f"substring(text, p - {_CDC_W - 1}, {_CDC_W})")
            )
            % _CDC_D
            == 0
        )
        # drop a content boundary landing exactly on end-of-doc: the
        # sentinel below re-adds it, and the disjointness makes the
        # union duplicate-free BY CONSTRUCTION — no distinct, one
        # fewer full exchange of the boundary rows (plan-audited r10)
        .filter(F.col("p") < F.length("text"))
        .select("doc_id", F.col("p").cast("bigint").alias("p"))
    )
    bounds = hits.union(
        d.select("doc_id", F.length("text").cast("bigint").alias("p"))
    )
    wb = Window.partitionBy("doc_id").orderBy("p")
    spans = bounds.select(
        "doc_id",
        "p",
        (F.coalesce(F.lag("p").over(wb), F.lit(0)) + 1).alias("s"),
        F.row_number().over(wb).alias("ord"),
    )
    return spans.join(d, "doc_id").select(
        "doc_id",
        "lang",
        "ord",
        F.md5(F.expr("substring(text, CAST(s AS INT), CAST(p - s + 1 AS INT))")).alias(
            "digest"
        ),
        (F.col("p") - F.col("s") + 1).alias("clen"),
    )


@register("dedup_cdc_chunks", oracle=_CDC_ORACLE, tags=("dedup", "text"))
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup — the storage-side member of the
    dedup family (LBFS, Muthitacharoen et al. SOSP 2001; gear/FastCDC
    lineage): a chunk boundary falls after position p iff the rolling
    hash of the last W=16 chars ending at p is 0 mod D=64, so
    boundaries depend ONLY on local content. Insert a byte anywhere
    and every boundary outside the W-char neighborhood of the edit
    stays on the same CONTENT — downstream chunks keep their digests
    (the shift-resistance fixed-size blocking lacks; pinned in
    tests/test_llm.py). Dedup then happens at chunk grain: per lang,
    total vs distinct chunks and the chars a chunk store would
    actually keep. The rolling hash here is the repo's portable md5
    coin over the exact W-char window (a production chunker uses
    gear/Rabin for O(1) sliding; gear's h<<1 decay makes it a
    fixed-window hash of the last 64 bytes TOO — the md5 formulation
    has identical boundary semantics and is engine-portable, so chunk
    membership is hash-verified against DuckDB end to end).

    Scale shape at 100 TB: the position explode is Θ(chars) but
    entirely map-side — the boundary filter (1/D pass rate) runs
    inside the scan stage projection, so only ~chars/64 boundary rows
    (doc_id, pos) ever shuffle for the per-doc ordering window; the
    span table re-joins text ONCE at doc grain (shuffle-hash, linear);
    chunk digests fold in a (lang, digest) hash aggregate with
    map-side combine. No pairwise anything. dedup_exact is the
    doc-grain twin, dedup_substring_span the span-grain one; this is
    the grain a dedup STORE (chunk lake / CAS) operates at."""
    return (
        cdc_chunks(_docs(spark, sf_dir).select("doc_id", "lang", "text"))
        .groupBy("lang", "digest")
        .agg(F.count(F.lit(1)).alias("occ"), F.min("clen").alias("clen"))
        .groupBy("lang")
        .agg(
            F.sum("occ").cast("bigint").alias("n_chunks"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            F.sum(F.col("occ") * F.col("clen")).cast("bigint").alias(
                "chars_total"
            ),
            F.sum("clen").cast("bigint").alias("chars_unique"),
        )
        .withColumn(
            "dedup_ratio",
            F.round(
                1.0 - F.col("chars_unique") / F.col("chars_total"), 6
            ),
        )
    )


_CDC_INC_ORACLE = f"""
    WITH {_CDC_CTE},
    base AS (SELECT DISTINCT digest FROM chunks WHERE doc_id % 3 <> 0),
    delta AS (SELECT * FROM chunks WHERE doc_id % 3 = 0),
    flagged AS (
      SELECT del.lang, del.digest, del.clen,
             (b.digest IS NOT NULL) AS known
      FROM delta del LEFT JOIN base b USING (digest)
    ),
    newu AS (
      SELECT lang, digest, MIN(clen) AS clen
      FROM flagged WHERE NOT known GROUP BY 1, 2
    ),
    occ AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(*) FILTER (known) AS BIGINT) AS n_known,
             CAST(SUM(clen) AS BIGINT) AS chars_total
      FROM flagged GROUP BY 1
    )
    SELECT o.lang, o.n_chunks, o.n_known,
           CAST(COALESCE(n.cnt, 0) AS BIGINT) AS n_new_unique,
           o.chars_total,
           CAST(COALESCE(n.chars, 0) AS BIGINT) AS chars_new,
           ROUND(1 - CAST(COALESCE(n.chars, 0) AS DOUBLE) / o.chars_total, 6)
             AS ingest_dedup_ratio
    FROM occ o LEFT JOIN (
      SELECT lang, COUNT(*) AS cnt, SUM(clen) AS chars FROM newu GROUP BY 1
    ) n USING (lang)
"""


@register(
    "dedup_cdc_incremental", oracle=_CDC_INC_ORACLE, tags=("dedup", "text")
)
def dedup_cdc_incremental(
    spark: SparkSession, sf_dir: str, on_base_built=None, on_probe_plan=None
) -> DataFrame:
    """INCREMENTAL chunk-store ingest — dedup_cdc_chunks' delta twin
    and the actual production shape of CDC dedup (a backup / CAS chunk
    store ingesting a new batch): the corpus's chunk digests persist as
    a digest-BUCKETED index table (bucketBy 16, the
    dedup_minhash_incremental layout); a delta batch (doc_id % 3 == 0)
    chunks ITS OWN documents only, probes the store with one
    digest-grain join, and appends only the chunks the store has never
    seen — base index files are never rewritten (byte-identical,
    pytest-pinned). Output: per-lang ingest accounting — how many of
    the batch's chunk occurrences the store already had, and how many
    chars it actually writes (THE storage-dedup KPI). The DuckDB
    oracle recomputes base/delta/membership from scratch, so a hash
    match proves probe-against-persisted-index ≡ full recompute.

    Scale shape at 100 TB: the delta pays exactly its own chunking
    cost (map-side boundary filter, never rescans corpus TEXT); the
    probe shuffles ONLY the delta's digest rows into the store's
    bucket layout — the executed join carries a single Exchange (the
    delta side; plan-pinned in tests/test_plans.py) while the index
    scan stays exchange-free; the append writes new per-bucket files
    only. Within-batch repeats of a new digest count once in
    chars_new (the store writes one copy), mirroring the per-lang
    distinct convention of dedup_cdc_chunks."""
    import hashlib
    import os

    ensure = __import__(
        "flink_kmeans_spark.session", fromlist=["ensure_conf"]
    ).ensure_conf
    ensure(spark)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    ch = cdc_chunks(docs).localCheckpoint(eager=False)
    base = ch.filter(F.col("doc_id") % 3 != 0).select("digest").distinct()
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    tbl = f"cdc_inc_{tag}"
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    idx_path = os.path.join(repo_root, ".index", tbl)
    _gc_stale_index_tags(spark, "cdc_inc_", tbl, min_age_s=3600)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil

    shutil.rmtree(idx_path, ignore_errors=True)
    # r12 (guide §6): one file per bucket — see _ann_inc_build
    (
        base.repartition(16, "digest")
        .write.bucketBy(16, "digest")
        .mode("overwrite")
        .option("path", idx_path)
        .saveAsTable(tbl)
    )
    if on_base_built is not None:
        # test hook (the _mh_inc_build pattern): snapshot the base
        # generation's files BETWEEN the two writes so immutability
        # under the append is provable, not asserted on faith
        on_base_built(idx_path)
    # delta chunks land as FILES (the arrival boundary a real ingest
    # has), then a clone session with broadcast off probes the store —
    # forcing the >=100 TB plan where the bucketed index never
    # re-shuffles and only the delta crosses the wire
    delta_path = f"{idx_path}_delta"
    ch.filter(F.col("doc_id") % 3 == 0).select(
        "lang", "digest", "clen"
    ).write.mode("overwrite").parquet(delta_path)
    s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    idx = s2.table(tbl).withColumn("known_flag", F.lit(1))
    delta = s2.read.parquet(delta_path)
    probe = delta.join(idx, "digest", "left").select(
        "lang",
        "digest",
        "clen",
        F.col("known_flag").isNotNull().alias("known"),
    )
    # the 100 TB contract (the checkpoint below truncates lineage, so a
    # post-hoc plan test could not see this join): the delta side
    # shuffles into the store's bucket layout, the bucketed index scan
    # re-shuffles NOTHING however large the store grows. Hot path keeps
    # only the version-robust floor (>=1 delta-side Exchange — zero
    # would mean a broadcast snuck in and the scale contract is void);
    # the exact ==1 pin lives in tests/test_plans.py via on_probe_plan
    # (ADVICE r10: an exact string-count here was brittle across Spark
    # versions / AQE re-planning).
    probe_plan = probe._jdf.queryExecution().executedPlan().toString()
    if on_probe_plan is not None:
        on_probe_plan(probe_plan)
    if probe_plan.count("Exchange hashpartitioning") < 1:
        raise RuntimeError(
            "dedup_cdc_incremental: expected a delta-side Exchange in "
            "the store probe (broadcast would void the 100 TB "
            f"contract). Plan:\n{probe_plan[:2000]}"
        )
    # EAGER checkpoint BEFORE the append below: the probe must pin the
    # store's pre-ingest state — a lazy plan would re-read the table
    # after the append and find every delta digest "known" (caught by
    # the oracle gate on the first registration attempt)
    flagged = probe.localCheckpoint(eager=True)
    newu = (
        flagged.filter(~F.col("known"))
        .groupBy("lang", "digest")
        .agg(F.min("clen").alias("clen"))
    )
    # the append a real store performs: new distinct digests, same
    # bucket spec -> new per-bucket files only (immutability of the
    # base files is pytest-pinned)
    newu.select("digest").distinct().repartition(16, "digest").write.bucketBy(
        16, "digest"
    ).mode("append").option("path", idx_path).saveAsTable(tbl)
    occ = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.count(F.when(F.col("known"), 1)).cast("bigint").alias("n_known"),
        F.sum("clen").cast("bigint").alias("chars_total"),
    )
    newagg = newu.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_unique"),
        F.sum("clen").cast("bigint").alias("chars_new"),
    )
    return (
        occ.join(newagg, "lang", "left")
        .select(
            "lang",
            "n_chunks",
            "n_known",
            F.coalesce("n_new_unique", F.lit(0)).cast("bigint").alias(
                "n_new_unique"
            ),
            "chars_total",
            F.coalesce("chars_new", F.lit(0)).cast("bigint").alias("chars_new"),
            F.round(
                1.0
                - F.coalesce("chars_new", F.lit(0)) / F.col("chars_total"),
                6,
            ).alias("ingest_dedup_ratio"),
        )
    )


# ----------------------- r10: weighted reservoir sampling (A-ExpJ/A-Res)

_WRS_K = 100
_WRS_TWO60 = float(1 << 60)

_WRS_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS weight,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wrs'),
                                   1, 15)) AS BIGINT) + 0.5)
               / {_WRS_TWO60!r} AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, weight,
           ROUND(ln(u) / weight, 10) AS wkey
    FROM w
    ORDER BY ln(u) / weight DESC, doc_id
    LIMIT {_WRS_K}
"""


@register(
    "sample_weighted_reservoir", oracle=_WRS_ORACLE, tags=("sampling", "text")
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, the A-Res key construction — what 'sample 100
    documents proportionally to length/quality weight' actually
    requires; sample_reservoir_group is the UNWEIGHTED per-stratum
    twin): each item draws u ~ U(0,1) and ranks by u^(1/w) — here by
    the monotone-equivalent ln(u)/w, avoiding pow — and the global
    top-k by that key IS a weight-proportional sample without
    replacement. The draw is the repo's deterministic md5 coin
    ((hash60(doc_id#wrs)+0.5)/2^60, never 0 so ln is finite), making
    selection, order, and keys hash-verified cross-engine; the
    E-S inclusion-probability law is pinned by pytest over the
    closed-form exponential formulation.

    Scale shape at 100 TB: the key is computed map-side in the scan
    stage projection and the selection is a TakeOrderedAndProject —
    every task forwards at most k rows, no global sort, no shuffle
    beyond the k-row reduction (the sort_limit discipline). This is
    the one-pass distributed-reservoir construction the paper gives:
    per-partition top-k keys merge by taking the top-k of the union —
    exactly what TakeOrderedAndProject executes. Knife-edge: ln is
    libm on both engines over bit-identical operands — a selection
    flip at the k-th boundary needs two keys within ~1 ulp (the
    documented coin-threshold class); wkey rounds at 10 dp."""
    from ..functions.hashing import portable_hash60

    d = _docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    u = (
        portable_hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit("#wrs"))
        ).cast("double")
        + 0.5
    ) / F.lit(_WRS_TWO60)
    w = F.col("n_chars").cast("double")
    lnk = F.log(u) / w
    return (
        d.select(
            "doc_id",
            "lang",
            w.alias("weight"),
            lnk.alias("_lnk"),
        )
        .orderBy(F.col("_lnk").desc(), "doc_id")
        .limit(_WRS_K)
        .select(
            "doc_id", "lang", "weight", F.round("_lnk", 10).alias("wkey")
        )
    )
