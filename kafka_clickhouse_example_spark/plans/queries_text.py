"""Text-analysis queries over the documents table, with DuckDB oracles.

The oracle SQL mirrors operators/text.py expression-for-expression (same
tokenizer regex, same md5-based hashes, same CASE ladder), so a hash match
certifies the operator semantics, not just the plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_example_spark.operators import text as T
from kafka_clickhouse_example_spark.registry import register
from kafka_clickhouse_example_spark.session import configure_runtime, session_memo
from kafka_clickhouse_example_spark.sources.catalog import load_compute_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_runtime(spark)
    return load_compute_table(spark, sf_dir, "documents")


# SQL building blocks mirroring operators/text.py exactly.
TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"


def _stop_count_sql(words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({TOKENS_SQL}, t -> t IN ({inlist})))"


TOKEN_HASH_SQL = "('0x' || substr(md5(t), 1, 15))::BIGINT"
FINGERPRINT_SQL = (
    f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
    f"list_transform({TOKENS_SQL}, t -> {TOKEN_HASH_SQL})), "
    f"(acc, x) -> (acc * 31 + x) % {T.FINGERPRINT_MOD})"
)


def _lang_case_sql() -> str:
    s = {lang: _stop_count_sql(words) for lang, words in T.STOPWORDS.items()}
    branches = []
    prio = T.LANG_PRIORITY
    for i, lang in enumerate(prio[:-1]):
        conds = " AND ".join(f"{s[lang]} >= {s[later]}" for later in prio[i + 1 :])
        branches.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(branches) + f" ELSE '{prio[-1]}' END"


@register(
    "text_token_stats",
    oracle=f"""
SELECT
  doc_id,
  len({TOKENS_SQL})                                        AS n_tokens,
  length(text)                                             AS n_chars,
  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))       AS n_alpha,
  {_stop_count_sql(T.STOPWORDS["en"])}                     AS n_stopwords
FROM documents
ORDER BY doc_id
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + char-class counts per doc."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        T.alpha_char_count(t).alias("n_alpha"),
        T.stopword_count(t, T.STOPWORDS["en"]).alias("n_stopwords"),
    ).orderBy("doc_id")


@register(
    "text_bpe_token_stats",
    oracle=f"""
SELECT
  doc_id,
  len(regexp_extract_all(text, '{T.BPE_PATTERN}'))                    AS n_bpe_tokens,
  len(list_distinct(regexp_extract_all(text, '{T.BPE_PATTERN}')))     AS n_distinct_pieces,
  len({TOKENS_SQL})                                                   AS n_ws_tokens
FROM documents
ORDER BY doc_id
""",
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (letter/digit runs + single symbols) next to
    the whitespace count — the two tokenizers the mandate names."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.bpe_token_count(t).alias("n_bpe_tokens"),
        F.size(F.array_distinct(T.bpe_tokens(t))).alias("n_distinct_pieces"),
        T.token_count(t).alias("n_ws_tokens"),
    ).orderBy("doc_id")


# Quality-score SQL blocks, shared with the dedup canonical-selection query.
# Op order matters: these are double expressions and must keep the exact
# shape of operators/text.quality_metrics for bit-identical results.
ALPHA_RATIO_SQL = (
    "(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE))"
)
STOPWORD_RATIO_SQL = (
    f"(CAST({_stop_count_sql(T.STOPWORDS['en'])} AS DOUBLE)"
    f" / CAST(len({TOKENS_SQL}) AS DOUBLE))"
)
QUALITY_SCORE_SQL = (
    f"0.4 * {ALPHA_RATIO_SQL}"
    f" + 0.4 * least({STOPWORD_RATIO_SQL} * 5, 1.0)"
    f" + 0.2 * least(CAST(len({TOKENS_SQL}) AS DOUBLE) / 100, 1.0)"
)


@register(
    "text_quality_scores",
    oracle=f"""
SELECT
  doc_id,
  {ALPHA_RATIO_SQL}                                              AS alpha_ratio,
  {STOPWORD_RATIO_SQL}                                           AS stopword_ratio,
  {QUALITY_SCORE_SQL}                                            AS quality_score
FROM documents
ORDER BY doc_id
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: alpha ratio, stopword ratio, composite score."""
    docs = _docs(spark, sf_dir)
    return T.with_quality_metrics(docs).select(
        "doc_id", "alpha_ratio", "stopword_ratio", "quality_score"
    ).orderBy("doc_id")


@register(
    "text_lang_id_accuracy",
    oracle=f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN ({_lang_case_sql()}) = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def text_lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-count argmax) scored against the
    labeled lang column, aggregated per language."""
    docs = T.with_lang_id(_docs(spark, sf_dir))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("predicted_lang") == F.col("lang"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .orderBy("lang")
    )


@register(
    "text_fingerprints",
    oracle=f"""
SELECT doc_id,
       md5(text)          AS content_md5,
       {FINGERPRINT_SQL}  AS rolling_fp
FROM documents
ORDER BY doc_id
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content md5 + order-sensitive rolling hash
    over md5-derived token hashes (mod 1e9+7)."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.md5(t.cast("binary")).alias("content_md5"),
        T.doc_fingerprint(t).alias("rolling_fp"),
    ).orderBy("doc_id")


# --- TF-IDF top terms --------------------------------------------------------

TFIDF_TOP_N = 3

# Rational idf (BM25-style (N - df + 0.5)/(df + 0.5)) instead of ln((N+1)/df):
# +, /, * on doubles are IEEE-exact-rounded and therefore bit-identical in any
# engine, while transcendental ln() may differ in the last ulp between libm
# implementations — a hash flake waiting to happen. Monotone in df either way,
# so the ranking semantics are the standard ones.
_IDF_SQL = "((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) * {_IDF_SQL} AS score
  FROM tf JOIN dfreq ON tf.term = dfreq.term
  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents) n
)
SELECT doc_id, term, tf, df, score, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
) WHERE rnk <= {TFIDF_TOP_N}
ORDER BY doc_id, rnk
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: explode -> term frequency -> document
    frequency -> rational-idf score -> per-doc window top-N.

    Scale: tf is a (doc, term) groupBy (shuffle on composite key, partial
    combine eats the explode fan-out); df aggregates tf — vocabulary-sized,
    zipf-distributed, so the tf⋈df join is left to sort-merge + AQE rather
    than broadcasting an unbounded vocab. The corpus count joins in as a
    one-row broadcast. The top-N window partitions by doc_id — no global
    sort anywhere.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf = ((F.col("n_docs") - F.col("df")).cast("double") + 0.5) / (
        F.col("df").cast("double") + 0.5
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tf").cast("double") * idf).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_N)
        .orderBy("doc_id", "rnk")
    )


# --- decontamination ---------------------------------------------------------

_DC_N = 4  # word n-gram length; 46/475 train docs collide on the fixture
_DC_TOKS = TOKENS_SQL
_DC_SHINGLES = (
    f"list_distinct(CASE WHEN len({_DC_TOKS}) >= {_DC_N} THEN "
    f"list_transform(range(1, len({_DC_TOKS}) - {_DC_N - 2}), i -> "
    + " || ' ' || ".join(f"{_DC_TOKS}[i+{j}]" for j in range(_DC_N))
    + ") ELSE [] END)"
)


@register(
    "text_decontaminate",
    oracle=f"""
WITH ex AS (
  SELECT doc_id, source, ('0x' || substr(md5(g), 1, 14))::BIGINT AS h
  FROM (SELECT doc_id, source, unnest({_DC_SHINGLES}) AS g FROM documents)
),
ev AS (SELECT DISTINCT h FROM ex WHERE source = 'src0'),
tr AS (SELECT doc_id, h FROM ex WHERE source <> 'src0')
SELECT tr.doc_id, CAST(count(DISTINCT tr.h) AS BIGINT) AS n_shared_shingles
FROM tr JOIN ev USING (h)
GROUP BY tr.doc_id
ORDER BY doc_id
""",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report: train docs (source <> 'src0')
    sharing at least one word 4-gram with the held-out eval slice
    (source = 'src0'), with the shared-shingle count. The eval shingle-hash
    set broadcasts; the corpus is scanned map-side only (see
    operators/decontam.py for the 100 TB argument). The oracle recomputes
    shingling, hashing, and the overlap join end-to-end."""
    from kafka_clickhouse_example_spark.operators import decontam as DC

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")
    return DC.contamination_hits(train, ev, n=_DC_N).orderBy("doc_id")


# --- repetition / shape filters ----------------------------------------------

_REP_G2 = (
    f"CASE WHEN len({TOKENS_SQL}) >= 2 THEN list_transform(range(1, len({TOKENS_SQL})), "
    f"i -> {TOKENS_SQL}[i] || ' ' || {TOKENS_SQL}[i+1]) ELSE [] END"
)
_REP_G3 = (
    f"CASE WHEN len({TOKENS_SQL}) >= 3 THEN list_transform(range(1, len({TOKENS_SQL}) - 1), "
    f"i -> {TOKENS_SQL}[i] || ' ' || {TOKENS_SQL}[i+1] || ' ' || {TOKENS_SQL}[i+2]) ELSE [] END"
)


@register(
    "text_repetition_filter",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {TOKENS_SQL} AS tk FROM documents),
g AS (
  SELECT doc_id, text, tk, {_REP_G2.replace(TOKENS_SQL, 'tk')} AS g2,
         {_REP_G3.replace(TOKENS_SQL, 'tk')} AS g3
  FROM t
),
m AS (
  SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS n_tokens,
    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)
      AS frac_dup_tokens,
    CASE WHEN len(g2) > 0 THEN
      1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
    ELSE 0.0 END AS frac_dup_2grams,
    CASE WHEN len(g3) > 0 THEN
      1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
    ELSE 0.0 END AS frac_dup_3grams,
    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
      / CAST(len(tk) AS DOUBLE) AS mean_token_len,
    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      / CAST(length(text) AS DOUBLE) AS symbol_ratio
  FROM g
),
top AS (
  SELECT doc_id, max(cnt) AS top_cnt FROM (
    SELECT doc_id, tok, count(*) AS cnt
    FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT m.doc_id, n_tokens, frac_dup_tokens, frac_dup_2grams, frac_dup_3grams,
       mean_token_len, symbol_ratio,
       CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS frac_top_token,
       (n_tokens >= 10 AND n_tokens <= 100000
        AND CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.125
        AND frac_dup_2grams <= 0.05
        AND mean_token_len >= 3.0 AND mean_token_len <= 10.0) AS keep
FROM m JOIN top ON m.doc_id = top.doc_id
ORDER BY m.doc_id
""",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition + shape filters with a keep decision per
    document (operators/text.py:with_repetition_metrics). The oracle
    recomputes every ratio and the threshold rule relationally."""
    docs = _docs(spark, sf_dir)
    return T.with_repetition_metrics(docs).select(
        "doc_id",
        "n_tokens",
        "frac_dup_tokens",
        "frac_dup_2grams",
        "frac_dup_3grams",
        "mean_token_len",
        "symbol_ratio",
        "frac_top_token",
        "keep",
    ).orderBy("doc_id")


@register("text_compression_ratio")  # rows-only: DEFLATE is not SQL-expressible
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the cheap repetitiveness /
    boilerplate signal (low ratio ⇒ highly compressible ⇒ repetitive).
    Rows-only by nature (no DEFLATE in SQL);
    test_compression_ratio_matches_zlib pins every value against direct
    CPython zlib on the driver.

    Scale: map-only — one Arrow batch UDF over the scan, no shuffle; the
    ratio is one double division per row.
    """
    docs = _docs(spark, sf_dir)
    clen = T.compression_ratio_udf()(F.col("text")).alias("compressed_len")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        clen,
    ).withColumn(
        "ratio",
        (F.col("compressed_len").cast("double") / F.col("n_chars").cast("double")).cast(
            "double"
        ),
    ).orderBy("doc_id")


@register(
    "text_type_token_ratio",
    oracle=f"""
SELECT source,
       count(*) AS n_tokens,
       CAST(count(DISTINCT t) AS BIGINT) AS n_types,
       CAST(CAST(count(DISTINCT t) AS DOUBLE) / count(*) AS DOUBLE) AS ttr
FROM (SELECT source, unnest({TOKENS_SQL}) AS t FROM documents)
GROUP BY source
ORDER BY source
""",
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: type-token ratio (distinct tokens /
    total tokens) — the standard vocabulary-richness gauge next to
    text_vocab_stats_per_source's corpus-level view. Shares the exact
    tokenizer contract certified by text_token_stats.

    Scale: one explode + one partial-aggregated groupBy(source) with a
    distinct-count — Spark plans countDistinct as a two-phase aggregate
    (per-(source, token) partial, then per-source), so the exchange
    carries distinct (source, token) pairs, not raw token instances.
    """
    docs = _docs(spark, sf_dir)
    ex = docs.select("source", F.explode(T.tokens(F.col("text"))).alias("t"))
    return (
        ex.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("t").alias("n_types"),
            (F.countDistinct("t").cast("double") / F.count("*"))
            .cast("double")
            .alias("ttr"),
        )
        .orderBy("source")
    )


@register(
    "text_token_commonness",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, {TOKEN_HASH_SQL.replace('md5(t)', 'md5(tok)')} AS h
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents)
),
df AS (
  SELECT h, count(DISTINCT doc_id) AS doc_freq FROM pos GROUP BY h
)
SELECT p.doc_id,
       count(*) AS n_tokens,
       CAST(sum(d.doc_freq) AS BIGINT) AS sum_df,
       CAST(CAST(sum(d.doc_freq) AS DOUBLE) / count(*) AS DOUBLE) AS avg_df
FROM pos p JOIN df d ON d.h = p.h
GROUP BY p.doc_id
ORDER BY p.doc_id
""",
)
def text_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document vocabulary commonness: the mean corpus document-
    frequency of the doc's token occurrences — a cheap fluency/quality
    proxy (rare-vocabulary-heavy docs score low; boilerplate scores high)
    used to triage corpus slices before expensive model-based scoring.
    All-integer until one final division.

    Scale: the doc-frequency relation is vocabulary-sized (countDistinct
    plans as a two-phase aggregate over distinct (token, doc) pairs); the
    positions⋈df join shuffles on 60-bit token hashes, never token
    strings. Hot tokens (stopwords) skew that exchange at corpus scale —
    AQE skew-join splits them, and the standard refinement is
    broadcasting the top-K head tokens' frequencies map-side (the same
    stop-key treatment as jaccard_pairs' max_shingle_freq).
    """
    docs = _docs(spark, sf_dir)
    pos = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")
    ).select("doc_id", T.token_hash(F.col("tok")).alias("h"))
    df_rel = pos.groupBy("h").agg(F.countDistinct("doc_id").alias("doc_freq"))
    return (
        pos.join(df_rel.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("doc_freq").alias("sum_df"),
            (F.sum("doc_freq").cast("double") / F.count("*"))
            .cast("double")
            .alias("avg_df"),
        )
        .orderBy("doc_id")
    )


Q30 = 1073741824  # 2^30 fixed-point scale (power of two: no product rounding)


@register(
    "text_bigram_transition_score",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
pos AS (
  SELECT doc_id,
         ('0x' || substr(md5(pr[1]), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(pr[2]), 1, 15))::BIGINT AS h12
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                       i -> [toks[i], toks[i] || ' ' || toks[i+1]])
                  ELSE [] END) AS pr
    FROM t
  )
),
f AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY h12) AS c2,
         count(*) OVER (PARTITION BY h1) AS c1
  FROM pos
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum((c2 * {Q30}) // c1) AS BIGINT) AS sum_q30,
       CAST(CAST(sum((c2 * {Q30}) // c1) AS DOUBLE)
            / (count(*) * {Q30}.0) AS DOUBLE) AS avg_transition
FROM f GROUP BY doc_id ORDER BY doc_id
""",
)
def text_bigram_transition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram transition probability — a KenLM-style
    fluency score without the log: for each adjacent token pair, the
    corpus-level P(t2 | t1) = count(t1 t2) / count(t1·), averaged over the
    doc. Docs whose transitions are common corpus-wide score high;
    word-salad scores low. Each term is Q30 FIXED POINT ((c2 << 30) div c1
    — exact integers, order-independent sum) with ONE double division at
    the end, so cross-engine results are bit-identical despite being a
    probability average.

    Scale: no n-gram LM table is materialized — both counts are window
    aggregates over the positions relation (two hash exchanges: (h1,h12)
    then h1), and the Q30 numerators stay < 2^63 until c2 > 8.5e9
    occurrences of one bigram (switch sum to DECIMAL(38,0) past that).
    Stopword-prefix skew on the h1 exchange is the known hazard — AQE
    splits it (same note as text_token_commonness).
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    pairs = toks.withColumn(
        "prs",
        F.when(
            F.size("toks") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    T.token_hash(F.element_at("toks", i)).alias("h1"),
                    T.token_hash(
                        F.concat_ws(
                            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                        )
                    ).alias("h12"),
                ),
            ),
        ).otherwise(F.array()),
    ).select("doc_id", F.explode("prs").alias("pr")).select(
        "doc_id", F.col("pr.h1").alias("h1"), F.col("pr.h12").alias("h12")
    )
    f = pairs.select(
        "doc_id",
        F.count("*").over(Window.partitionBy("h12")).alias("c2"),
        F.count("*").over(Window.partitionBy("h1")).alias("c1"),
    )
    return (
        f.withColumn("q30", F.expr(f"(c2 * cast({Q30} as bigint)) div c1"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("q30").alias("sum_q30"),
            (F.sum("q30").cast("double") / (F.count("*") * F.lit(float(Q30))))
            .cast("double")
            .alias("avg_transition"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_feature_matrix",
    oracle=f"""
SELECT doc_id,
       len({TOKENS_SQL})                                        AS n_tokens,
       length(text)                                             AS n_chars,
       {ALPHA_RATIO_SQL}                                        AS alpha_ratio,
       {STOPWORD_RATIO_SQL}                                     AS stopword_ratio,
       {QUALITY_SCORE_SQL}                                      AS quality_score,
       ({_lang_case_sql()})                                     AS predicted_lang,
       {FINGERPRINT_SQL}                                        AS rolling_fp
FROM documents
ORDER BY doc_id
""",
)
def text_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled per-document feature matrix a quality-classifier
    training job consumes: every cheap map-side signal (token/char counts,
    alpha and stopword ratios, composite quality, predicted language,
    order-sensitive fingerprint) in ONE scan with zero shuffles — the
    composition proof that the signal operators share a single pass
    rather than each re-reading the corpus."""
    docs = T.with_lang_id(T.with_quality_metrics(_docs(spark, sf_dir)))
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        "alpha_ratio",
        "stopword_ratio",
        "quality_score",
        "predicted_lang",
        T.doc_fingerprint(t).alias("rolling_fp"),
    ).orderBy("doc_id")


# --- corpus cleaning: markup strip + entity decode + NFC ------------------

# Injected markup/NFD content (the synthetic corpus is plain ASCII, so the
# cleaning ladder needs deterministic dirty input to be non-vacuous). The
# Python constants are embedded into BOTH the Spark plan and the oracle SQL,
# so the bytes are identical by construction.
NFD_SUFFIX = " Café résumé"  # NFD: 'e' + COMBINING ACUTE
ENT_SUFFIX = ' &amp; x &lt;tag&gt; &quot;q&quot;'

_CLEAN_SQL = (
    "nfc_normalize(trim(regexp_replace("
    "replace(replace(replace(replace("
    "regexp_replace(raw, '<[^>]+>', ' ', 'g'),"
    " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&amp;', '&'),"
    " '\\s+', ' ', 'g')))"
)


@register(
    "text_clean_normalize",
    oracle=f"""
WITH dirty AS (
  SELECT doc_id,
         '<p>' || text || '</p>'
         || CASE WHEN doc_id % 2 = 0 THEN ' {NFD_SUFFIX.strip()}' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN ' {ENT_SUFFIX.strip()}' ELSE '' END
         AS raw
  FROM documents
)
SELECT doc_id,
       CAST(length(raw) AS BIGINT)          AS len_raw,
       CAST(length({_CLEAN_SQL}) AS BIGINT) AS len_clean,
       md5({_CLEAN_SQL})                    AS clean_md5
FROM dirty
ORDER BY doc_id
""",
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning ladder certified bit-exact: strip tags, decode
    entities, collapse whitespace (JVM regex in codegen), then NFC unicode
    normalization (Arrow-batched Python — Spark has no built-in normalizer;
    the oracle is DuckDB's native nfc_normalize). md5 equality proves the
    composed characters, entity order (&amp; last), and space handling all
    match an independent implementation.

    Scale: map-only over the corpus; the only Python boundary is one
    vectorized batch pass.
    """
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    raw = F.concat(
        F.lit("<p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(did % 2 == 0, F.lit(" " + NFD_SUFFIX.strip())).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit(" " + ENT_SUFFIX.strip())).otherwise(F.lit("")),
    )
    clean = T.clean_text_expr(raw)
    return docs.select(
        "doc_id",
        F.length(raw).cast("bigint").alias("len_raw"),
        F.length(clean).cast("bigint").alias("len_clean"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


@register("text_bpe_learned_merges")  # rows-only: iterative argmax training isn't SQL
def text_bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 8 BPE merge rules learned from the corpus (rank, pair,
    weighted count) — tokenizer TRAINING as a first-class distributed
    operator (operators/bpe.py). Deterministic on any partitioning via the
    (count DESC, left, right) argmax tiebreak; certified against a pure-
    Python reference implementation in tests/test_bpe.py rather than a SQL
    oracle (the greedy loop is iterative by nature).

    Scale: training state is the word-frequency table — vocabulary-sized,
    built in ONE corpus pass; each ROUND is a bounded pair-count shuffle
    plus a TakeOrdered(M) — merges_per_round=4 batches token-disjoint
    merges so 8 rules cost 2 shuffles instead of 8 (the production profile
    for 32k-merge vocabularies; exactness contract in operators/bpe.py).
    """
    from kafka_clickhouse_example_spark.operators import bpe as B

    docs = _docs(spark, sf_dir)
    merges = B.train_bpe(docs, n_merges=8, merges_per_round=4)
    return B.merges_df(spark, merges).orderBy("rank")


# --- BM25 keyword retrieval --------------------------------------------------

BM25_TERMS = ["spark", "window", "merge", "vector"]
from kafka_clickhouse_example_spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
)
BM25_TOP_K = 20
from kafka_clickhouse_example_spark.operators.retrieval import BM25_Q as _BM25_Q

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
# Rational idf (no ln): same monotone (N-df+0.5)/(df+0.5) core the tfidf
# query uses — log-free so the score is pure IEEE mul/div, bit-identical
# across engines; BM25_Q fixed-point (Q20) makes the per-doc SUM order-independent.
_BM25_SCORE_SQL = f"""
  ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
  * (CAST(tf AS DOUBLE) * {BM25_K1 + 1.0})
  / (CAST(tf AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B} + ({BM25_B} * CAST(dl AS DOUBLE)) / avgdl))
"""


@register(
    "text_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, len({TOKENS_SQL}) AS dl, unnest({TOKENS_SQL}) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({TOKENS_SQL})) AS DOUBLE) / count(*) AS avgdl
  FROM documents
),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(({_BM25_SCORE_SQL}) * {_BM25_Q}) AS BIGINT) AS qfix
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       round(CAST(sum(qfix) AS DOUBLE) / {_BM25_Q}, 6) AS score
FROM scored
GROUP BY doc_id
ORDER BY sum(qfix) DESC, doc_id
LIMIT {BM25_TOP_K}
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-{BM25_TOP_K} documents for a fixed
    query ({BM25_TERMS}), k1={BM25_K1}, b={BM25_B} — the classic
    inverted-index relevance score as a pure DataFrame plan. The idf is
    the log-free rational core (N-df+0.5)/(df+0.5) (same device as
    text_tfidf_top_terms: ln() differs across libm implementations, a
    monotone-equivalent rational idf does not), and per-term scores sum
    in BM25_Q fixed point (Q20) so the per-document total is addition-order
    independent — the ranking key is the exact BIGINT sum.

    Scale: the explode filters to query terms BEFORE the shuffle, so only
    matching postings move — tf is a (doc, term) groupBy over |Q|-term
    rows, not the whole corpus fan-out. Document length rides along in the
    same pass (max(dl) — constant per doc), so no second join against a
    lengths table. df (≤|Q| rows) and the corpus stats (1 row) broadcast.
    Final top-k is TakeOrdered on the exact integer key — no global sort.
    At 100 TB: postings for 4 terms ≪ corpus; everything after the first
    filter is query-sized.
    """
    docs = _docs(spark, sf_dir)
    a = T.tokens(F.col("text"))
    toks = docs.select(
        "doc_id",
        F.size(a).cast("bigint").alias("dl"),
        F.explode(a).alias("term"),
    ).filter(F.col("term").isin(BM25_TERMS))
    tf = toks.groupBy("doc_id", "term").agg(
        F.max("dl").alias("dl"), F.count("*").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size(a)).cast("double") / F.count("*")).alias("avgdl"),
    )
    from kafka_clickhouse_example_spark.operators.retrieval import bm25_q

    qfix = bm25_q(
        F.col("tf"), F.col("dl"), F.col("df"), F.col("n_docs"), F.col("avgdl"),
        BM25_K1, BM25_B,
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", qfix.alias("qfix"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("qfix").alias("qfix_sum"),
        )
        .orderBy(F.col("qfix_sum").desc(), "doc_id")
        .limit(BM25_TOP_K)
        .select(
            "doc_id",
            "n_terms",
            F.round(F.col("qfix_sum").cast("double") / _BM25_Q, 6).alias("score"),
        )
    )


# Trained-merges memo: the encode query consumes the same rules the
# learned-merges query benchmarks; train once per (session, sf_dir) — a
# real pipeline trains its tokenizer once, then encodes with it.
def _bpe_merges_cached(spark: SparkSession, sf_dir: str):
    from kafka_clickhouse_example_spark.operators import bpe as B

    return session_memo(
        spark,
        ("bpe_merges", sf_dir),
        lambda: B.train_bpe(_docs(spark, sf_dir), n_merges=8, merges_per_round=4),
    )


@register("text_bpe_encode_stats")  # rows-only: encode needs iteratively-trained rules
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BPE APPLICATION: encode every document with the trained
    merge rules (operators/bpe.encode_corpus) and report per-doc word,
    piece, and fertility (pieces/word) counts — the tokenize-the-corpus
    step between tokenizer training and sequence packing. Rows-only by
    design (rules come from iterative training); exactness is pinned
    against the pure-Python reference encoder in tests/test_bpe.py.

    Scale: map-only — rules are O(n_merges) closure state, one Arrow pass,
    zero shuffles; per-word memoization collapses the merge loop to once
    per distinct word per task (Zipf). The ORDER BY is the deterministic
    gate only.
    """
    from kafka_clickhouse_example_spark.operators import bpe as B

    docs = _docs(spark, sf_dir)
    merges = _bpe_merges_cached(spark, sf_dir)
    enc = B.encode_corpus(docs, merges)
    return enc.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.round(
            F.col("n_pieces").cast("double")
            / F.greatest(F.col("n_words").cast("double"), F.lit(1.0)),
            6,
        ).alias("pieces_per_word"),
    ).orderBy("doc_id")


# --- batch BM25: many queries at once, per-query top-k -----------------------

BM25_BATCH = {
    1: ["spark", "window"],
    2: ["merge", "vector", "stream"],
    3: ["customer", "query", "table"],
}
BM25_BATCH_K = 10
_BATCH_TERMS = sorted({t for ts in BM25_BATCH.values() for t in ts})
_BATCH_TERMS_SQL = ", ".join(f"'{t}'" for t in _BATCH_TERMS)
_BATCH_VALUES_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in sorted(BM25_BATCH.items()) for t in ts
)


@register(
    "text_bm25_batch_topk",
    oracle=f"""
WITH queries(qid, term) AS (VALUES {_BATCH_VALUES_SQL}),
toks AS (
  SELECT doc_id, len({TOKENS_SQL}) AS dl, unnest({TOKENS_SQL}) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, max(dl) AS dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ({_BATCH_TERMS_SQL}) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({TOKENS_SQL})) AS DOUBLE) / count(*) AS avgdl
  FROM documents
),
scored AS (
  SELECT q.qid, tf.doc_id,
         CAST(floor(({_BM25_SCORE_SQL}) * {_BM25_Q}) AS BIGINT) AS qfix
  FROM tf JOIN queries q USING (term) JOIN dfreq USING (term) CROSS JOIN stats
),
per_doc AS (
  SELECT qid, doc_id,
         CAST(count(*) AS BIGINT) AS n_terms,
         sum(qfix) AS qfix_sum
  FROM scored GROUP BY qid, doc_id
)
SELECT CAST(qid AS BIGINT) AS qid, rnk, doc_id, n_terms,
       round(CAST(qfix_sum AS DOUBLE) / {_BM25_Q}, 6) AS score
FROM (
  SELECT *, CAST(row_number() OVER (
              PARTITION BY qid ORDER BY qfix_sum DESC, doc_id) AS BIGINT) AS rnk
  FROM per_doc
) WHERE rnk <= {BM25_BATCH_K}
ORDER BY qid, rnk
""",
)
def text_bm25_batch_topk(
    spark: SparkSession, sf_dir: str, index_table: str | None = None
) -> DataFrame:
    """Batch BM25: {len(BM25_BATCH)} queries retrieved in ONE pass with
    per-query top-{BM25_BATCH_K} — the production retrieval shape (a query
    workload, not a single lookup). The query table joins in as a
    broadcast term->qid map; scoring reuses text_bm25_topk's devices
    (rational idf, BM25_Q exact ranking key); the per-query cut is a window
    partitioned BY QID — thousands of concurrent queries parallelize
    across partitions, no global sort, and no per-query job loop (the
    anti-pattern: looping submit-per-query turns a batch into driver
    round-trips).

    Scale: corpus-side cost is ONE postings filter for the union of all
    query terms — shared across queries — then everything downstream is
    (qid, doc) candidate-sized. At 100 TB with 10k queries the filter
    admits only the union vocabulary's postings; the window's qid
    partitioning spreads the cut over the cluster.

    Pass ``index_table`` (a table built by retrieval.build_term_index over
    the same corpus) to serve the batch from the prebuilt bucket-pruned
    inverted index instead of tokenizing the corpus — identical results
    (same bm25_q tree; parity pinned in tests/test_retrieval_index.py),
    no corpus-sized work per batch.
    """
    if index_table is not None:
        from kafka_clickhouse_example_spark.operators.retrieval import (
            bm25_batch_topk_from_index,
        )

        configure_runtime(spark)
        return bm25_batch_topk_from_index(
            spark, index_table, BM25_BATCH, BM25_BATCH_K, BM25_K1, BM25_B
        )
    docs = _docs(spark, sf_dir)
    a = T.tokens(F.col("text"))
    toks = docs.select(
        "doc_id",
        F.size(a).cast("bigint").alias("dl"),
        F.explode(a).alias("term"),
    ).filter(
        # derive the union from BM25_BATCH at CALL time: the import-time
        # _BATCH_TERMS snapshot silently dropped postings for any term a
        # caller (or test) adds to the batch afterwards (review finding)
        F.col("term").isin(sorted({t for ts in BM25_BATCH.values() for t in ts}))
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.max("dl").alias("dl"), F.count("*").alias("tf")
    )
    queries = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(BM25_BATCH.items()) for t in ts],
        "qid long, term string",
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size(a)).cast("double") / F.count("*")).alias("avgdl"),
    )
    from kafka_clickhouse_example_spark.operators.retrieval import bm25_q

    qfix = bm25_q(
        F.col("tf"), F.col("dl"), F.col("df"), F.col("n_docs"), F.col("avgdl"),
        BM25_K1, BM25_B,
    )
    per_doc = (
        tf.join(F.broadcast(queries), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", qfix.alias("qfix"))
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("n_terms"), F.sum("qfix").alias("qfix_sum"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("qfix_sum").desc(), "doc_id")
    return (
        per_doc.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= BM25_BATCH_K)
        .select(
            "qid",
            "rnk",
            "doc_id",
            "n_terms",
            F.round(F.col("qfix_sum").cast("double") / _BM25_Q, 6).alias("score"),
        )
        .orderBy("qid", "rnk")
    )


# --- token entropy per source (fixed-point log2, fully oracle-checkable) -----

_ENTROPY_CNT = f"""
SELECT source, term, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT source, unnest({TOKENS_SQL}) AS term FROM documents
)
WHERE term <> ''
GROUP BY source, term"""

_ENTROPY_ORACLE = f"""
WITH cnt AS ({_ENTROPY_CNT}),
tot AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types
  FROM cnt GROUP BY source
),
{{chain_n}},
{{chain_tot}}
SELECT source, n_tokens, n_types,
       entropy_q20,
       CAST(entropy_q20 AS DOUBLE) / {1 << 20} AS entropy_bits
FROM (
  SELECT source, n_tokens, n_types,
         CAST(sum((n * (l2_tot - l2_n)) // n_tokens) AS BIGINT) AS entropy_q20
  FROM bfin
  GROUP BY source, n_tokens, n_types
)
ORDER BY source
"""


def _entropy_oracle() -> str:
    from kafka_clickhouse_example_spark.operators import sampling as SP

    chain_n = SP.log2fp_sql(
        "SELECT c.source, c.term, c.n, t.n_tokens, t.n_types, c.n AS h "
        "FROM cnt c JOIN tot t USING (source)",
        out_col="l2_n",
        prefix="a",
    )
    chain_tot = SP.log2fp_sql(
        "SELECT *, n_tokens AS h FROM afin", out_col="l2_tot", prefix="b"
    )
    return _ENTROPY_ORACLE.format(chain_n=chain_n.strip(), chain_tot=chain_tot.strip())


@register("text_token_entropy_by_source", oracle=_entropy_oracle())
def text_token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the whitespace-token distribution per source —
    the corpus-diversity signal (low entropy = templated/boilerplate
    source; high = diverse vocabulary) that pretraining mixes weigh
    sources by.

    H = log2(N) - (1/N)·Σ n_i·log2(n_i) needs a logarithm, which libm
    computes differently per engine; this query is oracle-checkable
    BECAUSE the log runs in cross-engine integer fixed point
    (operators/sampling.with_log2fp — the same device that made the
    weighted sampler certifiable). The per-term contribution
    floor(n_i·(L(N)-L(n_i))/N) is integer end-to-end; the only float op
    is the final exact division by 2^20. Metric definition: the floor per
    term under-counts by <n_types/N bits total — a deterministic,
    engine-identical quantization documented as part of the metric.

    Scale: token explode → (source, term) partial-agg shuffle (the same
    shape as TF-IDF's tf stage, combine absorbs the fan-out); per-source
    totals broadcast back; the log chain is ~60 integer ops/row, map-only;
    final rollup is source-cardinality. Bound: n_i·(48<<20) must fit
    int64, i.e. any single token type below ~1.8e11 occurrences per
    source; past that, promote the product to DECIMAL(38,0) — the final
    entropy stays BIGINT-small either way.

    The counts relation is the mergeable state: the SAME serving math
    (T.token_entropy_from_counts) runs over the incrementally-maintained
    counts matview (sinks/backfill.start_token_count_matview) with
    bit-identical results — pinned in tests/test_streaming.py.
    """
    docs = _docs(spark, sf_dir)
    # Materialize the aggregated counts once. r11 measured the
    # de-materialized (ReuseExchange) form of this query SLOWER
    # (within-session best-of-3: none 2.12-2.88 s vs eager 1.60-2.08 s):
    # the per-source totals consumer is a BROADCAST whose build must wait
    # on the full counts shuffle, so the reuse form serializes
    # shuffle -> broadcast-build -> final stage and replays the vocab
    # final-aggregate per consumer — the memo job is cheaper. Contrast
    # the diag/q15/chi2 family, where all consumers are plain shuffles
    # and dropping the memo measured 2-3x faster.
    #
    # r12 A/B (verdict ask #7): the stop-cut trick — repartition('source')
    # counts + totals as WINDOWS over that exchange, one job, no memo, no
    # broadcast — measured a WASH within-session (window 1.64-1.88 s vs
    # memo 1.65-2.17 best-of-3), and the window form funnels each source's
    # whole vocabulary through one partition (the r11-ADVICE skew cliff)
    # where the memo form keeps the totals consumer distributed. Equal
    # locally + worse at scale = keep the memo.
    cnt = T.token_counts(docs).localCheckpoint(eager=True)
    return T.token_entropy_from_counts(cnt)


# --- per-source KL divergence vs the corpus token mix ------------------------

_KL_ORACLE = f"""
WITH cnt AS ({_ENTROPY_CNT}),
tot AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM cnt GROUP BY source
),
vocab AS (
  SELECT term, CAST(sum(n) AS BIGINT) AS m FROM cnt GROUP BY term
),
grand AS (
  SELECT CAST(sum(n) AS BIGINT) AS big_m FROM cnt
),
{{chain_n}},
{{chain_tot}},
{{chain_m}},
{{chain_gm}}
SELECT source, n_tokens, kl_q20,
       CAST(kl_q20 AS DOUBLE) / {1 << 20} AS kl_bits
FROM (
  SELECT source, n_tokens,
         CAST(sum(n * ((l2_n - l2_tot) - (l2_m - l2_gm))) AS BIGINT)
           // n_tokens AS kl_q20
  FROM dfin
  GROUP BY source, n_tokens
)
ORDER BY source
"""


def _kl_oracle() -> str:
    from kafka_clickhouse_example_spark.operators import sampling as SP

    chain_n = SP.log2fp_sql(
        "SELECT c.source, c.term, c.n, t.n_tokens, v.m, g.big_m, c.n AS h "
        "FROM cnt c JOIN tot t USING (source) JOIN vocab v USING (term) "
        "CROSS JOIN grand g",
        out_col="l2_n",
        prefix="a",
    )
    chain_tot = SP.log2fp_sql(
        "SELECT *, n_tokens AS h FROM afin", out_col="l2_tot", prefix="b"
    )
    chain_m = SP.log2fp_sql("SELECT *, m AS h FROM bfin", out_col="l2_m", prefix="c")
    chain_gm = SP.log2fp_sql(
        "SELECT *, big_m AS h FROM cfin", out_col="l2_gm", prefix="d"
    )
    return _KL_ORACLE.format(
        chain_n=chain_n.strip(),
        chain_tot=chain_tot.strip(),
        chain_m=chain_m.strip(),
        chain_gm=chain_gm.strip(),
    )


@register("text_token_kl_by_source", oracle=_kl_oracle())
def text_token_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the
    corpus-wide mix, in bits — the mixture-skew diagnostic: a source
    whose vocabulary usage matches the blended corpus scores ~0; a
    templated or off-domain source scores high. The standard companion
    to per-source entropy when reweighing pretraining mixes.

    KL(P_s||Q) = (1/N_s)·Σ_i n_si·((log2 n_si - log2 N_s) -
    (log2 m_i - log2 M)) — four logs, all in the cross-engine integer
    fixed point of operators/sampling.with_log2fp. The summand can be
    NEGATIVE (tokens the source under-uses), so the division happens
    ONCE on the summed numerator, with TRUNCATING division on both
    sides: Spark's `div` and DuckDB's integer `//` both round toward
    zero (verified empirically: (-5)//100 = 0 in DuckDB — its integer
    `//` is NOT Python floor division), so a near-identical
    distribution's slightly-negative quantized numerator lands at 0 in
    both engines. tests/test_skew.py pins this corner with a corpus
    whose numerator is provably negative.

    Scale: one (source, term) partial-agg shuffle; totals, vocabulary
    marginals, and the grand total all derive from the checkpointed
    vocab-sized counts (corpus explode runs once). The vocab marginal
    join is term-keyed (sort-merge/AQE; broadcastable while the vocab
    is); the per-source and grand totals broadcast. Same int64 bound as
    entropy: a single token type beyond ~1.8e11 occurrences per source
    needs DECIMAL promotion of the product.

    Like entropy, the counts relation is the mergeable state: the SAME
    serving math (T.token_kl_from_counts) runs over the incrementally-
    maintained counts matview with bit-identical results.
    """
    docs = _docs(spark, sf_dir)
    # same memo rationale as token_entropy above (r11 re-measured): the
    # totals/marginal consumers broadcast, so the de-materialized form
    # serializes on the counts shuffle per consumer and measured slower
    # (within-session eager 3.44-3.84 s vs none 3.62-4.78 s best-of-3).
    # r12 A/B (verdict ask #7): the window-over-source form (per-source
    # totals as a window inside a repartition('source') counts exchange,
    # vocab marginal still a broadcast join) also measured slower —
    # memo 2.83-3.18 s vs window 3.23-3.84 best-of-3 — and adds the
    # one-partition-per-source skew funnel. Kept the memo.
    cnt = T.token_counts(docs).localCheckpoint(eager=True)
    return T.token_kl_from_counts(cnt)
