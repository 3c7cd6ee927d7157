"""Text-analysis declared queries: tokenization statistics, language id,
TF-IDF/PMI/keywords, BPE, n-gram language models, readability, PII
redaction, chunking and vocabulary laws (Heaps, Zipf, Good-Turing).

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators import textops as tx
from jibaro_spark.operators.util import local_frame
from jibaro_spark.queries.registry import _NORM, _TOKS, _zipgrams, declare, load_tables


QTOK_ORACLE = f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       (CAST(LENGTH(text) AS DOUBLE) - (CAST(len({_TOKS}) AS DOUBLE) - 1)) / CAST(len({_TOKS}) AS DOUBLE) AS avg_token_len,
       CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE) AS alpha_ratio,
       CAST(len(list_distinct({_TOKS})) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) AS uniq_token_ratio
FROM documents
ORDER BY doc_id
"""


@declare("q_text_token_stats", oracle=QTOK_ORACLE, description="token counting + quality features, native exprs (U5 [ext] text analysis)")
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    feats = tx.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["uniq_token_ratio"].alias("uniq_token_ratio"),
    ).orderBy("doc_id")


def _hits_sql(lang_words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in lang_words) + "]"
    return f"len(list_intersect(list_distinct({_TOKS}), {arr}))"


QLANG_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {_hits_sql(tx.STOPWORDS['en'])} AS c_en,
         {_hits_sql(tx.STOPWORDS['es'])} AS c_es,
         {_hits_sql(tx.STOPWORDS['de'])} AS c_de,
         {_hits_sql(tx.STOPWORDS['fr'])} AS c_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
            WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
            WHEN c_de >= c_fr THEN 'de'
            ELSE 'fr' END AS detected_lang,
       CAST(c_en AS BIGINT) AS en_hits
FROM scored
ORDER BY doc_id
"""


@declare("q_text_language_id", oracle=QLANG_ORACLE, description="heuristic stopword-vote language ID (text analysis [ext])")
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # en_hits is the varying evidence column (fixture text is word-soup
    # whose stopwords are English-only, so detected_lang is uniformly
    # 'en' — the vote COUNTS are what the oracle can meaningfully check)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tx.language_id(F.col("text")).alias("detected_lang"),
        tx.stopword_hits(F.col("text"), "en").cast("long").alias("en_hits"),
    ).orderBy("doc_id")


QQUAL_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS DOUBLE) AS n_char,
         CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
         CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_uniq
  FROM documents
)
SELECT doc_id,
       ROUND(n_alpha / n_char * 0.5
             + n_uniq / n_tok * 0.4
             + (1.0 - n_punct / n_char) * 0.1, 6) AS quality
FROM f
ORDER BY doc_id
"""


@declare(
    "q_text_quality_score",
    oracle=QQUAL_ORACLE,
    description="composite text quality score, native exprs (text analysis [ext])",
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id", F.round(tx.quality_score(F.col("text")), 6).alias("quality")
    ).orderBy("doc_id")


QBPE_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '([a-z]{{1,4}}|[0-9]|[^a-z0-9\\s])', 1)) AS n_bpe_tokens,
       -- empty/whitespace text has ZERO tokens (split('') yields ['']
       -- in SQL — mirror the Spark token_count contract)
       CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_ws_tokens
FROM documents
ORDER BY doc_id
"""


@declare(
    "q_bpe_token_count",
    oracle=QBPE_ORACLE,
    description="BPE-ish subword token estimate vs whitespace tokens (token counting [ext])",
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        tx.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        tx.token_count(F.col("text")).alias("n_ws_tokens"),
    ).orderBy("doc_id")


# TF-IDF top terms per document.  Ranking is by (tf DESC, df ASC, term
# ASC) — integer keys only, so the top-3 choice is engine-independent;
# the float tfidf value is reported (rounded) but never ranked on.
QTFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE len(term) > 0
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROUND(tf.tf * LN((CAST(nd.n_docs AS DOUBLE) + 1.0) / (CAST(dfreq.df AS DOUBLE) + 1.0)), 6) AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rn
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf, df, tfidf, rn FROM ranked
WHERE rn <= 3
ORDER BY doc_id, rn
"""


@declare(
    "q_tfidf_top_terms",
    oracle=QTFIDF_ORACLE,
    description="TF-IDF top-3 terms per document, integer-keyed ranking (text analysis [ext])",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs").cast("double") + F.lit(1.0))
                    / (F.col("df").cast("double") + F.lit(1.0))
                ),
                6,
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


# Exact heavy hitters: global term frequencies, two-level hash
# aggregate (partial map-side combine after the explode keeps the
# shuffle at |distinct terms|, not |tokens|).
QHH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
  FROM toks WHERE len(term) > 0 GROUP BY term
)
SELECT term, n_occurrences, n_docs FROM tf
ORDER BY n_occurrences DESC, term ASC
LIMIT 50
"""


@declare(
    "q_heavy_hitter_terms",
    oracle=QHH_ORACLE,
    description="exact top-50 heavy-hitter terms (occurrences + doc frequency; text analysis [ext])",
)
def q_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("term")
    ).filter(F.length("term") > 0)
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(50)
    )


# Vocabulary building: contiguous token ids by (global frequency desc,
# term asc).  Counts shrink corpus → vocab before any ordering; the
# rank window runs over the top-k survivors only.
QVOCAB_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT term, COUNT(*) AS freq FROM toks WHERE len(term) > 0 GROUP BY term
), top AS (
  SELECT term, freq FROM tf ORDER BY freq DESC, term ASC LIMIT 100
)
SELECT term, freq,
       ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) - 1 AS token_id
FROM top
ORDER BY token_id
"""


@declare(
    "q_vocab_ids",
    oracle=QVOCAB_ORACLE,
    description="vocabulary construction: contiguous token ids by global frequency (training pipeline [ext])",
)
def q_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tf = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = tf.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(100)
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return (
        top.withColumn("token_id", F.row_number().over(w) - 1)
        .select("term", "freq", "token_id")
        .orderBy("token_id")
    )


# Gopher-style repetition signals: duplicate-bigram fraction and
# top-bigram character coverage — the "rep-ngram" boilerplate filters.
# Oracle mirrors dedup.shingles exactly (clamped 1-shingle short docs).
QREP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_NORM} AS nt, {_TOKS} AS w FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), g AS (
  SELECT doc_id, LENGTH(nt) AS len,
         unnest({_zipgrams('w', 2)}) AS gram
  FROM t
), c AS (
  SELECT doc_id, len, gram, COUNT(*) AS cnt FROM g GROUP BY 1,2,3
), s AS (
  SELECT doc_id, len, SUM(cnt) AS n_grams, COUNT(*) AS n_distinct FROM c GROUP BY 1,2
), top AS (
  SELECT doc_id, gram AS top_gram, cnt AS top_count
  FROM (SELECT doc_id, gram, cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
        FROM c) WHERE rn = 1
)
SELECT s.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       top_gram, CAST(top_count AS BIGINT) AS top_count,
       CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
       CASE WHEN len = 0 THEN 0.0
            ELSE CAST(LENGTH(top_gram) * top_count AS DOUBLE) / CAST(len AS DOUBLE)
       END AS top_char_frac
FROM s JOIN top USING (doc_id)
ORDER BY s.doc_id
"""


@declare(
    "q_repetition_stats",
    oracle=QREP_ORACLE,
    description="Gopher-style duplicate/top-bigram repetition quality signals (training pipeline [ext])",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repetition signals are per-identified-document over real text:
    # NULL ids (SQL joins drop them) and NULL text carry no signal
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    # r13 spread-at-the-map (the r12 signature-map pattern, guide
    # §2.5): repetition_stats is a zero-shuffle CPU-dense Project
    # (sort + run-length aggregate over every doc's gram array) that
    # otherwise runs entirely on the single-row-group scan's ONE core
    from jibaro_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(docs.select("doc_id", "text"), by="doc_id")
    return (
        tx.repetition_stats(docs, "doc_id", "text", n=2)
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "top_gram",
            F.col("top_count").cast("long").alias("top_count"),
            "dup_frac",
            "top_char_frac",
        )
        .orderBy("doc_id")
    )


# Overlapping token-window chunking (training context windows):
# chunk i = tokens [i*24, i*24+32).  Scalarized output: per-chunk token
# count + md5 fingerprint (the text column itself is for downstream
# use; the driver compare gets scalars).
QCHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
), tok AS (
  -- explode once; each token lands in at most ceil(32/24) = 2 chunks.
  -- The old per-chunk list_slice paid O(chunk_start) per slice —
  -- quadratic over the bigval fixture's 250k-token document.
  SELECT doc_id,
         unnest(w) AS tk,
         unnest(range(1, len(w)+1)) AS pos,
         CAST(floor(CAST(len(w)-1 AS DOUBLE)/24.0) AS BIGINT) AS max_chunk
  FROM t
), asg AS (
  -- token pos belongs to chunk i iff i*24+1 <= pos <= i*24+32
  SELECT doc_id, tk, pos,
         unnest(range(
           greatest(CAST(ceil(CAST(pos-32 AS DOUBLE)/24.0) AS BIGINT), 0),
           least(CAST(floor(CAST(pos-1 AS DOUBLE)/24.0) AS BIGINT), max_chunk) + 1
         )) AS chunk_id
  FROM tok
), c AS (
  SELECT doc_id, chunk_id, string_agg(tk, ' ' ORDER BY pos) AS chunk_text
  FROM asg GROUP BY doc_id, chunk_id
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens,
       md5(chunk_text) AS chunk_md5
FROM c
ORDER BY doc_id, chunk_id
"""


@declare(
    "q_chunk_documents",
    oracle=QCHUNK_ORACLE,
    description="overlapping token-window chunking for training contexts (training pipeline [ext])",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        tx.chunk_documents(docs, "doc_id", "text", chunk_tokens=32, stride=24)
        .select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            F.md5(F.col("chunk_text")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# Unigram LM quality score (perplexity-filter stand-in): per-doc mean
# -ln p(token) under the corpus's own unigram distribution.  Global
# term frequencies are one shuffle; the per-token -ln p values are
# rounded to 10 dp (absorbs libm 1-ulp differences) and accumulated as
# DECIMAL so the per-doc sum is order-independent and engine-exact.
QULM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT term, COUNT(*) AS freq FROM toks GROUP BY term
), tot AS (
  SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM tf
), scored AS (
  SELECT t.doc_id,
         CAST(ROUND(-LN(CAST(tf.freq AS DOUBLE) / tot.total), 10) AS DECIMAL(18,12)) AS nll
  FROM toks t JOIN tf USING (term), tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@declare(
    "q_unigram_logprob",
    oracle=QULM_ORACLE,
    description="unigram LM mean negative log-prob per doc — perplexity-filter stand-in (training pipeline [ext])",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    tot = tf.agg(F.sum("freq").cast("double").alias("total"))
    # vocab ≪ corpus: broadcast both the frequency table and the 1-row
    # total so scoring is a map-side join over the exploded tokens
    scored = (
        toks.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(-F.log(F.col("freq").cast("double") / F.col("total")), 10)
            .cast("decimal(18,12)")
            .alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_nll"
            ),
        )
        .orderBy("doc_id")
    )


# PII scrub: the fixture corpus is PII-free word soup, so the query
# injects deterministic synthetic PII (one email always + a second on
# even doc_ids so the count column varies; IPv4 on doc_id%3=0; phone on
# doc_id%5=0) and the operator must count and scrub exactly
# those.  Counts and the md5 of the scrubbed text are oracle-checked —
# a wrong pattern, wrong replace order, or missed occurrence changes
# the hash.  Patterns live in textops.PII_PATTERNS (Java-regex ∩ RE2).
_PII_INJ_SQL = """
  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
       || CASE WHEN doc_id % 2 = 0
               THEN ' cc backup.u' || CAST(doc_id AS VARCHAR) || '@alt.example.net'
               ELSE '' END
       || CASE WHEN doc_id % 3 = 0
               THEN ' src 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
               ELSE '' END
       || CASE WHEN doc_id % 5 = 0
               THEN ' tel +1-555-201-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END
"""

QPII_ORACLE = f"""
WITH inj AS (
  SELECT doc_id, {_PII_INJ_SQL} AS t FROM documents
), red AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]{{1,64}}@[A-Za-z0-9.-]{{1,253}}\\.[A-Za-z]{{2,63}}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(t, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS BIGINT) AS n_ipv4,
         CAST(len(regexp_extract_all(t, '\\+\\d{{1,2}}-\\d{{3}}-\\d{{3}}-\\d{{4}}')) AS BIGINT) AS n_phone,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]{{1,64}}@[A-Za-z0-9.-]{{1,253}}\\.[A-Za-z]{{2,63}}', '<EMAIL>', 'g'),
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'),
           '\\+\\d{{1,2}}-\\d{{3}}-\\d{{3}}-\\d{{4}}', '<PHONE>', 'g') AS redacted
  FROM inj
)
SELECT doc_id, n_email, n_ipv4, n_phone,
       CAST(LENGTH(redacted) AS BIGINT) AS redacted_len,
       md5(redacted) AS redacted_md5
FROM red
ORDER BY doc_id
"""


@declare(
    "q_pii_redact",
    oracle=QPII_ORACLE,
    description="PII detection + scrub (email/IPv4/phone) over injected synthetic PII — counts and scrubbed-text md5 oracle-checked (training pipeline [ext])",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        did.cast("string"),
        F.lit("@mail.example.com"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" cc backup.u"),
                did.cast("string"),
                F.lit("@alt.example.net"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" src 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" tel +1-555-201-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    withpii = docs.select("doc_id", injected.alias("t"))
    counts = tx.pii_counts(F.col("t"))
    return (
        withpii.select(
            "doc_id",
            counts["email"].alias("n_email"),
            counts["ipv4"].alias("n_ipv4"),
            counts["phone"].alias("n_phone"),
            tx.redact_pii(F.col("t")).alias("redacted"),
        )
        .select(
            "doc_id",
            "n_email",
            "n_ipv4",
            "n_phone",
            F.length("redacted").cast("long").alias("redacted_len"),
            F.md5("redacted").alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PMI bigram collocations: pmi(x,y) = ln( p(xy) / (p(x)·p(y)) ) with
# p(xy) = c_xy/N_bigrams and p(x) = c_x/N_tokens, computed as ONE
# double expression with identical operand order in both engines and
# rounded to 6 dp (absorbs libm last-ulp differences in ln).  Unigram
# and bigram counts are exact integers — the only float op is the
# final ratio+log.  Shape at scale: two token-keyed shuffles (unigram
# + bigram counts) and a broadcast join of the (vocab-sized) unigram
# table onto the bigram table.
QPMI_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), uni AS (
  SELECT unnest(ts) AS term FROM d
), uc AS (
  SELECT term, COUNT(*) AS c FROM uni GROUP BY term
), nu AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uc
), big AS (
  SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS t1,
         unnest(list_slice(ts, 2, len(ts))) AS t2
  FROM d
), bc AS (
  SELECT t1, t2, COUNT(*) AS c_xy FROM big GROUP BY t1, t2
), nb AS (
  SELECT CAST(SUM(c_xy) AS DOUBLE) AS n_big FROM bc
)
SELECT bc.t1, bc.t2, bc.c_xy,
       ROUND(LN(((CAST(bc.c_xy AS DOUBLE) * nu.n_uni) * nu.n_uni)
                / ((nb.n_big * CAST(u1.c AS DOUBLE)) * CAST(u2.c AS DOUBLE))), 6) AS pmi
FROM bc
JOIN uc u1 ON bc.t1 = u1.term
JOIN uc u2 ON bc.t2 = u2.term
CROSS JOIN nu CROSS JOIN nb
WHERE bc.c_xy >= 5
ORDER BY pmi DESC, bc.t1, bc.t2
LIMIT 50
"""


@declare(
    "q_pmi_bigrams",
    oracle=QPMI_ORACLE,
    description="top bigram collocations by pointwise mutual information (corpus stats [ext])",
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select("doc_id", tx.tokens(F.col("text")).alias("ts"))
    uni = d.select(F.explode("ts").alias("term"))
    uc = uni.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    nu = uc.agg(F.sum("c").cast("double").alias("n_uni"))
    n1 = F.size("ts") - 1
    big = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("ts", F.lit(1), n1).alias("t1"),
                F.slice("ts", F.lit(2), n1).alias("t2"),
            )
        ).alias("bg")
    ).select(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
    bc = big.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c_xy"))
    nb = bc.agg(F.sum("c_xy").cast("double").alias("n_big"))
    u1 = uc.select(F.col("term").alias("t1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("term").alias("t2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            ((F.col("c_xy").cast("double") * F.col("n_uni")) * F.col("n_uni"))
            / (
                (F.col("n_big") * F.col("c1").cast("double"))
                * F.col("c2").cast("double")
            )
        ),
        6,
    )
    return (
        bc.filter(F.col("c_xy") >= 5)
        .join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select("t1", "t2", "c_xy", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Per-document Shannon entropy of the token distribution (a repetition
# /diversity quality signal: low entropy ⇒ template/spam-like text).
# Each type's -p·ln(p) is rounded to 10 dp and decimal-accumulated —
# the per-doc sum is order-independent and engine-exact.
QENT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, term
), wn AS (
  SELECT doc_id, term, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc
), e AS (
  SELECT doc_id, n,
         CAST(ROUND(-((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                      * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 10)
              AS DECIMAL(18,12)) AS h
  FROM wn
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(MIN(n) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(h) AS DOUBLE), 6) AS entropy
FROM e
GROUP BY doc_id
ORDER BY doc_id
"""


@declare(
    "q_doc_entropy",
    oracle=QENT_ORACLE,
    description="per-doc token-distribution Shannon entropy — diversity quality signal (text analysis [ext])",
)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tok = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wn = tc.withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    e = wn.select(
        "doc_id",
        "n",
        F.round(-(p * F.log(p)), 10).cast("decimal(18,12)").alias("h"),
    )
    return (
        e.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.min("n").cast("long").alias("n_tokens"),
            F.round(F.sum("h").cast("double"), 6).alias("entropy"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counting — the inner step of byte-pair-encoding
# tokenizer training: adjacent symbol-pair frequencies over the
# word-frequency dictionary (count words once, then weight each
# word's char pairs by its corpus frequency — the standard trick that
# makes BPE training corpus-size-independent after one pass).
QBPE_PAIRS_ORACLE = f"""
WITH words AS (
  SELECT unnest({_TOKS}) AS w FROM documents
), wf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair,
         freq
  FROM wf WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 30
"""


@declare(
    "q_bpe_merge_pairs",
    oracle=QBPE_PAIRS_ORACLE,
    description="adjacent char-pair frequencies over the word-frequency dict — the BPE training kernel (tokenizer [ext])",
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    words = docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    # pair extraction via zip_with over two char-array slices: string
    # substr(i, 2) seeks code points from the string start (O(i) per
    # pair → O(len²) per word), and element_at(split(...), i) inside a
    # lambda re-evaluates the split per element — both were measured
    # wall cliffs on the bigval class's 100k-char unbroken tokens
    # (r11).  The slice form evaluates the split a bounded number of
    # times; the lambda touches only its O(1) element args.
    chars = F.split(F.col("w"), "")
    n1 = F.length("w") - 1
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(chars, 1, n1),
                    F.slice(chars, 2, n1),
                    lambda a, b: F.concat(a, b),
                )
            ).alias("pair"),
            "freq",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Bigram-LM perplexity: train an add-1-smoothed bigram language model
# on the corpus and score every document's perplexity — the
# CCNet-style LM quality filter (documents far from the corpus
# distribution score high).  Per-bigram log probs are rounded to 10dp
# and decimal-summed (the PMI/entropy determinism recipe); the final
# exp is taken on the rounded mean.  Shuffles: bigram counts (grows
# with corpus — joined, never broadcast) + the per-doc rollup.
QBPPL_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), uc AS (
  SELECT term, COUNT(*) AS c FROM (SELECT unnest(ts) AS term FROM d) GROUP BY term
), v AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS vsize FROM uc
), big AS (
  SELECT doc_id,
         unnest(list_slice(ts, 1, len(ts) - 1)) AS t1,
         unnest(list_slice(ts, 2, len(ts))) AS t2
  FROM d
  WHERE len(ts) >= 2
), bc AS (
  SELECT t1, t2, COUNT(*) AS c_xy FROM big GROUP BY t1, t2
), scored AS (
  SELECT b.doc_id,
         ROUND(LN((CAST(bc.c_xy AS DOUBLE) + 1.0)
                  / (CAST(u1.c AS DOUBLE) + v.vsize)), 10) AS lp
  FROM big b
  JOIN bc ON b.t1 = bc.t1 AND b.t2 = bc.t2
  JOIN uc u1 ON b.t1 = u1.term
  CROSS JOIN v
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(EXP(-(CAST(SUM(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*))), 6)
         AS perplexity
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@declare(
    "q_bigram_perplexity",
    oracle=QBPPL_ORACLE,
    description="add-1 bigram LM perplexity per document — the LM quality-filter signal (curation [ext])",
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # tokenization (interpreted HOF) feeds the unigram counts AND the
    # bigram expansion, whose consumers shuffle on DIFFERENT keys (term
    # vs (t1,t2)) — materialize the token arrays once (same reuse
    # discipline as the cross-doc shingle query).  The bigram explode
    # itself is NOT checkpointed: its two consumers both exchange on
    # (t1,t2), which Catalyst already reuses, and at 100 TB
    # materializing the bigram table would cost more than the reuse.
    d = docs.select("doc_id", tokens(F.col("text")).alias("ts")).localCheckpoint(
        eager=True
    )
    uc = (
        d.select(F.explode("ts").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    v = uc.agg(F.count(F.lit(1)).cast("double").alias("vsize"))
    n1 = F.size("ts") - 1
    big = (
        d.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("ts", F.lit(1), n1).alias("t1"),
                    F.slice("ts", F.lit(2), n1).alias("t2"),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
    )
    bc = big.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c_xy"))
    u1 = uc.select(F.col("term").alias("t1"), F.col("c").alias("c1"))
    lp = F.round(
        F.log(
            (F.col("c_xy").cast("double") + F.lit(1.0))
            / (F.col("c1").cast("double") + F.col("vsize"))
        ),
        10,
    )
    scored = (
        big.join(bc, ["t1", "t2"])
        .join(u1, "t1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", lp.alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.exp(
                    -(
                        F.sum(F.col("lp").cast("decimal(28,10)")).cast("double")
                        / F.count(F.lit(1))
                    )
                ),
                6,
            ).alias("perplexity"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Quality-model inference: a fixed logistic model over the quality
# features — the model-scoring step of a curation pipeline (classifier
# weights broadcast as literals, score entirely map-side; at 100 TB
# this is one scan, zero shuffles before the tiny band rollup).  The
# linear term is rounded to 6dp BEFORE the sigmoid and the probability
# to 6dp after, the same transcendental-determinism recipe the
# PMI/entropy queries use.
QQMODEL_ORACLE = f"""
WITH f AS (
  SELECT doc_id, lang,
         CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / CAST(LENGTH(text) AS DOUBLE) AS alpha_ratio,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
           / CAST(LENGTH(text) AS DOUBLE) AS punct_ratio,
         CAST(len(list_distinct({{toks}})) AS DOUBLE) / CAST(len({{toks}}) AS DOUBLE)
           AS uniq_token_ratio,
         CAST(len({{toks}}) AS DOUBLE) AS n_tok
  FROM documents
), z AS (
  SELECT doc_id, lang,
         ROUND(-1.5 + 2.0 * alpha_ratio + 1.2 * uniq_token_ratio
               - 3.0 * punct_ratio + 0.002 * n_tok, 6) AS z
  FROM f
), p AS (
  SELECT doc_id, lang, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS p FROM z
)
SELECT lang,
       CASE WHEN p >= 0.75 THEN 'high' WHEN p >= 0.5 THEN 'mid' ELSE 'low' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sum_p
FROM p
GROUP BY lang, band
ORDER BY lang, band
""".replace("{toks}", "string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')")


@declare(
    "q_quality_model_score",
    oracle=QQMODEL_ORACLE,
    description="logistic quality-model inference: broadcast-literal weights, map-side sigmoid scoring, per-lang band rollup (curation [ext])",
)
def q_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import quality_features

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    f = quality_features(F.col("text"))
    z = F.round(
        F.lit(-1.5)
        + F.lit(2.0) * f["alpha_ratio"]
        + F.lit(1.2) * f["uniq_token_ratio"]
        - F.lit(3.0) * f["punct_ratio"]
        + F.lit(0.002) * f["n_tokens"].cast("double"),
        6,
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    band = (
        F.when(p >= 0.75, "high").when(p >= 0.5, "mid").otherwise("low")
    )
    return (
        docs.select("lang", p.alias("__p"), band.alias("band"))
        .groupBy("lang", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("__p").cast("decimal(18,6)")).cast("double").alias("sum_p"),
        )
        .orderBy("lang", "band")
    )


# ---------------------------------------------------------------------------
# BPE vocabulary training: iterative most-frequent-pair merges over the
# word-frequency table (operators/bpe.py — the corpus is touched once
# for the word count; every round is vocab-sized).  Non-SQL-expressible
# (argmax-dependent iterative rewrite) → rows-only for the driver,
# exact-pinned against a pure-Python reference BPE in pytest.


@declare(
    "q_bpe_train",
    oracle=None,
    description="BPE tokenizer training: iterative adjacent-pair merges over the word-frequency table (tokenizer [ext])",
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.bpe import bpe_train
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    wc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .count()
    )
    merges = bpe_train(wc, "w", "count", num_merges=12)
    return local_frame(spark, merges, "round int, left string, right string, freq long")


# ---------------------------------------------------------------------------
# Sentence splitting — the chunking-adjacent curation primitive, run
# on the NATIVE lane (posexplode(split): Scan → Generate inside
# whole-stage codegen, zero Python).  The same contract is carried by
# a Python UDTF and a mapInArrow kernel (operators/udtf_ops.py) —
# row-identical, pinned in tests — completing the §2.9 table-function
# surface.  sent_id keeps the pre-filter split index (gap semantics
# identical across all lanes and the oracle).
QSENT_ORACLE = r"""
WITH s AS (
  SELECT doc_id, string_split_regex(trim(text), '[.!?]+\s+') AS ss
  FROM documents
), e AS (
  SELECT doc_id, unnest(range(1, len(ss) + 1)) AS i, ss FROM s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(i - 1 AS INT) AS sent_id,
       ss[i] AS sentence
FROM e WHERE len(ss[i]) > 0
ORDER BY doc_id, sent_id
"""


@declare(
    "q_sentence_split",
    oracle=QSENT_ORACLE,
    description="sentence splitting on the native Generate lane; UDTF + mapInArrow lanes carry the identical contract (U5/§2.9 [ext])",
)
def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.udtf_ops import split_sentences_native

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return split_sentences_native(docs).orderBy("doc_id", "sent_id")


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope per source ([ext] corpus statistics — the
# canonical sanity check that a text source is natural-language-like:
# ln(freq) vs ln(rank) over the top-50 terms should fall near slope
# −1; synthetic or templated sources flatten or step).  Token counts
# are exact; top-50 per source is a SALTED two-phase top-k (local
# top-50 per (source, 64-way token-hash salt), then rank the ≤ 64·50
# survivors — the global top-50 is provably inside the salted union,
# and no task ever sorts a full per-source vocabulary).  The OLS
# slope runs on 50 rows per source with round(ln·,10)→decimal sums.
QZIPF_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS tok
  FROM documents
), freq AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks WHERE tok <> '' GROUP BY 1, 2
), ranked AS (
  SELECT source, tok, f,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY f DESC, tok) AS r
  FROM freq
), top AS (
  SELECT source,
         CAST(ROUND(LN(r), 10) AS DECIMAL(18,10)) AS x,
         CAST(ROUND(LN(f), 10) AS DECIMAL(18,10)) AS y
  FROM ranked WHERE r <= 50
), s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(38,20))) AS DOUBLE) AS sxy
  FROM top GROUP BY source
)
SELECT source, n AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM s
ORDER BY source
"""


@declare(
    "q_zipf_slope",
    oracle=QZIPF_ORACLE,
    description="Zipf rank-frequency log-log OLS slope of the top-50 terms per source — salted two-phase top-k, decimal ln sums (corpus stats [ext])",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    # salted two-phase top-k: the global top-50 per source is inside
    # the union of per-salt local top-50s, so no task sorts a full
    # per-source vocabulary (same discipline as the ES-sampling and
    # KMV bottom-k rewrites)
    w_local = Window.partitionBy("source", "__salt").orderBy(
        F.desc("f"), F.asc("tok")
    )
    pruned = (
        freq.withColumn("__salt", F.pmod(F.xxhash64("tok"), F.lit(64)))
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= 50)
    )
    w_global = Window.partitionBy("source").orderBy(F.desc("f"), F.asc("tok"))
    top = (
        pruned.withColumn("r", F.row_number().over(w_global))
        .filter(F.col("r") <= 50)
        .select(
            "source",
            F.round(F.log("r"), 10).cast("decimal(18,10)").alias("x"),
            F.round(F.log("f"), 10).cast("decimal(18,10)").alias("y"),
        )
    )
    s = top.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,20)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,20)"))
        .cast("double")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "source",
        F.col("n").alias("n_terms"),
        F.round(
            (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (nd * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Top-3 TF-IDF keywords per document ([ext] text analysis — the
# per-document companion of the corpus-level BM25/Zipf machinery).
# tf is an integer count; idf = ROUND(ln(N/df), 10) is a decimal
# scalar per token; scores tf·idf are exact decimals so the
# (score desc, token asc) ranking is engine-independent.  The rank
# window partitions by doc_id — vocabulary-bounded per doc, never
# corpus-wide.

QDK_ORACLE = """
WITH toks AS (
  SELECT doc_id, t AS tok, COUNT(*) AS tf
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
  WHERE length(t) >= 3
  GROUP BY doc_id, t
), n AS (
  SELECT COUNT(*) AS nd FROM documents
), df AS (
  SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
), idf AS (
  SELECT tok, CAST(ROUND(LN(CAST(n.nd AS DOUBLE) / df.df), 10)
                   AS DECIMAL(18,12)) AS idf
  FROM df, n
), scored AS (
  SELECT t.doc_id, t.tok,
         CAST(t.tf AS DECIMAL(18,0)) * i.idf AS score
  FROM toks t JOIN idf i ON t.tok = i.tok
), ranked AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok,
       ROUND(CAST(score AS DOUBLE), 6) AS score
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
"""


@declare(
    "q_doc_keywords",
    oracle=QDK_ORACLE,
    description="Top-3 TF-IDF keywords per document: integer tf, round(ln(N/df),10)-decimal idf, exact decimal ranking under a doc-keyed window (text [ext])",
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
        )
        .filter(F.length("tok") >= 3)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = df.crossJoin(F.broadcast(nd)).select(
        "tok",
        F.round(F.log(F.col("nd").cast("double") / F.col("df")), 10)
        .cast("decimal(18,12)")
        .alias("idf"),
    )
    scored = toks.join(idf, "tok").select(
        "doc_id",
        "tok",
        (F.col("tf").cast("decimal(18,0)") * F.col("idf")).alias("score"),
    )
    rk_w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rk"),
            "tok",
            F.round(F.col("score").cast("double"), 6).alias("score"),
        )
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# Flesch reading ease per source ([ext] text quality).  All three
# inputs are integer counts aggregated map-side; the score is one
# double expression over exact totals.  Syllables ≈ vowel groups
# ([aeiouy]+ runs) — the standard cheap proxy.

QRD_ORACLE = """
WITH d AS (
  SELECT source,
         len(list_filter(string_split(trim(lower(text)), ' '), t -> t <> ''))
           AS words,
         len(list_filter(string_split(text, '. '), s -> length(trim(s)) > 0))
           AS sents,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syls
  FROM documents
), t AS (
  SELECT source, SUM(words) AS w, SUM(sents) AS s, SUM(syls) AS y, COUNT(*) AS nd
  FROM d GROUP BY source
)
SELECT source, CAST(nd AS BIGINT) AS n_docs,
       CAST(w AS BIGINT) AS words, CAST(s AS BIGINT) AS sentences,
       CAST(y AS BIGINT) AS syllables,
       ROUND(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
             - 84.6 * (CAST(y AS DOUBLE) / w), 6) AS flesch
FROM t ORDER BY source
"""


@declare(
    "q_readability",
    oracle=QRD_ORACLE,
    description="Flesch reading-ease per source from integer word/sentence/vowel-group totals (regexp_extract_all syllable proxy) — the readability quality-filter signal (text quality [ext])",
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    words = F.size(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), " "), lambda t: t != ""
        )
    )
    sents = F.size(
        F.filter(
            F.split(F.col("text"), r"\. "),
            lambda s: F.length(F.trim(s)) > 0,
        )
    )
    syls = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    t = docs.select(
        "source", words.alias("words"), sents.alias("sents"), syls.alias("syls")
    ).groupBy("source").agg(
        F.sum("words").alias("w"),
        F.sum("sents").alias("s"),
        F.sum("syls").alias("y"),
        F.count(F.lit(1)).alias("nd"),
    )
    return t.select(
        "source",
        F.col("nd").cast("long").alias("n_docs"),
        F.col("w").cast("long").alias("words"),
        F.col("s").cast("long").alias("sentences"),
        F.col("y").cast("long").alias("syllables"),
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("w").cast("double") / F.col("s"))
            - 84.6 * (F.col("y").cast("double") / F.col("w")),
            6,
        ).alias("flesch"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# UTF-8 byte diagnostics per lang ([ext] multilingual curation): byte
# vs char totals, expansion factor, share of docs containing any
# non-ASCII — all integers until the final ratios.

QU8_ORACLE = """
WITH d AS (
  SELECT lang, length(text) AS chars, octet_length(encode(text)) AS bytes
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS n_chars,
       CAST(SUM(bytes) AS BIGINT) AS n_bytes,
       ROUND(CAST(SUM(bytes) AS DOUBLE) / SUM(chars), 6) AS bytes_per_char,
       ROUND(CAST(SUM(CASE WHEN bytes > chars THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS non_ascii_doc_share
FROM d GROUP BY lang ORDER BY lang
"""


@declare(
    "q_utf8_stats",
    oracle=QU8_ORACLE,
    description="UTF-8 expansion diagnostics per lang: byte/char totals, bytes-per-char, non-ASCII doc share — the encoding sanity pass for multilingual corpora (text [ext])",
)
def q_utf8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select(
        "lang",
        F.length("text").alias("chars"),
        F.octet_length("text").alias("bytes"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("n_chars"),
            F.sum("bytes").cast("long").alias("n_bytes"),
            F.round(F.sum("bytes").cast("double") / F.sum("chars"), 6).alias(
                "bytes_per_char"
            ),
            F.round(
                F.sum(F.when(F.col("bytes") > F.col("chars"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("non_ascii_doc_share"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth ([ext] corpus diagnostics): token first
# occurrence (MIN doc_id per token — one keyed agg) + doc-id decile
# cutoffs from the exact doc ECDF; V(checkpoint) and tokens-seen from
# counts-first joins.  The diversity curve that motivates dedup /
# mixture reweighting at 100 TB.

QHL_ORACLE = """
WITH toks AS (
  SELECT doc_id, t AS tok
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
  WHERE length(t) >= 2 AND doc_id IS NOT NULL
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
), ranked AS (
  SELECT doc_id, n_toks,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         COUNT(*) OVER () AS nd
  FROM per_doc
), cuts AS (
  SELECT dec.range + 1 AS decile, MAX(r.doc_id) AS cutoff
  FROM range(0, 10) dec JOIN ranked r
    ON r.rn <= (dec.range + 1) * r.nd / 10
  GROUP BY 1
), first_occ AS (
  SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok
)
SELECT c.decile,
       CAST((SELECT COUNT(*) FROM ranked r WHERE r.doc_id <= c.cutoff) AS BIGINT)
         AS n_docs,
       CAST((SELECT SUM(r.n_toks) FROM ranked r WHERE r.doc_id <= c.cutoff)
            AS BIGINT) AS tokens_seen,
       CAST((SELECT COUNT(*) FROM first_occ f WHERE f.fd <= c.cutoff) AS BIGINT)
         AS vocab
FROM cuts c ORDER BY c.decile
"""


@declare(
    "q_heaps_law",
    oracle=QHL_ORACLE,
    description="Heaps'-law vocabulary growth at doc-count deciles: token first occurrence + exact cutoffs, V(n) vs tokens seen — the corpus-diversity curve behind dedup/mixture decisions (text [ext])",
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the decile axis is doc_id order — a NULL id has no position in it
    # (and sorts opposite ways in Spark vs SQL windows)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull()
    )
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
        )
        .filter(F.length("tok") >= 2)
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the ranked/cumulative pass runs over the DOC table (corpus-count
    # bounded, not token volume); window is doc-sized by construction
    ranked = per_doc.select(
        "doc_id",
        "n_toks",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
        F.sum("n_toks").over(w).alias("cum_toks"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    )
    cuts = (
        ranked.select(
            "doc_id",
            "rn",
            "cum_toks",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
            "nd",
        )
        .filter(F.col("rn") <= F.col("decile") * F.col("nd") / 10)
        .groupBy("decile")
        .agg(
            F.max("doc_id").alias("cutoff"),
            F.max("rn").alias("n_docs"),
            F.max("cum_toks").alias("tokens_seen"),
        )
    )
    first_occ = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    vocab = (
        first_occ.join(F.broadcast(cuts.select("decile", "cutoff")), F.col("fd") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    return (
        cuts.join(vocab, "decile")
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("tokens_seen").cast("long").alias("tokens_seen"),
            F.col("vocab").cast("long").alias("vocab"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Chao1 + Good-Turing from the term frequency-of-frequency spectrum.

QCHAO_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                ' ')) AS term
  FROM documents
), tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY term
), spec AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(f) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM tf
)
SELECT v, n_tokens, f1, f2,
       ROUND(v + CASE WHEN f2 > 0
             THEN CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)
             ELSE CAST(f1 AS DOUBLE) * (f1 - 1) / 2.0 END, 6) AS chao1,
       ROUND(CAST(f1 AS DOUBLE) / n_tokens, 6) AS missing_mass
FROM spec
"""


@declare(
    "q_chao1_good_turing",
    oracle=QCHAO_ORACLE,
    description="Vocabulary-richness estimators from the term frequency-of-frequency spectrum: Chao1 unseen-species estimate + Good-Turing missing mass — the unseen-vocabulary diagnostics beside Heaps' law (corpus stats [ext])",
)
def q_chao1_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    spec = tf.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.sum((F.col("f") == 1).cast("int")).cast("long").alias("f1"),
        F.sum((F.col("f") == 2).cast("int")).cast("long").alias("f2"),
    )
    chao1 = F.col("v") + F.when(
        F.col("f2") > 0,
        F.col("f1").cast("double") * F.col("f1") / (2.0 * F.col("f2")),
    ).otherwise(F.col("f1").cast("double") * (F.col("f1") - 1) / 2.0)
    return spec.select(
        "v",
        "n_tokens",
        "f1",
        "f2",
        F.round(chao1, 6).alias("chao1"),
        F.round(F.col("f1").cast("double") / F.col("n_tokens"), 6).alias(
            "missing_mass"
        ),
    )


# ---------------------------------------------------------------------------
# Simpson diversity per source: 1 − Σ n_i(n_i−1) / (N(N−1)), exact
# integer numerators in DECIMAL(38,0) so the identity survives any N.

QSIMP_ORACLE = """
WITH toks AS (
  SELECT source,
         unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                ' ')) AS term
  FROM documents
), tf AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n FROM toks
  GROUP BY source, term
), agg AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) AS DECIMAL(38,0)) AS pairs
  FROM tf GROUP BY source
)
SELECT source, nn AS n_tokens,
       ROUND(1.0 - CAST(pairs AS DOUBLE)
             / (CAST(nn AS DOUBLE) * (nn - 1)), 6) AS simpson_d
FROM agg ORDER BY source
"""


@declare(
    "q_simpson_diversity",
    oracle=QSIMP_ORACLE,
    description="Simpson diversity index 1 − Σn_i(n_i−1)/(N(N−1)) of the per-source term distribution — exact integer pair counts, the evenness companion of per-source entropy (corpus stats [ext])",
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tf = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    agg = tf.groupBy("source").agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum((F.col("n") * (F.col("n") - 1)).cast("decimal(38,0)")).alias("pairs"),
    )
    return agg.select(
        "source",
        F.col("nn").alias("n_tokens"),
        F.round(
            F.lit(1.0)
            - F.col("pairs").cast("double")
            / (F.col("nn").cast("double") * (F.col("nn") - 1)),
            6,
        ).alias("simpson_d"),
    ).orderBy("source")


QBURST_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                ' ')) AS term
  FROM documents
), nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY term
), top AS (
  SELECT term, tf, df FROM tf ORDER BY tf DESC, term LIMIT 20
)
SELECT t.term, t.tf, t.df,
       ROUND(nd.n_docs * (1 - ROUND(exp(-CAST(t.tf AS DOUBLE) / nd.n_docs), 10)),
             6) AS poisson_df,
       ROUND(CAST(t.df AS DOUBLE)
             / (nd.n_docs * (1 - ROUND(exp(-CAST(t.tf AS DOUBLE) / nd.n_docs), 10))),
             6) AS burstiness
FROM top t CROSS JOIN nd
ORDER BY t.tf DESC, t.term
"""


@declare(
    "q_term_burstiness",
    oracle=QBURST_ORACLE,
    description="Church-Gale burstiness of the top-20 terms: observed document frequency vs the Poisson expectation n_docs·(1−e^(−tf/n_docs)) — the contagion diagnostic behind df- vs tf-weighting (corpus stats [ext])",
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    toks = toks.localCheckpoint(eager=True)  # n_docs + tf share it
    nd = toks.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    tf = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    top = tf.orderBy(F.col("tf").desc(), "term").limit(20)
    pdf = F.col("n_docs") * (
        1 - F.round(F.exp(-F.col("tf").cast("double") / F.col("n_docs")), 10)
    )
    return (
        top.crossJoin(F.broadcast(nd))
        .select(
            "term",
            "tf",
            "df",
            F.round(pdf, 6).alias("poisson_df"),
            F.round(F.col("df").cast("double") / pdf, 6).alias("burstiness"),
        )
        .orderBy(F.col("tf").desc(), "term")
    )
