"""Pipeline declared queries: CDC merge and SCD2, incremental view
maintenance, Avro/Protobuf codec round trips, data-quality audits and
privacy checks, multimodal decode, and LLM training-data preparation
(splits, mixtures, packing, batching).

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators import dedup as dd
from jibaro_spark.operators import multimodal as mm
from jibaro_spark.operators import textops as tx
from jibaro_spark.operators.cdc import cdc_apply
from jibaro_spark.operators.util import local_frame
from jibaro_spark.queries.registry import _NORM, _TOKS, declare, load_tables


# Deterministic train/validation/test split: bucket on the first hex
# nibble of md5(doc_id) — reproducible across engines, machines and
# partitionings (the property a 100 TB training pipeline needs: the
# split of any given document never depends on what else is in the
# batch).  0-b → train (12/16), c-d → valid (2/16), e-f → test (2/16).
QSPLIT_ORACLE = """
WITH assigned AS (
  SELECT lang,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'e' THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' THEN 'valid'
              ELSE 'train' END AS split,
         n_chars
  FROM documents
)
SELECT split, lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(n_chars) AS avg_chars
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
"""


@declare(
    "q_train_test_split",
    oracle=QSPLIT_ORACLE,
    description="deterministic md5-bucket train/valid/test split, per-language counts (training pipeline [ext])",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.queries.registry import davg

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib >= "e", "test").when(nib >= "c", "valid").otherwise("train")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("n_chars", "avg_chars", scale=2),
        )
        .orderBy("split", "lang")
    )


# Sequence packing: assign docs to fixed-token-budget training
# sequences by contiguous doc_id order.  The running total comes from
# the two-level distributed prefix sum (no global window); the oracle
# is the plain single-window SQL the operator must be row-identical to.
QPACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tokens
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(FLOOR(CAST(cum_tokens - n_tokens AS DOUBLE) / 512.0) AS BIGINT) AS seq_id
FROM c
ORDER BY doc_id
"""


@declare(
    "q_sequence_packing",
    oracle=QPACK_ORACLE,
    description="fixed-budget training-sequence packing via distributed two-level prefix sum (training pipeline [ext])",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import partitioned_prefix_sum

    # packing order is doc_id — a NULL id has no position in it, and a
    # NULL text has no token count; both are out of the packing frame
    # on both sides (greedy packing is order-sensitive, so ONE stray
    # row would shift every later sequence id)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", tx.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    cum = partitioned_prefix_sum(
        toks, "doc_id", "n_tokens", out_col="cum_tokens", chunk_width=64
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(512.0)).alias(
            "seq_id"
        ),
    ).orderBy("doc_id")


# Data-mixture report: per (source, lang) token shares and the
# resampling weight that would equalize token mass across groups —
# the bookkeeping behind mixture reweighting.  One grouped aggregate +
# a broadcast 1-row totals join; division order fixed for bit-identical
# doubles in both engines.
QMIX_ORACLE = f"""
WITH g AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
), t AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot, CAST(COUNT(*) AS DOUBLE) AS ng FROM g
)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / tot AS token_share,
       (tot / ng) / CAST(n_tokens AS DOUBLE) AS resample_weight
FROM g, t
ORDER BY source, lang
"""


@declare(
    "q_source_mix",
    oracle=QMIX_ORACLE,
    description="data-mixture report: per (source, lang) token share + equalizing resample weight (training pipeline [ext])",
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tx.tokens(F.col("text")))).alias("n_tokens"),
    )
    t = g.agg(
        F.sum("n_tokens").cast("double").alias("tot"),
        F.count(F.lit(1)).cast("double").alias("ng"),
    )
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("tot")).alias("token_share"),
            ((F.col("tot") / F.col("ng")) / F.col("n_tokens").cast("double")).alias(
                "resample_weight"
            ),
        )
        .orderBy("source", "lang")
    )


# Composed end-to-end curation pipeline — the flagship: simulate a
# replayed ingest (10% of docs re-keyed as duplicates), then
# quality-filter → exact-dedup (must remove exactly the injected
# copies) → deterministic split → per-split/lang token accounting.
# Every stage is a covered operator; this query checks their
# COMPOSITION end-to-end against one SQL oracle.
QCURATE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents WHERE doc_id % 10 = 0
), f AS (
  SELECT doc_id, text, lang,
         CAST(LENGTH(text) AS DOUBLE) AS n_char,
         CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
         CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_uniq
  FROM base
), scored AS (
  SELECT doc_id, lang, n_tok,
         n_alpha / n_char * 0.5 + n_uniq / n_tok * 0.4 + (1.0 - n_punct / n_char) * 0.1 AS quality,
         {_NORM} AS norm
  FROM f
), kept AS (
  SELECT doc_id, lang, n_tok FROM (
    SELECT doc_id, lang, n_tok,
           ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
    FROM scored WHERE quality >= 0.68 AND n_tok >= 15
  ) WHERE rn = 1
), assigned AS (
  SELECT lang, n_tok,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'e' THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' THEN 'valid'
              ELSE 'train' END AS split
  FROM kept
)
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
"""


@declare(
    "q_curation_pipeline",
    oracle=QCURATE_ORACLE,
    description="composed curation pipeline: replay-dup injection → quality filter → exact dedup → split → token accounting (flagship [ext])",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    base = docs.select("doc_id", "text", "lang").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
        )
    )
    scored = base.select(
        "doc_id",
        "lang",
        "text",
        F.size(tx.tokens(F.col("text"))).cast("double").alias("n_tok"),
        tx.quality_score(F.col("text")).alias("quality"),
    ).filter((F.col("quality") >= 0.68) & (F.col("n_tok") >= 15))
    kept = dd.dedup_exact(scored, content_cols=["text"], keep_order_col="doc_id")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = F.when(nib >= "e", "test").when(nib >= "c", "valid").otherwise("train")
    return (
        kept.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


# Temperature-scaled mixture resampling (the multilingual-corpus
# rebalancing rule: sampling probability ∝ share^alpha, alpha=0.5 —
# upweights tail sources without flattening completely).  sqrt() is
# IEEE-correctly-rounded in both engines; the tiny per-group sums are
# rounded→decimal-accumulated so the normalizer is bit-identical.
QMIXT_ORACLE = f"""
WITH g AS (
  SELECT source, lang, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
), s AS (
  SELECT source, lang, n_tokens,
         CAST(n_tokens AS DOUBLE) / (SELECT CAST(SUM(n_tokens) AS DOUBLE) FROM g) AS share
  FROM g
), z AS (
  SELECT CAST(SUM(CAST(round(sqrt(share), 10) AS DECIMAL(18,12))) AS DOUBLE) AS norm FROM s
)
SELECT source, lang, n_tokens, share,
       sqrt(share) / norm AS p_temp,
       (sqrt(share) / norm) / share AS resample_weight
FROM s, z
ORDER BY source, lang
"""


@declare(
    "q_mixture_temperature",
    oracle=QMIXT_ORACLE,
    description="temperature-scaled (alpha=0.5) mixture resampling probabilities + weights per (source, lang) (training pipeline [ext])",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    g = docs.groupBy("source", "lang").agg(
        F.sum(F.size(tx.tokens(F.col("text")))).alias("n_tokens")
    )
    tot = g.agg(F.sum("n_tokens").cast("double").alias("tot"))
    s = g.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("tot")).alias("share"),
    )
    z = s.agg(
        F.sum(F.round(F.sqrt("share"), 10).cast("decimal(18,12)"))
        .cast("double")
        .alias("norm")
    )
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "source",
            "lang",
            "n_tokens",
            "share",
            (F.sqrt("share") / F.col("norm")).alias("p_temp"),
            ((F.sqrt("share") / F.col("norm")) / F.col("share")).alias(
                "resample_weight"
            ),
        )
        .orderBy("source", "lang")
    )


# Deterministic change assignment over orders:
#   o_orderkey % 10 == 0 → 'd' (delete)
#   o_orderkey % 7  == 0 → 'u' (update: totalprice + 1000.0)
#   o_orderkey % 4  == 0 → 'c' (insert — these keys are excluded from
#                               the initial target state)
# Initial target = orders with o_orderkey % 4 != 0, op 'r' (snapshot).
_OP_SQL = """
CASE WHEN o_orderkey % 10 = 0 THEN 'd'
     WHEN o_orderkey % 7 = 0 THEN 'u'
     WHEN o_orderkey % 4 = 0 THEN 'c'
END
"""

QCDC_ORACLE = f"""
WITH target AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 'r' AS op
  FROM orders WHERE o_orderkey % 4 <> 0
), batch AS (
  SELECT o_orderkey,
         o_custkey,
         CASE WHEN {_OP_SQL} = 'u' THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus,
         {_OP_SQL} AS op
  FROM orders
  WHERE {_OP_SQL} IS NOT NULL
)
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, op
FROM (
  SELECT t.* FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.o_orderkey = t.o_orderkey)
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, op
  FROM batch WHERE op <> 'd'
)
ORDER BY o_orderkey
"""


def _synthetic_envelope(orders: DataFrame) -> DataFrame:
    """Debezium-shaped envelope (FIXTURES §1.3) derived from orders."""
    op = (
        F.when(F.col("o_orderkey") % 10 == 0, "d")
        .when(F.col("o_orderkey") % 7 == 0, "u")
        .when(F.col("o_orderkey") % 4 == 0, "c")
    )
    row_now = F.struct(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("__op") == "u", F.col("o_totalprice") + F.lit(1000.0)
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderstatus",
    )
    row_before = F.struct("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    return (
        orders.withColumn("__op", op)
        .filter(F.col("__op").isNotNull())
        .select(
            F.struct(F.col("o_orderkey")).alias("key"),
            F.struct(
                F.col("__op").alias("op"),
                F.when(F.col("__op") != "c", row_before).alias("before"),
                F.when(F.col("__op") != "d", row_now).alias("after"),
            ).alias("value"),
            F.col("o_orderdate").alias("timestamp"),
        )
    )


@declare(
    "q_cdc_merge_orders",
    oracle=QCDC_ORACLE,
    description="Debezium CDC MERGE semantics: matched-update / not-matched-insert / matched-delete (A7,K4,J3)",
)
def q_cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    target = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", F.lit("r").alias("op")
    )
    envelope = _synthetic_envelope(orders)
    return cdc_apply(target, envelope, key_cols=["o_orderkey"]).orderBy("o_orderkey")


# Multi-change-per-key batch: two envelope rows per key (an insert then
# an update at a later timestamp) — exercises the per-batch
# latest-per-key pre-dedup (A3) feeding MERGE (reference cdc.py:129-142).
QCDC2_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
)
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice ELSE o_totalprice + 500.0 END AS o_totalprice,
       CASE WHEN o_orderkey % 5 = 0 THEN 'c' ELSE 'u' END AS op
FROM base
WHERE o_orderkey % 7 != 0
ORDER BY o_orderkey
"""


@declare(
    "q_cdc_dedup_batch",
    oracle=QCDC2_ORACLE,
    description="latest-per-key pre-dedup of a multi-change batch before MERGE (A3 within CDC)",
)
def q_cdc_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    base = orders.filter(F.col("o_orderkey") % 3 == 0)
    mk = lambda price_col, op, ts_off: base.select(  # noqa: E731
        F.struct(F.col("o_orderkey")).alias("key"),
        F.struct(
            F.lit(op).alias("op"),
            F.lit(None).cast("struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>").alias("before"),
            F.struct("o_orderkey", "o_custkey", price_col.alias("o_totalprice")).alias("after"),
        ).alias("value"),
        (F.col("o_orderdate") + F.expr(f"INTERVAL {ts_off} SECOND")).alias("timestamp"),
    )
    # op mix in the surviving output: keys %5==0 get only the insert
    # ('c' survives), others get a later update ('u' wins), and keys
    # %7==0 get a final delete (dropped entirely) — latest-per-key must
    # order correctly across all three op kinds, and the output op
    # column genuinely varies.
    envelope = (
        mk(F.col("o_totalprice"), "c", 0)
        .unionByName(
            mk(F.col("o_totalprice") + F.lit(500.0), "u", 60).filter(
                F.col("key.o_orderkey") % 5 != 0
            )
        )
        .unionByName(
            mk(F.col("o_totalprice"), "d", 120).filter(
                F.col("key.o_orderkey") % 7 == 0
            )
        )
    )
    empty_target = local_frame(
        envelope.sparkSession,
        [],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, op string",
    )
    return cdc_apply(empty_target, envelope, key_cols=["o_orderkey"]).orderBy(
        "o_orderkey"
    )


#: container magic bytes per rotating kind — so the magic-byte sniffer
#: has real positives to detect (PNG 8B, MP4 ftyp 8B, ID3 3B)
_MAGIC_PNG = bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])
_MAGIC_MP4 = bytes([0x00, 0x00, 0x00, 0x20]) + b"ftyp"
_MAGIC_ID3 = b"ID3"


def _with_content(docs: DataFrame) -> DataFrame:
    """documents.text → opaque binary content (with the container's
    magic header prepended) + media metadata (kind rotates
    image/audio/video deterministically by doc_id)."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "video")
        .when(F.col("doc_id") % 3 == 1, "image")
        .otherwise("audio")
    )
    magic = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_MAGIC_MP4))
        .when(F.col("doc_id") % 3 == 1, F.lit(_MAGIC_PNG))
        .otherwise(F.lit(_MAGIC_ID3))
    )
    # the synthetic content derives from BOTH doc_id (magic/kind) and
    # text (payload) — docs missing either have no content on either
    # side (NULL-fuzz sweep; every oracle carries the matching WHERE)
    docs = docs.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.concat(magic, F.encode("text", "UTF-8")).alias("content"),
        mm.media_struct(
            kind,
            F.lit("application/octet-stream"),
            duration_ms=(F.col("n_chars") * 40).cast("bigint"),
        ).alias("media"),
    )


QMM_STATS_ORACLE = """
WITH c AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN '\\x00\\x00\\x00\\x20ftyp'::BLOB
               WHEN doc_id % 3 = 1 THEN '\\x89PNG\\x0D\\x0A\\x1A\\x0A'::BLOB
               ELSE 'ID3'::BLOB END) || encode(text) AS content
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT doc_id,
       octet_length(content) AS n_bytes,
       sha256(hex(content)) AS sha256_hex,
       CASE WHEN doc_id % 3 = 0 THEN 'video/mp4'
            WHEN doc_id % 3 = 1 THEN 'image/png'
            ELSE 'audio/mp3' END AS sniffed_mime
FROM c
ORDER BY doc_id
"""


@declare(
    "q_multimodal_stats",
    oracle=QMM_STATS_ORACLE,
    description="codec-free binary stats: size, sha256, magic sniff (multimodal [ext])",
)
def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # DuckDB's sha256 is VARCHAR-only, so the ORACLE column hashes the
    # hex encoding (uppercase in both engines); the operator's raw
    # binary sha256 stays and is covered by the unit tests.
    return (
        mm.content_stats(_with_content(docs))
        .select(
            "doc_id",
            "n_bytes",
            F.sha2(F.hex(F.col("content")), 256).alias("sha256_hex"),
            "sniffed_mime",
        )
        .orderBy("doc_id")
    )


def _len_decoder(payload: bytes, media: dict) -> dict:
    """SQL-expressible deterministic 'decoder' (see module docstring)."""
    n = len(payload)
    return {
        "dec_width": n % 64 + 1,
        "dec_height": (n // 64) % 64 + 1,
        "dec_mean_luma": (n * 2654435761 % 1000) / 1000.0,
        "dec_channels": 3,
    }


QMM_DECODE_ORACLE = """
WITH c AS (
  SELECT doc_id,
         octet_length(encode(text))
           + CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 8 END AS n
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT doc_id,
       n % 64 + 1 AS dec_width,
       (n // 64) % 64 + 1 AS dec_height,
       CAST((n * 2654435761 % 1000) AS DOUBLE) / 1000.0 AS dec_mean_luma,
       3 AS dec_channels
FROM c
ORDER BY doc_id
"""


@declare(
    "q_multimodal_decode",
    oracle=QMM_DECODE_ORACLE,
    description="Arrow-batched mapInPandas media decode plumbing, oracle-verified (multimodal [ext], U5)",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        mm.decode_media(_with_content(docs), decoder=_len_decoder)
        .select("doc_id", "dec_width", "dec_height", "dec_mean_luma", "dec_channels")
        .orderBy("doc_id")
    )


QMM_FRAMES_ORACLE = """
WITH plan AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 AND n_chars > 0
              THEN range(0, CAST(n_chars AS BIGINT) * 40, 1000)
              ELSE [] END AS frame_ts_ms
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT doc_id,
       len(frame_ts_ms) AS n_frames,
       frame_ts_ms[1] AS first_frame_ms,
       frame_ts_ms[-1] AS last_frame_ms
FROM plan
ORDER BY doc_id
"""


@declare(
    "q_frame_sample_plan",
    oracle=QMM_FRAMES_ORACLE,
    description="video frame-sampling plan from metadata, native sequence (multimodal [ext])",
)
def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # Scalar projection (driver canonicalizer can't sort array cells);
    # the plan array itself is exercised in tests.
    fts = F.col("frame_ts_ms")
    return (
        mm.plan_frame_samples(_with_content(docs), every_ms=1000)
        .select(
            "doc_id",
            F.size(fts).cast("long").alias("n_frames"),
            F.get(fts, 0).alias("first_frame_ms"),
            F.get(fts, F.size(fts) - 1).alias("last_frame_ms"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Length-grouped batching: bucket docs by token-length band, number
# them deterministically inside each band, cut fixed-size batches, and
# report per-batch padding waste (the measure length-grouping exists
# to minimize).  One shuffle on the band key; the in-band window is
# bounded by band size.  At 100 TB the band window would be replaced
# by the distributed prefix-sum numbering (partitioned_prefix_sum) —
# the band shape stays identical.
_BATCH_SIZE = 32

QLENB_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
), banded AS (
  SELECT doc_id, n_tokens, CAST(n_tokens // 8 AS BIGINT) AS band FROM d
), numbered AS (
  SELECT band, n_tokens,
         CAST((row_number() OVER (PARTITION BY band ORDER BY n_tokens, doc_id) - 1)
              // {_BATCH_SIZE} AS BIGINT) AS batch_id
  FROM banded
)
SELECT band, batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_tokens) AS BIGINT) AS max_len,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_waste
FROM numbered
GROUP BY band, batch_id
ORDER BY band, batch_id
"""


@declare(
    "q_length_batching",
    oracle=QLENB_ORACLE,
    description="length-grouped batch assembly + padding-waste accounting (training pipeline [ext])",
)
def q_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select(
        "doc_id", F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    banded = d.withColumn("band", (F.col("n_tokens") / 8).cast("long"))
    w = Window.partitionBy("band").orderBy("n_tokens", "doc_id")
    numbered = banded.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / _BATCH_SIZE).cast("long"),
    )
    return (
        numbered.groupBy("band", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("n_tokens").cast("long").alias("max_len"),
            F.sum("n_tokens").cast("long").alias("sum_len"),
            (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
            .cast("long")
            .alias("padding_waste"),
        )
        .orderBy("band", "batch_id")
    )


# ---------------------------------------------------------------------------
# Token-budget curation cut: per source, admit documents in the
# deterministic md5 shuffle order until the source's token budget is
# exhausted (the "take N tokens per domain" mixture step every corpus
# build runs).  The in-group running total is a window bounded by
# group size; at 100 TB the same cut runs on the distributed prefix
# sum (partitioned_prefix_sum) with identical semantics.  A doc is
# admitted if the budget was not already exhausted BEFORE it (so the
# boundary doc that crosses the budget is included — matching greedy
# sequential packing).
_TOKEN_BUDGET = 3000

QBUDGET_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), r AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tokens_before
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_admitted,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_admitted,
       CAST(MAX(tokens_before + n_tokens) AS BIGINT) AS high_water
FROM r
WHERE tokens_before < {_TOKEN_BUDGET}
GROUP BY source
ORDER BY source
"""


@declare(
    "q_token_budget_sample",
    oracle=QBUDGET_ORACLE,
    description="per-source token-budget admission in deterministic md5 order (curation mixture [ext])",
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select(
        "doc_id",
        "source",
        F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = d.withColumn(
        "tokens_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    )
    return (
        r.filter(F.col("tokens_before") < _TOKEN_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_admitted"),
            F.sum("n_tokens").cast("long").alias("tokens_admitted"),
            F.max(F.col("tokens_before") + F.col("n_tokens"))
            .cast("long")
            .alias("high_water"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: a MERGEABLE frequency sketch (depth×
# width counters, per-partition partial sketches combine by cell-wise
# sum — the property that makes it a distributed/streaming-rollup
# citizen, same family as the HLL/KMV queries).  CMS guarantees
# estimate ≥ true count (one-sided error ≤ εN w.h.p.), so top-k by
# estimate never misses a true heavy hitter above the error band.
# Built from native exprs only: the d hash rows are xxhash64(term, d),
# the sketch is a groupBy over (row, col) cells.  Declared rows-only
# (the sketch itself is engine-specific); tests/test_approx_ops.py
# pins estimate ≥ exact and bounded overestimate on the fixtures, and
# tests/test_round5_sketches.py pins the merge law.  The sketch/merge/
# lookup operators live in jibaro_spark.operators.sketches (promoted
# per VERDICT r4 §Next-7).


# ---------------------------------------------------------------------------
# Snapshot diff: row-level added/removed/changed audit between two
# versions of a table (operators/cdc.snapshot_diff).  Versions are
# derived deterministically from the orders fixture: v2 drops every
# 7th order, adds nothing, and reprices every 5th — so all three
# statuses appear with known counts.  Output is change-sized, never
# table-sized.
QSNAPDIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders
  WHERE o_orderkey % 7 <> 0
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(ROUND(o_totalprice * 1.1, 2) AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders
), j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                   OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                THEN 'changed' END AS status,
         CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN ''
              ELSE array_to_string(list_filter(
                [CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END,
                 CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END,
                 CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END],
                x -> x IS NOT NULL), ',') END AS changed_cols
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, status, changed_cols FROM j WHERE status IS NOT NULL
ORDER BY o_orderkey
"""


@declare(
    "q_snapshot_diff",
    oracle=QSNAPDIFF_ORACLE,
    description="row-level snapshot diff: added/removed/changed + column change sets between table versions (CDC audit [ext])",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import snapshot_diff

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2).cast("double"),
        ).otherwise(F.col("o_totalprice")),
    )
    return (
        snapshot_diff(old, new, ["o_orderkey"])
        .withColumn("changed_cols", F.concat_ws(",", "changed_cols"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# SCD2 versioned dimension build (operators/cdc.scd2_apply): close out
# the current version of every changed key, append the new version,
# keep full history — the versioned-dimension sibling of the
# reference's last-write-wins MERGE (cdc.py:203-216).  The change
# batch is deterministic: every 5th order repriced +100.00 effective
# 1998-12-01 (an exact double addition — a ×1.1 ROUND would land on
# .005 ties where Spark rounds HALF_UP and DuckDB HALF_EVEN).  One
# key-partitioned join; history passes through.
QSCD2_ORACLE = """
WITH dim AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(NULL AS DATE) AS valid_to
  FROM orders
), chg AS (
  SELECT o_orderkey,
         CAST(o_totalprice + 100.0 AS DOUBLE) AS o_totalprice,
         DATE '1998-12-01' AS eff
  FROM orders WHERE o_orderkey % 5 = 0
), expired AS (
  SELECT d.o_orderkey, d.o_totalprice, d.valid_from, c.eff AS valid_to
  FROM dim d JOIN chg c USING (o_orderkey)
), untouched AS (
  SELECT d.* FROM dim d ANTI JOIN chg c USING (o_orderkey)
), fresh AS (
  SELECT o_orderkey, o_totalprice, eff AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM chg
)
SELECT o_orderkey, o_totalprice, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM (SELECT * FROM expired UNION ALL SELECT * FROM untouched
      UNION ALL SELECT * FROM fresh)
ORDER BY o_orderkey, valid_from, is_current
"""


@declare(
    "q_scd2_history",
    oracle=QSCD2_ORACLE,
    description="SCD type-2 dimension apply: close-out + append versioned rows, full history kept (CDC family [ext])",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import scd2_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    dim = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    chg = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).cast("double").alias("o_totalprice"),
        F.lit("1998-12-01").cast("date").alias("eff"),
    )
    out = scd2_apply(dim, chg, keys=["o_orderkey"], effective_col="eff")
    return (
        out.withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("o_orderkey", "valid_from", "is_current")
    )


# ---------------------------------------------------------------------------
# Source-mix concentration (Gini over per-source token mass): THE
# data-mixing diagnostic for corpus curation — a gini near 1 means one
# source dominates the training mix.  All sums are exact integers
# (token counts), products rank×tokens stay < 2^53, so the double
# arithmetic is bit-identical across engines; the only rounding is the
# final 6 dp.  Two tiny aggregations (per-source rollup is
# #sources-bounded); the corpus is touched once.
QGINI_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), ranked AS (
  SELECT source, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS rnk
  FROM per_source
), g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(n_tokens) AS DOUBLE) AS total,
         CAST(SUM(rnk * n_tokens) AS DOUBLE) AS weighted
  FROM ranked
)
SELECT r.source, r.n_tokens,
       CAST(r.rnk AS BIGINT) AS rnk,
       ROUND(CAST(r.n_tokens AS DOUBLE) / g.total, 6) AS share,
       ROUND(2.0 * g.weighted / (g.n * g.total) - (g.n + 1.0) / g.n, 6) AS gini
FROM ranked r CROSS JOIN g
ORDER BY r.rnk
"""


@declare(
    "q_source_gini",
    oracle=QGINI_ORACLE,
    description="Gini concentration of token mass across sources — the corpus data-mixing diagnostic (curation [ext])",
)
def q_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    ranked = per_source.withColumn(
        "rnk", F.row_number().over(Window.orderBy("n_tokens", "source"))
    )
    g = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("n_tokens").cast("double").alias("total"),
        F.sum(F.col("rnk") * F.col("n_tokens")).cast("double").alias("weighted"),
    )
    return (
        ranked.crossJoin(F.broadcast(g))
        .select(
            "source",
            "n_tokens",
            F.col("rnk").cast("long").alias("rnk"),
            F.round(F.col("n_tokens").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.round(
                F.lit(2.0) * F.col("weighted") / (F.col("n") * F.col("total"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"),
                6,
            ).alias("gini"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (operators/cdc.incremental_agg_apply):
# a per-customer (n_orders, total_spend) rollup is maintained from a CDC
# change batch instead of re-scanning the fact table.  The oracle IS the
# maintained invariant: it recomputes the aggregate FROM SCRATCH over
# the changed fact table — incremental(full_agg(T), Δ) == full_agg(T′).
# Deterministic Δ: delete every 13th order, reprice (+50.25) every 5th
# surviving order, insert a clone (+1000000 key, +7.5 price) for every
# 9th surviving order.
QINCAGG_ORACLE = """
WITH fact AS (
  SELECT * FROM orders
  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
    AND o_totalprice IS NOT NULL
), surviving AS (
  SELECT * FROM fact WHERE o_orderkey % 13 <> 0
), repriced AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(28,4)) + CAST(50.25 AS DECIMAL(28,4))
              ELSE CAST(o_totalprice AS DECIMAL(28,4)) END AS price
  FROM surviving
), inserted AS (
  SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(28,4)) + CAST(7.5 AS DECIMAL(28,4)) AS price
  FROM surviving WHERE o_orderkey % 9 = 0
), t2 AS (
  SELECT * FROM repriced UNION ALL SELECT * FROM inserted
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(price AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS DOUBLE)
         AS total_spend
FROM t2
GROUP BY o_custkey
ORDER BY o_custkey
"""


@declare(
    "q_incremental_agg",
    oracle=QINCAGG_ORACLE,
    description="incrementally maintained SUM/COUNT rollup from a CDC delta — materialized-view maintenance; oracle recomputes from scratch (CDC family [ext])",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import incremental_agg_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the CDC identity/measure
    # columns must be defined — a NULL orderkey escapes both the delete
    # and survive modulo filters under three-valued logic, leaving the
    # maintained rollup and the from-scratch oracle disagreeing
    orders = orders.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    base_agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).alias("total_spend"),
    )
    # Δ arithmetic runs entirely in the DECIMAL domain: cast o_totalprice
    # to decimal(28,4) BEFORE adding decimal literals, so no engine ever
    # rounds a double at the cast boundary (r5 driver hash drift root cause
    # — the oracle mirrors the cast-first shape).
    dec_price = F.col("o_totalprice").cast("decimal(28,4)")
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.lit("d").alias("op"),
        "o_custkey",
        dec_price.alias("before_total_spend"),
        F.lit(None).cast("decimal(28,4)").alias("after_total_spend"),
    )
    surviving = orders.filter(F.col("o_orderkey") % 13 != 0)
    updates = surviving.filter(F.col("o_orderkey") % 5 == 0).select(
        F.lit("u").alias("op"),
        "o_custkey",
        dec_price.alias("before_total_spend"),
        (dec_price + F.lit("50.25").cast("decimal(28,4)")).alias("after_total_spend"),
    )
    inserts = surviving.filter(F.col("o_orderkey") % 9 == 0).select(
        F.lit("c").alias("op"),
        "o_custkey",
        F.lit(None).cast("decimal(28,4)").alias("before_total_spend"),
        (dec_price + F.lit("7.5").cast("decimal(28,4)")).alias("after_total_spend"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    out = incremental_agg_apply(
        base_agg, changes, keys=["o_custkey"], measure_cols=["total_spend"]
    )
    # Accumulate in DECIMAL, publish as DOUBLE: the output boundary must
    # carry only engine-neutral types (VARCHAR/BIGINT/DOUBLE) — the
    # driver's DuckDB lane materializes DECIMAL differently than Spark
    # ('123.4500' vs '123.45'), which is exactly the r5/r6 red-row class.
    return out.select(
        "o_custkey",
        "n",
        F.col("total_spend").cast("decimal(28,4)").cast("double").alias("total_spend"),
    ).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Data-quality expectations (operators/dq.py): the pre-promotion
# constraint gate — row-level rules in ONE scan, plus referential
# integrity as an anti-join.  Violations are INJECTED deterministically
# (every 97th lineitem gets a negated price, every 89th a null-ish
# future shipdate marker via quantity 0) so the report is non-trivial.
QDQ_ORACLE = """
WITH l AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 97 = 0 THEN -l_extendedprice
              ELSE l_extendedprice END AS price,
         CASE WHEN l_orderkey % 89 = 0 THEN 0 ELSE l_quantity END AS qty,
         CASE WHEN l_orderkey % 101 = 0 THEN l_orderkey + 9000000
              ELSE l_orderkey END AS fk_key
  FROM lineitem
), rules AS (
  SELECT 'fk_order_exists' AS rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
  FROM l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.fk_key = o.o_orderkey
  UNION ALL
  -- NULL and non-finite values count as violations (operators/dq.expect
  -- contract: an unexpected NULL/NaN/Inf inside a range check is a data
  -- problem, not a pass) — the pass-check ELSE 1 shape encodes the NULL
  -- side; the explicit finite fence is required because the engines
  -- disagree on NaN comparisons (DuckDB's vectorized NaN BETWEEN is
  -- even inconsistent with its own constant folding)
  SELECT 'price_positive', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN price > 0 AND isfinite(price)
                       THEN 0 ELSE 1 END) AS BIGINT)
  FROM l
  UNION ALL
  SELECT 'qty_in_1_50', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN qty BETWEEN 1 AND 50 AND isfinite(qty)
                       THEN 0 ELSE 1 END) AS BIGINT)
  FROM l
)
SELECT rule, n_rows, n_violations, (n_violations = 0) AS pass
FROM rules ORDER BY rule
"""


@declare(
    "q_dq_expectations",
    oracle=QDQ_ORACLE,
    description="data-quality expectation report: row rules in one scan + FK anti-join, violation counts per rule (constraint gate [ext])",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dq import expect, fk_violations

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    li = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_orderkey") % 97 == 0, -F.col("l_extendedprice")
        ).otherwise(F.col("l_extendedprice")).alias("price"),
        F.when(F.col("l_orderkey") % 89 == 0, F.lit(0))
        .otherwise(F.col("l_quantity"))
        .alias("qty"),
        F.when(
            F.col("l_orderkey") % 101 == 0, F.col("l_orderkey") + 9000000
        ).otherwise(F.col("l_orderkey")).alias("fk_key"),
    )
    # finite fence mirrors the oracle: a NaN/Inf measure is a violation
    # (Spark and DuckDB disagree on raw NaN comparisons)
    inf = float("inf")

    def finite(c):
        return ~F.isnan(c) & (F.col(c) < inf) & (F.col(c) > -inf)

    row_rules = expect(
        li,
        {
            "price_positive": ~((F.col("price") > 0) & finite("price")),
            "qty_in_1_50": ~(F.col("qty").between(1, 50) & finite("qty")),
        },
    )
    n_fk_bad = fk_violations(
        li, t["orders"], ["fk_key"], ["o_orderkey"]
    ).count()
    n_rows = li.count()
    fk_row = local_frame(
        li.sparkSession,
        [("fk_order_exists", n_rows, n_fk_bad, n_fk_bad == 0)],
        "rule string, n_rows long, n_violations long, pass boolean",
    )
    return row_rules.unionByName(fk_row).orderBy("rule")


# ---------------------------------------------------------------------------
# Avro codec round trip, driver-checked: rows → Avro binary (pure-
# stdlib spec codec) → Confluent frame → native wire slice → decode →
# rows.  decode(encode(x)) == x means the ORACLE is simply the source
# rows — any drift anywhere in the codec chain (zigzag, unions, frame
# offsets) breaks the hash.  The protobuf twin lives in pytest only:
# its runtime import cannot be assumed on the driver's workers.
QAVRO_RT_ORACLE = """
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id IS NOT NULL
ORDER BY doc_id
"""


@declare(
    "q_avro_roundtrip",
    oracle=QAVRO_RT_ORACLE,
    description="Confluent Avro encode→frame→slice→decode round trip over documents — codec chain hash-checked against the source rows (F4 [ext])",
)
def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from jibaro_spark.codecs.avro_python import (
        decode_avro_python,
        encode_avro_python,
    )
    from jibaro_spark.codecs.confluent import payload_of, schema_id_of, wire_encode

    # the record key is non-nullable by contract (the Kafka-message
    # shape this codec serves) — keyless documents are out of scope,
    # mirrored by the oracle's WHERE; NULL lang/n_chars roundtrip fine
    # through the Avro union encoding
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull()
    )
    rec = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), nullable=False),
            T.StructField("lang", T.StringType(), nullable=True),
            T.StructField("n_chars", T.LongType(), nullable=True),
        ]
    )
    framed = encode_avro_python(
        docs.select(
            F.struct(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("lang"),
                F.col("n_chars").cast("long").alias("n_chars"),
            ).alias("v")
        ),
        "v",
        rec,
    ).select(wire_encode(F.col("payload"), 31, "avro").alias("value"))
    sliced = framed.select(
        schema_id_of("value").alias("sid"),
        payload_of("value", "avro").alias("payload"),
    )
    decoded = decode_avro_python(sliced, "payload", rec)
    return (
        decoded.filter(F.col("sid") == 31)
        .select("value.doc_id", "value.lang", "value.n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Domain-mixture reweighting (DoReMi-lite / static mixture): given the
# actual token mass per source and a UNIFORM target mixture, emit the
# per-source sampling weight (target share / actual share, clipped to
# [0.25, 4]) and the token count a weighted sampler would draw.  The
# standard knob for re-balancing a web-scale corpus before training.
# Scale shape: one groupBy over the corpus (shuffles #sources rows),
# the target math is a crossJoin against a broadcast 1-row aggregate —
# no second corpus pass, no driver collect.  Determinism: integer
# token counts until the final per-row double divisions; weight
# rounded before the product so both engines multiply identical
# operands.
QMIXTURE_REWEIGHT_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), g AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per_source
), w AS (
  SELECT s.source, s.n_tokens,
         ROUND(CAST(s.n_tokens AS DOUBLE) / CAST(g.total AS DOUBLE), 6) AS share,
         ROUND(LEAST(GREATEST(
           CAST(g.total AS DOUBLE)
             / (CAST(g.n_sources AS DOUBLE) * CAST(s.n_tokens AS DOUBLE)),
           0.25), 4.0), 6) AS weight
  FROM per_source s CROSS JOIN g
)
SELECT source, n_tokens, share, weight,
       CAST(ROUND(CAST(n_tokens AS DOUBLE) * weight, 0) AS BIGINT)
         AS sampled_tokens
FROM w
ORDER BY source
"""


@declare(
    "q_mixture_reweight",
    oracle=QMIXTURE_REWEIGHT_ORACLE,
    description="static domain-mixture reweighting: per-source sampling weight toward a uniform token target, clipped — the corpus re-balancing knob (curation [ext])",
)
def q_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    g = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    weight = F.round(
        F.least(
            F.greatest(
                F.col("total").cast("double")
                / (F.col("n_sources").cast("double") * F.col("n_tokens").cast("double")),
                F.lit(0.25),
            ),
            F.lit(4.0),
        ),
        6,
    )
    return (
        per_source.crossJoin(F.broadcast(g))
        .select(
            "source",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("total").cast("double"), 6
            ).alias("share"),
            weight.alias("weight"),
        )
        .withColumn(
            "sampled_tokens",
            F.round(F.col("n_tokens").cast("double") * F.col("weight"), 0).cast(
                "long"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# One-scan table profiler over a typed projection of orders: row /
# null / exact-distinct counts and min/max rendered as strings.  Type
# renderings are pinned cross-engine by profiling a projection that
# casts doubles to DECIMAL(18,2) and timestamps to DATE-strings
# (double→string and timestamp→string formats differ between
# engines; decimal/date/integer/varchar renderings agree).
QPROFILE_ORACLE = """
WITH src AS (
  SELECT o_orderkey,
         o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total_dec,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day
  FROM orders
)
SELECT * FROM (
  SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
  FROM src
  UNION ALL
  SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM src
  UNION ALL
  SELECT 'total_dec', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(total_dec) AS BIGINT),
         CAST(COUNT(DISTINCT total_dec) AS BIGINT),
         CAST(MIN(total_dec) AS VARCHAR), CAST(MAX(total_dec) AS VARCHAR)
  FROM src
  UNION ALL
  SELECT 'order_day', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(order_day) AS BIGINT),
         CAST(COUNT(DISTINCT order_day) AS BIGINT),
         MIN(order_day), MAX(order_day)
  FROM src
) ORDER BY col_name
"""


@declare(
    "q_profile_orders",
    oracle=QPROFILE_ORACLE,
    description="one-scan column profiler (row/null/exact-distinct counts, min/max) over a typed orders projection (DQ family [ext])",
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dq import profile_table

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    src = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total_dec"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
    )
    # hash-spread before the profiler (r12, the moment-pass treatment):
    # the multi-distinct agg compiles to an Expand (rows × #cols) whose
    # map-side partials otherwise run on the single-row-group scan's
    # ONE core; counts/min/max are placement-independent
    from jibaro_spark.operators.util import ensure_parallelism

    return profile_table(ensure_parallelism(src, by="o_orderkey"))


# ---------------------------------------------------------------------------
# Protobuf codec round trip, driver-checked (VERDICT r5 §Next-3): rows
# → proto3 payload (programmatic FileDescriptorProto, no protoc) →
# Confluent frame with message-index byte → native wire slice →
# Arrow decode → rows.  decode(encode(x)) == x makes the ORACLE the
# source rows themselves — any drift in varint framing, field
# numbering, or the message-index parse breaks the hash.  The Avro
# twin is q_avro_roundtrip; this one additionally proves
# the per-worker runtime self-heal (proto_python.ensure_protobuf_runtime)
# works under the driver's own session, where $PYTHONPATH enablement
# cannot be assumed.  Fixture columns are non-null at every SF, so
# proto3's absent-scalar defaulting cannot alias a value.
QPROTO_RT_ORACLE = """
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL
ORDER BY doc_id
"""


@declare(
    "q_proto_roundtrip",
    oracle=QPROTO_RT_ORACLE,
    description="Confluent protobuf encode→frame→slice→decode round trip over documents — jar-free codec chain hash-checked against the source rows (F5 [ext])",
)
def q_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from jibaro_spark.codecs.confluent import payload_of, schema_id_of, wire_encode
    from jibaro_spark.codecs.proto_python import (
        decode_protobuf_python,
        encode_protobuf_python,
    )

    # proto3 scalars cannot represent NULL (absent encodes as ""/0),
    # so decode(encode(x)) == x only holds for fully non-null rows —
    # filter them on BOTH sides (the oracle's WHERE mirrors this);
    # the Avro twin keeps nullable lang/n_chars via union encoding
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("n_chars").isNotNull()
    )
    rec = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), nullable=False),
            T.StructField("lang", T.StringType(), nullable=True),
            T.StructField("n_chars", T.LongType(), nullable=True),
        ]
    )
    framed = encode_protobuf_python(
        docs.select(
            F.struct(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("lang"),
                F.col("n_chars").cast("long").alias("n_chars"),
            ).alias("v")
        ),
        "v",
        rec,
    ).select(wire_encode(F.col("payload"), 47, "protobuf").alias("value"))
    sliced = framed.select(
        schema_id_of("value").alias("sid"),
        payload_of("value", "protobuf").alias("payload"),
    )
    decoded = decode_protobuf_python(sliced, "payload", rec)
    return (
        decoded.filter(F.col("sid") == 47)
        .select("value.doc_id", "value.lang", "value.n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-source KL divergence from the corpus token distribution — the
# data-mixture drift metric (which sources are unrepresentative, and
# by how many nats) that complements q_mixture_reweight's mass-based
# weights.  KL(P_s‖Q) = Σ_t p(t|s)·ln(p(t|s)/q(t)); every probability
# is a ratio of exact integer counts, the per-term contribution is
# rounded then DECIMAL-summed (order-free — the repo's established
# float-sum determinism trick), and ln() runs on identical doubles in
# both engines.  Scale shape: one token-keyed count shuffle, the
# per-source totals are a broadcast dimension, and the term-frequency
# join is key-partitioned — no corpus re-scan, no driver collect.
QKL_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
), st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n_st
  FROM toks GROUP BY source, term
), s AS (
  SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s FROM st GROUP BY source
), t AS (
  SELECT term, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY term
), g AS (
  SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM t
)
SELECT st.source,
       MIN(s.n_s) AS n_tokens,
       ROUND(CAST(SUM(CAST(ROUND(
           (CAST(st.n_st AS DOUBLE) / s.n_s)
           * ln((CAST(st.n_st AS DOUBLE) * g.n)
                / (CAST(s.n_s AS DOUBLE) * t.n_t)), 8)
         AS DECIMAL(28,10))) AS DOUBLE), 6) AS kl_nats
FROM st
JOIN s USING (source)
JOIN t USING (term)
CROSS JOIN g
GROUP BY st.source
ORDER BY st.source
"""


@declare(
    "q_source_kl_divergence",
    oracle=QKL_ORACLE,
    description="per-source KL divergence from the corpus unigram distribution — data-mixture drift in nats, decimal-summed for cross-engine exactness (LLM mixture [ext])",
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n_st")
    )
    st = st.localCheckpoint(eager=True)  # three aggregates share this pass
    s = st.groupBy("source").agg(F.sum("n_st").cast("long").alias("n_s"))
    t = st.groupBy("term").agg(F.sum("n_st").cast("long").alias("n_t"))
    g = t.agg(F.sum("n_t").cast("long").alias("n"))
    contrib = F.round(
        (F.col("n_st").cast("double") / F.col("n_s"))
        * F.log(
            (F.col("n_st").cast("double") * F.col("n"))
            / (F.col("n_s").cast("double") * F.col("n_t"))
        ),
        8,
    ).cast("decimal(28,10)")
    return (
        st.join(F.broadcast(s), "source")
        .join(t, "term")
        .crossJoin(F.broadcast(g))
        .groupBy("source")
        .agg(
            F.min("n_s").alias("n_tokens"),
            F.round(F.sum(contrib).cast("double"), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join: facts resolve against the dimension VERSION
# that was valid at the fact's timestamp — the warehouse temporal join
# (distinct from the as-of family: the predicate is validity-interval
# membership, not nearest-neighbor).  Dim = the q_scd2_history build
# (every 5th order repriced effective 1998-12-01); facts = lineitem
# rows timestamped by l_shipdate, which straddles the effective date,
# so both the expired and the fresh versions receive hits.  Scale
# shape: ONE equi-join on the dimension key carrying the interval
# predicate as a residual filter — key-partitioned, never a range
# cross join; versions-per-key is small by construction (SCD2 keeps
# one open + closed history), so per-key fan-out is bounded.
QSCD2PIT_ORACLE = """
WITH dim AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(NULL AS DATE) AS valid_to
  FROM orders
), chg AS (
  SELECT o_orderkey,
         CAST(o_totalprice + 100.0 AS DOUBLE) AS o_totalprice,
         DATE '1998-12-01' AS eff
  FROM orders WHERE o_orderkey % 5 = 0
), expired AS (
  SELECT d.o_orderkey, d.o_totalprice, d.valid_from, c.eff AS valid_to
  FROM dim d JOIN chg c USING (o_orderkey)
), untouched AS (
  SELECT d.* FROM dim d ANTI JOIN chg c USING (o_orderkey)
), fresh AS (
  SELECT o_orderkey, o_totalprice, eff AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM chg
), scd2 AS (
  SELECT * FROM expired UNION ALL SELECT * FROM untouched
  UNION ALL SELECT * FROM fresh
), fact AS (
  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS fd, l_quantity
  FROM lineitem WHERE l_shipdate IS NOT NULL
), joined AS (
  SELECT f.l_orderkey, f.fd, f.l_quantity, s.o_totalprice,
         (s.valid_to IS NULL) AS hit_current
  FROM fact f JOIN scd2 s
    ON f.l_orderkey = s.o_orderkey
   AND f.fd >= s.valid_from
   AND (s.valid_to IS NULL OR f.fd < s.valid_to)
)
SELECT CAST(YEAR(fd) AS INT) AS ship_year, hit_current,
       CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS dim_price_sum
FROM joined
GROUP BY ship_year, hit_current
ORDER BY ship_year, hit_current
"""


@declare(
    "q_scd2_pointintime",
    oracle=QSCD2PIT_ORACLE,
    description="point-in-time fact→SCD2-version join (validity-interval membership on the key partition) — the warehouse temporal join (J4/CDC family [ext])",
)
def q_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import scd2_apply

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    orders = t["orders"]
    dim = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    chg = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).cast("double").alias("o_totalprice"),
        F.lit("1998-12-01").cast("date").alias("eff"),
    )
    scd2 = scd2_apply(dim, chg, keys=["o_orderkey"], effective_col="eff")
    fact = t["lineitem"].filter(F.col("l_shipdate").isNotNull()).select(
        "l_orderkey",
        F.col("l_shipdate").cast("date").alias("fd"),
        "l_quantity",
    )
    joined = fact.join(
        scd2,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("fd") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("fd") < F.col("valid_to"))),
    ).select(
        "fd",
        "o_totalprice",
        F.col("valid_to").isNull().alias("hit_current"),
    )
    return (
        joined.groupBy(
            F.year("fd").cast("int").alias("ship_year"), "hit_current"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_facts"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("dim_price_sum"),
        )
        .orderBy("ship_year", "hit_current")
    )


# ---------------------------------------------------------------------------
# Population stability index between the pre-1998 and 1998+ order
# populations over fixed 50k price bands, Laplace-smoothed (+1 per
# band over all 10 fixed bands, so empty bands contribute finitely
# and deterministically).  PSI = Σ (p2-p1)·ln(p2/p1); per-band
# contributions emitted.  The band spine is a generated range joined
# left, totals a broadcast row.
QPSI_ORACLE = """
WITH b AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS band,
         CASE WHEN CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) < DATE '1998-01-01'
              THEN 0 ELSE 1 END AS half
  FROM orders
), spine AS (SELECT CAST(range AS BIGINT) AS band FROM range(0, 10)),
c AS (
  SELECT s.band,
         COALESCE(SUM(CASE WHEN b.half = 0 THEN 1 ELSE 0 END), 0) AS n1,
         COALESCE(SUM(CASE WHEN b.half = 1 THEN 1 ELSE 0 END), 0) AS n2
  FROM spine s LEFT JOIN b ON b.band = s.band
  GROUP BY s.band
), t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM c)
SELECT band, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND((CAST(n2 + 1 AS DOUBLE) / (t2 + 10) - CAST(n1 + 1 AS DOUBLE) / (t1 + 10))
             * LN((CAST(n2 + 1 AS DOUBLE) / (t2 + 10))
                  / (CAST(n1 + 1 AS DOUBLE) / (t1 + 10))), 6) AS psi_contrib
FROM c CROSS JOIN t
ORDER BY band
"""


@declare(
    "q_psi_drift",
    oracle=QPSI_ORACLE,
    description="population stability index contributions between pre/post-1998 order populations over fixed price bands — Laplace-smoothed drift monitoring (stats [ext])",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    b = orders.select(
        F.least(F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9).cast("long")).alias("band"),
        F.when(F.to_date("o_orderdate") < F.lit("1998-01-01"), 0).otherwise(1).alias("half"),
    )
    spine = spark.range(0, 10).select(F.col("id").alias("band"))
    c = (
        spine.join(b, "band", "left")
        .groupBy("band")
        .agg(
            F.coalesce(F.sum(F.when(F.col("half") == 0, 1).otherwise(0)), F.lit(0)).alias("n1"),
            F.coalesce(F.sum(F.when(F.col("half") == 1, 1).otherwise(0)), F.lit(0)).alias("n2"),
        )
    )
    t = c.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    p1 = (F.col("n1") + 1).cast("double") / (F.col("t1") + 10)
    p2 = (F.col("n2") + 1).cast("double") / (F.col("t2") + 10)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "band",
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round((p2 - p1) * F.log(p2 / p1), 6).alias("psi_contrib"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit ([ext] data quality).  The fixture is
# FK-consistent, so the audit runs against a SIMULATED stale dimension
# snapshot — parent keys divisible by 97 are treated as missing (a
# deterministic stand-in for "the dim table lagged a day behind the
# facts").  One row per FK edge: child rows scanned, orphans, ppm.
# At 100 TB each edge is a left-anti join of the fact against a
# distinct parent key-set — broadcast when the dim fits, shuffle
# anti-join otherwise; Catalyst picks per AQE stats.  No collect.
QFK_ORACLE = """
WITH
o_keys AS (SELECT DISTINCT o_orderkey  AS k FROM orders   WHERE o_orderkey  % 97 <> 0),
p_keys AS (SELECT DISTINCT p_partkey   AS k FROM part     WHERE p_partkey   % 97 <> 0),
s_keys AS (SELECT DISTINCT s_suppkey   AS k FROM supplier WHERE s_suppkey   % 97 <> 0),
c_keys AS (SELECT DISTINCT c_custkey   AS k FROM customer WHERE c_custkey   % 97 <> 0),
n_keys AS (SELECT DISTINCT n_nationkey AS k FROM nation   WHERE n_nationkey % 97 <> 0),
edges AS (
  SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_child,
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS n_orphan
  FROM lineitem LEFT JOIN o_keys ON l_orderkey = k
  UNION ALL
  SELECT 'lineitem->part', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM lineitem LEFT JOIN p_keys ON l_partkey = k
  UNION ALL
  SELECT 'lineitem->supplier', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM lineitem LEFT JOIN s_keys ON l_suppkey = k
  UNION ALL
  SELECT 'orders->customer', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM orders LEFT JOIN c_keys ON o_custkey = k
  UNION ALL
  SELECT 'customer->nation', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM customer LEFT JOIN n_keys ON c_nationkey = k
)
SELECT fk_edge,
       CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphan AS BIGINT) AS n_orphan,
       ROUND(CAST(n_orphan AS DOUBLE) * 1000000 / CAST(n_child AS DOUBLE), 1)
         AS orphan_ppm
FROM edges
ORDER BY fk_edge
"""


@declare(
    "q_fk_orphan_audit",
    oracle=QFK_ORACLE,
    description="Referential-integrity audit vs a simulated stale dimension snapshot (keys %97 missing): orphan count + ppm per FK edge (DQ [ext])",
)
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "customer", "nation"
    )

    def edge(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str,
             name: str, broadcast_dim: bool = False) -> DataFrame:
        # Hint broadcast ONLY for genuinely dimension-sized parents
        # (nation/supplier — bounded key sets); orders/part/customer
        # key-sets are fact-scale, and a forced broadcast of those
        # would OOM a 1000-executor cluster.  AQE picks broadcast vs
        # shuffle from runtime stats for the unhinted edges.
        keys = (
            parent.where(F.col(parent_key) % 97 != 0)
            .select(F.col(parent_key).alias("__k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        if broadcast_dim:
            keys = F.broadcast(keys)
        joined = child.join(keys, child[child_key] == F.col("__k"), "left")
        return joined.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("n_orphan"),
        )

    edges = [
        edge(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey", "lineitem->orders"),
        edge(t["lineitem"], "l_partkey", t["part"], "p_partkey", "lineitem->part"),
        edge(t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey",
             "lineitem->supplier", broadcast_dim=True),
        edge(t["orders"], "o_custkey", t["customer"], "c_custkey", "orders->customer"),
        edge(t["customer"], "c_nationkey", t["nation"], "n_nationkey",
             "customer->nation", broadcast_dim=True),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.select(
        "fk_edge",
        F.col("n_child").cast("bigint").alias("n_child"),
        F.col("n_orphan").cast("bigint").alias("n_orphan"),
        F.round(
            F.col("n_orphan").cast("double") * 1000000 / F.col("n_child").cast("double"),
            1,
        ).alias("orphan_ppm"),
    ).orderBy("fk_edge")


# ---------------------------------------------------------------------------
# Table-reconciliation partition checksums ([ext] ops).  Replica
# divergence detection without moving data: bucket rows by key, sum a
# per-row 48-bit md5-derived fingerprint per bucket — two replicas
# compare 64 (bucket, n_rows, checksum) triples instead of 100 TB of
# rows, and a mismatched bucket localizes the diff to 1/64 of the
# table.  The fingerprint uses only integer-typed columns so the
# string rendering is engine-independent; the sum ACCUMULATES as
# DECIMAL(38,0) so it never wraps (2^48 × 10^12 rows < 10^27), and the
# PUBLISHED checksum is that exact sum reduced mod 2^61−1 (Mersenne) —
# a standard modular fingerprint that fits BIGINT, keeping the output
# boundary engine-neutral (DECIMAL(38,0) at the boundary was the r6
# red-row class).  Map-side partial aggregation makes this one scan +
# a 64-row shuffle.
_CHK_MOD = 2305843009213693951  # 2^61 - 1

QCHK_ORACLE = f"""
SELECT l_orderkey % 64 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(CAST(SUM(CAST(CAST(('0x' || substr(
              md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                  CAST(l_linenumber AS VARCHAR) || '|' ||
                  CAST(l_partkey AS VARCHAR) || '|' ||
                  CAST(l_suppkey AS VARCHAR)), 1, 12)) AS BIGINT)
            AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS HUGEINT)
            % {_CHK_MOD} AS BIGINT) AS checksum
FROM lineitem
WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
  AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
GROUP BY 1
ORDER BY 1
"""


@declare(
    "q_partition_checksums",
    oracle=QCHK_ORACLE,
    description="Per-bucket md5 row-fingerprint checksums for cross-replica table reconciliation — 64 rows summarize the whole table (ops [ext])",
)
def q_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): every fingerprint column
    # must be defined — concat_ws skips NULL parts where SQL ||
    # propagates them, silently checksumming different strings
    li = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_partkey").isNotNull()
        & F.col("l_suppkey").isNotNull()
    )
    # Spread the per-row md5 fingerprint map (guide §2.5 input skew —
    # the single-file scan otherwise runs it on one core), shuffling
    # ONLY the four key columns (guide §2.3 project-before-exchange).
    # Deterministic hash on the key; no-op on an already-parallel scan.
    # Measured 1.8-2.2 → 1.0-1.2 s at sf0.1 in a same-session ABAB.
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        by="l_orderkey",
    )
    fp = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("l_partkey").cast("string"),
                    F.col("l_suppkey").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("decimal(28,0)")
    return (
        li.groupBy((F.col("l_orderkey") % 64).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            # exact decimal accumulation, modular BIGINT boundary
            (F.sum(fp).cast("decimal(38,0)") % F.lit(_CHK_MOD))
            .cast("long")
            .alias("checksum"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit ([ext] privacy).  Before releasing a table keyed
# by quasi-identifiers, count the re-identifiable rows: for each k in
# a ladder, how many QI groups are smaller than k and what fraction of
# rows they hold.  One group-size aggregate feeds every k (the ladder
# is a broadcast literal), so the audit is one shuffle regardless of
# how many thresholds are screened.  QI here: (nation, segment).
QKANON_ORACLE = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS s FROM customer GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(s) AS BIGINT) AS n FROM g
), ladder AS (
  SELECT unnest([2, 5, 10, 25]) AS k
)
SELECT l.k,
       CAST(SUM(CASE WHEN g.s < l.k THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
       CAST(SUM(CASE WHEN g.s < l.k THEN g.s ELSE 0 END) AS BIGINT) AS rows_at_risk,
       ROUND(CAST(SUM(CASE WHEN g.s < l.k THEN g.s ELSE 0 END) AS DOUBLE)
             / CAST(MAX(tot.n) AS DOUBLE), 6) AS risk_frac
FROM ladder l CROSS JOIN g CROSS JOIN tot
GROUP BY l.k
ORDER BY l.k
"""


@declare(
    "q_k_anonymity",
    oracle=QKANON_ORACLE,
    description="k-anonymity release audit over (nation, segment) quasi-identifiers: violating groups + rows at risk per k ladder (privacy [ext])",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("s"))
    tot = g.agg(F.sum("s").cast("bigint").alias("n"))
    ladder = local_frame(spark, [(2,), (5,), (10,), (25,)], "k int")
    return (
        F.broadcast(ladder)
        .crossJoin(g)
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("s") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("violating_groups"),
            F.sum(F.when(F.col("s") < F.col("k"), F.col("s")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
            F.round(
                F.sum(
                    F.when(F.col("s") < F.col("k"), F.col("s")).otherwise(0)
                ).cast("double")
                / F.max("n").cast("double"),
                6,
            ).alias("risk_frac"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Incremental MIN/MAX maintenance under CDC ([ext] IVM — the
# non-self-maintainable case q_incremental_agg's SUM/COUNT form cannot
# cover: deleting the extremum forces a per-key repair).  Same
# deterministic Δ recipe as q_incremental_agg (delete %13, reprice
# %5 +50.25, insert clone %9 +7.5); the oracle IS the maintained
# invariant — recompute MIN/MAX/COUNT from scratch over the changed
# table.  The operator self-maintains clean keys from the delta alone
# and rescans ONLY the dirty keys (removal touched the stored
# extremum, new key, emptied key) via a keyed semi-join of the
# post-change fact — change-batch-bounded at any scale.
QMINMAX_ORACLE = """
WITH fact AS (
  SELECT * FROM orders
  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
    AND o_totalprice IS NOT NULL
), surviving AS (
  SELECT * FROM fact WHERE o_orderkey % 13 <> 0
), repriced AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(28,4)) + CAST(50.25 AS DECIMAL(28,4))
              ELSE CAST(o_totalprice AS DECIMAL(28,4)) END AS price
  FROM surviving
), inserted AS (
  SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(28,4)) + CAST(7.5 AS DECIMAL(28,4)) AS price
  FROM surviving WHERE o_orderkey % 9 = 0
), t2 AS (
  SELECT * FROM repriced UNION ALL SELECT * FROM inserted
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(MIN(price) AS DECIMAL(28,4)) AS DOUBLE) AS min_price,
       CAST(CAST(MAX(price) AS DECIMAL(28,4)) AS DOUBLE) AS max_price
FROM t2
GROUP BY o_custkey
ORDER BY o_custkey
"""


@declare(
    "q_incremental_minmax",
    oracle=QMINMAX_ORACLE,
    description="incrementally maintained MIN/MAX/COUNT rollup from a CDC delta with dirty-key-bounded rescan — the non-self-maintainable IVM case; oracle recomputes from scratch (CDC [ext])",
)
def q_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import incremental_minmax_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): same fence as
    # q_incremental_agg — a NULL orderkey escapes both modulo filters
    orders = orders.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    dec_price = F.col("o_totalprice").cast("decimal(28,4)")
    base_agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(dec_price).alias("min_v"),
        F.max(dec_price).alias("max_v"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.lit("d").alias("op"),
        "o_custkey",
        dec_price.alias("before_v"),
        F.lit(None).cast("decimal(28,4)").alias("after_v"),
    )
    surviving = orders.filter(F.col("o_orderkey") % 13 != 0)
    updates = surviving.filter(F.col("o_orderkey") % 5 == 0).select(
        F.lit("u").alias("op"),
        "o_custkey",
        dec_price.alias("before_v"),
        (dec_price + F.lit("50.25").cast("decimal(28,4)")).alias("after_v"),
    )
    inserts = surviving.filter(F.col("o_orderkey") % 9 == 0).select(
        F.lit("c").alias("op"),
        "o_custkey",
        F.lit(None).cast("decimal(28,4)").alias("before_v"),
        (dec_price + F.lit("7.5").cast("decimal(28,4)")).alias("after_v"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    # the post-change fact table the dirty-key rescan reads
    repriced = surviving.select(
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            dec_price + F.lit("50.25").cast("decimal(28,4)"),
        )
        .otherwise(dec_price)
        .alias("price"),
    )
    inserted = (
        surviving.filter(F.col("o_orderkey") % 9 == 0)
        .select(
            "o_custkey",
            (dec_price + F.lit("7.5").cast("decimal(28,4)")).alias("price"),
        )
    )
    new_fact = repriced.unionByName(inserted)
    out = incremental_minmax_apply(
        base_agg, changes, new_fact, keys=["o_custkey"], value_col="price"
    )
    return out.select(
        "o_custkey",
        "n",
        F.col("min_v").cast("decimal(28,4)").cast("double").alias("min_price"),
        F.col("max_v").cast("decimal(28,4)").cast("double").alias("max_price"),
    ).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Join-view IVM ([ext] incremental view maintenance, third classic
# case).  The stored view is orders ⋈ customer at the order grain; a
# deterministic CDC batch (deletes %89, +10%-price updates %97,
# key-shifted inserts %101) maintains it through
# incremental_join_apply — Δfact joins the dimension, the view is
# touched only by a keyed anti-join.  The oracle recomputes the
# post-change join from scratch, pinning apply(V, Δ) == V′.
QIJ_ORACLE = """
WITH f0 AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), f1 AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 97 = 0 THEN cents + cents // 10
              ELSE cents END AS cents
  FROM f0 WHERE o_orderkey % 89 <> 0
  UNION ALL
  SELECT o_orderkey + 600000000, o_custkey, cents + 50000
  FROM f0
  WHERE o_orderkey % 101 = 0 AND o_orderkey % 89 <> 0 AND o_orderkey % 97 <> 0
), v AS (
  SELECT f.o_orderkey, c.c_nationkey, f.cents
  FROM f1 f JOIN customer c ON f.o_custkey = c.c_custkey
)
SELECT c_nationkey AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / 100, 2) AS revenue
FROM v GROUP BY 1 ORDER BY 1
"""


@declare(
    "q_incremental_join",
    oracle=QIJ_ORACLE,
    description="Join-view IVM: maintain orders ⋈ customer under a CDC batch via delta-join + keyed anti-join (never re-joining the stored view), oracle = scratch recompute (IVM [ext])",
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import incremental_join_apply

    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    fact0 = o.select("o_orderkey", "o_custkey", cents.alias("cents"))
    dim = c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    view0 = fact0.join(dim, "o_custkey").select(
        "o_orderkey", "o_custkey", "c_nationkey", "cents"
    )
    k = F.col("o_orderkey")
    dels = fact0.filter(k % 89 == 0).withColumn("op", F.lit("d"))
    upds = (
        fact0.filter((k % 97 == 0) & (k % 89 != 0))
        .withColumn("cents", F.col("cents") + F.expr("cents div 10"))
        .withColumn("op", F.lit("u"))
    )
    ins = (
        fact0.filter((k % 101 == 0) & (k % 89 != 0) & (k % 97 != 0))
        .select(
            (k + 600000000).alias("o_orderkey"),
            "o_custkey",
            (F.col("cents") + 50000).alias("cents"),
        )
        .withColumn("op", F.lit("c"))
    )
    changes = dels.unionByName(upds).unionByName(ins)
    view1 = incremental_join_apply(view0, changes, dim, "o_orderkey", "o_custkey")
    return (
        view1.groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("cents").cast("decimal(38,0)")).cast("double") / 100, 2
            ).alias("revenue"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Functional-dependency audit ([ext] data quality — the FD side of the
# dq-expectations wing): for each candidate lhs→rhs, collapse to
# DISTINCT (lhs, rhs) pairs map-side, count rhs values per lhs key,
# report keys violating determinism.  Each FD costs two keyed aggs
# over its distinct pair table, never a row-level shuffle of the fact.

QFD_ORACLE = """
WITH fd1 AS (
  SELECT 'o_custkey->o_orderpriority' AS fd,
         COUNT(*) AS keys_total,
         SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS keys_violating
  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS c
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY o_custkey)
), fd2 AS (
  SELECT 'o_orderkey->o_custkey',
         COUNT(*), SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)
  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS c
        FROM orders
        WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        GROUP BY o_orderkey)
), fd3 AS (
  SELECT 'l_orderkey->l_returnflag',
         COUNT(*), SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)
  FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS c
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
        GROUP BY l_orderkey)
), fd4 AS (
  SELECT 'l_partkey->l_suppkey',
         COUNT(*), SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)
  FROM (SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS c
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
        GROUP BY l_partkey)
), u AS (
  SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
  UNION ALL SELECT * FROM fd3 UNION ALL SELECT * FROM fd4
)
SELECT fd, CAST(keys_total AS BIGINT) AS keys_total,
       CAST(keys_violating AS BIGINT) AS keys_violating,
       ROUND(CAST(keys_violating AS DOUBLE) / keys_total, 6) AS violation_rate
FROM u ORDER BY fd
"""


@declare(
    "q_fd_violations",
    oracle=QFD_ORACLE,
    description="Functional-dependency audit over four candidate FDs: distinct-pair collapse + per-key rhs cardinality, violation counts and rates (data quality [ext])",
)
def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")

    def audit(df: DataFrame, lhs: str, rhs: str) -> DataFrame:
        # NULL contract (relational fuzz sweep): SQL COUNT(DISTINCT rhs)
        # skips NULLs while distinct() keeps the (lhs, NULL) pair as a
        # value — audit only defined pairs, declared on both sides
        per_key = (
            df.select(lhs, rhs)
            .filter(F.col(lhs).isNotNull() & F.col(rhs).isNotNull())
            .distinct()
            .groupBy(lhs)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return per_key.agg(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).alias("keys_total"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("keys_violating"),
        )

    u = (
        audit(t["orders"], "o_custkey", "o_orderpriority")
        .unionByName(audit(t["orders"], "o_orderkey", "o_custkey"))
        .unionByName(audit(t["lineitem"], "l_orderkey", "l_returnflag"))
        .unionByName(audit(t["lineitem"], "l_partkey", "l_suppkey"))
    )
    return u.select(
        "fd",
        F.col("keys_total").cast("long").alias("keys_total"),
        F.col("keys_violating").cast("long").alias("keys_violating"),
        F.round(
            F.col("keys_violating").cast("double") / F.col("keys_total"), 6
        ).alias("violation_rate"),
    ).orderBy("fd")


# ---------------------------------------------------------------------------
# l-diversity audit ([ext] privacy — the sensitive-attribute companion
# of q_k_anonymity): per (mktsegment, nation) QI group, group size and
# the number of DISTINCT sensitive values (acctbal thousand-bands).
# A release is l-diverse iff min(l) ≥ l.

QLD_ORACLE = """
WITH b AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nation,
         CAST(FLOOR(CAST(c_acctbal AS DECIMAL(18,2)) / 1000) AS BIGINT) AS band
  FROM customer
)
SELECT seg, CAST(nation AS BIGINT) AS nation,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT band) AS BIGINT) AS l
FROM b GROUP BY seg, nation
ORDER BY seg, nation
"""


@declare(
    "q_l_diversity",
    oracle=QLD_ORACLE,
    description="l-diversity audit per (mktsegment, nation) QI group: distinct sensitive acctbal bands per group — companion of the k-anonymity audit (privacy [ext])",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir, "customer")["customer"]
    b = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal").cast("decimal(18,2)") / 1000)
        .cast("long")
        .alias("band"),
    )
    return (
        b.groupBy("seg", "nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.countDistinct("band").cast("long").alias("l"),
        )
        .select(
            "seg",
            F.col("nation").cast("long").alias("nation"),
            "group_size",
            "l",
        )
        .orderBy("seg", "nation")
    )


# ---------------------------------------------------------------------------
# Deterministic 5-fold cross-validation ([ext] ML eval): fold =
# md5(doc_id) mod 5, classifier = the integer-exact " the " heuristic,
# truth = lang = 'en'.  Per-fold accuracy from pure integer cells —
# the fold-assignment + grouped-eval shape of any distributed CV.

QCV_ORACLE = """
WITH s AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 5 AS fold,
         CASE WHEN (position(' the ' IN lower(text)) > 0) = (lang = 'en')
              THEN 1 ELSE 0 END AS correct
  FROM documents
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(correct) AS BIGINT) AS n_correct,
       ROUND(CAST(SUM(correct) AS DOUBLE) / COUNT(*), 6) AS accuracy
FROM s GROUP BY fold ORDER BY fold
"""


@declare(
    "q_cv_folds",
    oracle=QCV_ORACLE,
    description="Deterministic 5-fold CV (md5 fold assignment) of the integer-exact English heuristic vs the lang label: per-fold accuracy from integer cells (ML eval [ext])",
)
def q_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 5
    )
    correct = F.when(
        (F.instr(F.lower(F.col("text")), " the ") > 0) == (F.col("lang") == "en"), 1
    ).otherwise(0)
    s = docs.select(fold.alias("fold"), correct.alias("correct"))
    return (
        s.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("correct").cast("long").alias("n_correct"),
            F.round(F.sum("correct").cast("double") / F.count(F.lit(1)), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# Distinct-count IVM.  Base view: distinct ordering customers per
# priority.  CDC batch: delete every order with key %89 == 0 (each
# delete is an occurrence-delete of that order's (priority, customer)
# pair) and insert key-shifted copies for %101 with the customer
# shifted by +3000000 (new distinct values).  The auxiliary
# multiplicity table absorbs both; the oracle recomputes from the
# post-change fact.

QID_ORACLE = """
WITH fact AS (
  SELECT * FROM orders
  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
    AND o_orderpriority IS NOT NULL
), f1 AS (
  SELECT o_orderpriority AS pr, o_custkey AS ck
  FROM fact WHERE o_orderkey % 89 <> 0
  UNION ALL
  SELECT o_orderpriority, o_custkey + 3000000
  FROM fact WHERE o_orderkey % 101 = 0 AND o_orderkey % 89 <> 0
)
SELECT pr, CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_distinct
FROM f1 GROUP BY pr ORDER BY pr
"""


@declare(
    "q_incremental_distinct",
    oracle=QID_ORACLE,
    description="COUNT(DISTINCT) IVM via the auxiliary multiplicity table: occurrence-level CDC deltas merge with ONE keyed outer join, never touching the fact; oracle = scratch recompute (IVM [ext])",
)
def q_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import incremental_distinct_apply

    o = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): a NULL orderkey escapes
    # the modulo delete filter and a NULL custkey is not a distinct
    # value under SQL COUNT(DISTINCT) — fence both, as in the oracle
    o = o.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    base = o.select(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("k"),
    )
    aux0 = base.groupBy("pr", "ck").agg(F.count(F.lit(1)).alias("mult"))
    dels = base.filter(F.col("k") % 89 == 0).select(
        "pr", "ck", F.lit("d").alias("op")
    )
    ins = base.filter((F.col("k") % 101 == 0) & (F.col("k") % 89 != 0)).select(
        "pr", (F.col("ck") + 3000000).alias("ck"), F.lit("c").alias("op")
    )
    aux1 = incremental_distinct_apply(
        aux0, dels.unionByName(ins), group_cols="pr", value_col="ck"
    )
    return (
        aux1.groupBy("pr")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
        .orderBy("pr")
    )


# ---------------------------------------------------------------------------
# Incremental TOP-K maintenance.  Same deterministic Δ recipe as
# q_incremental_agg / q_incremental_minmax (delete %13, reprice %5
# +50.25, insert clone %9 key+1000000 +7.5); the oracle IS the
# maintained invariant — recompute the per-customer top-3 from
# scratch over the changed table.

QTOPK_ORACLE = """
WITH fact AS (
  SELECT * FROM orders
  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
    AND o_totalprice IS NOT NULL
), surviving AS (
  SELECT * FROM fact WHERE o_orderkey % 13 <> 0
), repriced AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(28,4)) + CAST(50.25 AS DECIMAL(28,4))
              ELSE CAST(o_totalprice AS DECIMAL(28,4)) END AS price
  FROM surviving
), inserted AS (
  SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(28,4)) + CAST(7.5 AS DECIMAL(28,4)) AS price
  FROM surviving WHERE o_orderkey % 9 = 0
), t2 AS (
  SELECT * FROM repriced UNION ALL SELECT * FROM inserted
), ranked AS (
  SELECT o_custkey, o_orderkey, price,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY price DESC, o_orderkey) AS rk
  FROM t2
)
SELECT o_custkey, CAST(rk AS BIGINT) AS rank, o_orderkey,
       CAST(price AS DOUBLE) AS price
FROM ranked WHERE rk <= 3
ORDER BY o_custkey, rank
"""


@declare(
    "q_incremental_topk",
    oracle=QTOPK_ORACLE,
    description="incrementally maintained per-customer TOP-3 orders from a CDC delta — inserts self-maintain, member-hit removals rescan only dirty keys; oracle recomputes from scratch (CDC/IVM [ext])",
)
def q_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import incremental_topk_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): same fence as
    # q_incremental_agg — a NULL orderkey escapes both modulo filters,
    # and NULL prices sort to opposite ends of the rank orders
    orders = orders.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    dec_price = F.col("o_totalprice").cast("decimal(28,4)")
    w = Window.partitionBy("o_custkey").orderBy(
        dec_price.desc(), F.col("o_orderkey").asc()
    )
    base_topk = (
        orders.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 3)
        .select("o_custkey", "o_orderkey", dec_price.alias("price"))
    )
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.lit("d").alias("op"),
        "o_custkey",
        "o_orderkey",
        dec_price.alias("before_v"),
        F.lit(None).cast("decimal(28,4)").alias("after_v"),
    )
    surviving = orders.filter(F.col("o_orderkey") % 13 != 0)
    updates = surviving.filter(F.col("o_orderkey") % 5 == 0).select(
        F.lit("u").alias("op"),
        "o_custkey",
        "o_orderkey",
        dec_price.alias("before_v"),
        (dec_price + F.lit("50.25").cast("decimal(28,4)")).alias("after_v"),
    )
    inserts = surviving.filter(F.col("o_orderkey") % 9 == 0).select(
        F.lit("c").alias("op"),
        "o_custkey",
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        F.lit(None).cast("decimal(28,4)").alias("before_v"),
        (dec_price + F.lit("7.5").cast("decimal(28,4)")).alias("after_v"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    repriced = surviving.select(
        "o_custkey",
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            dec_price + F.lit("50.25").cast("decimal(28,4)"),
        )
        .otherwise(dec_price)
        .alias("price"),
    )
    inserted = surviving.filter(F.col("o_orderkey") % 9 == 0).select(
        "o_custkey",
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        (dec_price + F.lit("7.5").cast("decimal(28,4)")).alias("price"),
    )
    new_fact = repriced.unionByName(inserted)
    out = incremental_topk_apply(
        base_topk,
        changes,
        new_fact,
        keys=["o_custkey"],
        id_col="o_orderkey",
        value_col="price",
        k=3,
    )
    return out.select(
        "o_custkey",
        F.col("rank").cast("long").alias("rank"),
        "o_orderkey",
        F.col("price").cast("double").alias("price"),
    ).orderBy("o_custkey", "rank")


QIH_ORACLE = """
WITH fact AS (
  SELECT * FROM orders
  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
), surviving AS (
  SELECT * FROM fact WHERE o_orderkey % 13 <> 0
), t2 AS (
  SELECT CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(28,4)) + CAST(50.25 AS DECIMAL(28,4))
              ELSE CAST(o_totalprice AS DECIMAL(28,4)) END AS price
  FROM surviving
  UNION ALL
  SELECT CAST(o_totalprice AS DECIMAL(28,4)) + CAST(7.5 AS DECIMAL(28,4))
  FROM surviving WHERE o_orderkey % 9 = 0
)
SELECT CAST(floor(CAST(price AS DOUBLE) / 20000.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t2 GROUP BY 1 ORDER BY bin
"""


@declare(
    "q_incremental_histogram",
    oracle=QIH_ORACLE,
    description="incrementally maintained fixed-bin histogram from a CDC delta — counts are fully self-maintainable (subtract before-bin, add after-bin), |Δ|-bounded refresh, oracle recomputes from scratch; closes the IVM matrix's sketch wing (CDC/IVM [ext])",
)
def q_incremental_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): same fence as
    # q_incremental_agg — a NULL orderkey escapes both modulo filters,
    # and a NULL price has no bin
    orders = orders.filter(
        F.col("o_orderkey").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    dec_price = F.col("o_totalprice").cast("decimal(28,4)")

    def to_bin(price_col):
        return F.floor(price_col.cast("double") / 20000.0).cast("long")

    # the STORED sketch: histogram of the pre-change table
    base = orders.groupBy(to_bin(dec_price).alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # the CDC delta re-expressed as per-bin count deltas: deletes and
    # update-before-images subtract, inserts and update-after-images add
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        to_bin(dec_price).alias("bin"), F.lit(-1).alias("dn")
    )
    surviving = orders.filter(F.col("o_orderkey") % 13 != 0)
    upd = surviving.filter(F.col("o_orderkey") % 5 == 0)
    upd_before = upd.select(to_bin(dec_price).alias("bin"), F.lit(-1).alias("dn"))
    upd_after = upd.select(
        to_bin(dec_price + F.lit("50.25").cast("decimal(28,4)")).alias("bin"),
        F.lit(1).alias("dn"),
    )
    inserts = surviving.filter(F.col("o_orderkey") % 9 == 0).select(
        to_bin(dec_price + F.lit("7.5").cast("decimal(28,4)")).alias("bin"),
        F.lit(1).alias("dn"),
    )
    delta = (
        deletes.unionByName(upd_before)
        .unionByName(upd_after)
        .unionByName(inserts)
        .groupBy("bin")
        .agg(F.sum("dn").cast("long").alias("dn"))
    )
    # apply: one |bins|-bounded outer join — the fact is never rescanned
    merged = base.join(delta, "bin", "full_outer").select(
        "bin",
        (
            F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))
        ).alias("n"),
    )
    return (
        merged.filter(F.col("n") > 0)
        .select("bin", F.col("n").cast("long").alias("n"))
        .orderBy("bin")
    )
