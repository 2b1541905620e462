"""Correctness queries for the LLM-data-pipeline operators (dedup /
similarity / text / multimodal) over the ``documents`` and ``embeddings``
test tables.

Same contract as :mod:`daisy_spark.queries`: each entry is
``(spark, sf_dir) -> DataFrame`` with a DuckDB oracle in
``ORACLE_SQL_LLM`` whose column names match exactly.

Oracle note: the near-dup oracles are *all-pairs* SQL — fine for the
driver's sf0.01 check (500 docs), never how the Spark side works (banded
LSH buckets, no cartesian product; see operators/dedup.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from daisy_spark.catalog import load_table
from daisy_spark.operators import dedup as D
from daisy_spark.operators import multimodal as MM
from daisy_spark.operators import similarity as SIM
from daisy_spark.operators import text as TX

_t = load_table

# Shared DuckDB fragments: tokens + distinct word-3-gram shingles,
# matching operators.dedup.with_shingles exactly.
_DUCK_SHINGLES = """
WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i + 1:i + 3], ' ')
                          for i in range(0, greatest(len(w) - 3, 0) + 1)]) AS shingles
    FROM toks
)
"""


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup summary (operators/dedup.py exact_dedup_stats):
    one hash-groupBy, map-side combined."""
    d = _t(spark, sf_dir, "documents")
    return D.exact_dedup_stats(d, ["text"])


ORACLE_DEDUP_EXACT = """
SELECT count(*) AS total_docs,
       count(DISTINCT text) AS distinct_docs,
       count(*) - count(DISTINCT text) AS dup_docs
FROM documents
"""


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at Jaccard ≥ 0.7 (banded candidates +
    exact shingle-Jaccard verify; detection prob ≈ 0.986 at J=0.7, ≈ 1 at
    the J≥0.9 pairs the test corpus plants)."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(
        d, text_col="text", id_col="doc_id", threshold=0.7
    )
    return pairs.select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id1", "id2")


ORACLE_DEDUP_NEAR = _DUCK_SHINGLES + """
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      / len(list_distinct(a.shingles || b.shingles)) >= 0.7
ORDER BY id1, id2
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-bucketed near-dup pairs at J ≥ 0.9 (SimHash's honest
    operating range: Hamming ≤ 7 recall is guaranteed by the multi-block
    probes; J ≥ 0.9 pairs sit within that radius at the driver's sf0.01 —
    at larger SFs a few J≥0.9 pairs land at Hamming 8+ and are missed,
    the inherent SimHash trade), exact-Jaccard verified for precision."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.simhash_dedup_pairs(
        d, text_col="text", id_col="doc_id", max_hamming=7, jaccard_threshold=0.9
    )
    return pairs.select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id1", "id2")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.95) via hyperplane-LSH buckets
    + exact cosine verify."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = D.embedding_dedup_pairs(
        e, vec_col="embedding", id_col="vec_id", threshold=0.95
    )
    return pairs.select(
        "id1", "id2", F.round("cosine", 6).alias("cosine")
    ).orderBy("id1", "id2")


ORACLE_DEDUP_EMBEDDING = """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95
ORDER BY id1, id2
"""


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (the exact ANN
    baseline; corpus scanned once, queries broadcast)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    corpus = e.filter(F.col("vec_id") >= 5)
    out = SIM.cosine_topk(
        q, corpus, query_id="qid", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding", k=10,
    )
    return out.select(
        "qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("qid", "rank")


ORACLE_ANN_TOPK = """
WITH scored AS (
    SELECT q.vec_id AS qid, c.vec_id,
           list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_raw
    FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id >= 5
), ranked AS (
    SELECT qid, vec_id, cos_raw,
           row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rank
    FROM scored
)
SELECT qid, vec_id, round(cos_raw, 6) AS cosine, rank
FROM ranked WHERE rank <= 10
ORDER BY qid, rank
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-centroid probe (cells = label clusters), exact
    top-5 within the probed cell only — the 100-TB path where the probe
    join prunes the corpus scan."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    corpus = e.filter(F.col("vec_id") >= 5)
    out = SIM.ivf_topk(
        q, corpus, query_id="qid", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding",
        cell_col="label", k=5, n_probe=1,
    )
    return out.select(
        "qid", "vec_id", F.col("label"),
        F.round("cosine", 6).alias("cosine"), "rank",
    ).orderBy("qid", "rank")


ORACLE_ANN_IVF = """
WITH dims AS (
    SELECT label, pos, avg(v::DOUBLE) AS c
    FROM (SELECT label, unnest(embedding) AS v,
                 unnest(range(1, len(embedding) + 1)) AS pos
          FROM embeddings WHERE vec_id >= 5)
    GROUP BY label, pos
), cents AS (
    SELECT label, list(c ORDER BY pos) AS centroid FROM dims GROUP BY label
), probe AS (
    SELECT qid, label FROM (
        SELECT q.vec_id AS qid, c.label,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.centroid) DESC,
                            c.label) AS pr
        FROM embeddings q JOIN cents c ON q.vec_id < 5
    ) WHERE pr = 1
), scored AS (
    SELECT p.qid, c.vec_id, c.label,
           list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_raw
    FROM probe p
    JOIN embeddings q ON q.vec_id = p.qid
    JOIN embeddings c ON c.label = p.label AND c.vec_id >= 5
), ranked AS (
    SELECT qid, vec_id, label, cos_raw,
           row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rank
    FROM scored
)
SELECT qid, vec_id, label, round(cos_raw, 6) AS cosine, rank
FROM ranked WHERE rank <= 5
ORDER BY qid, rank
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN, oracle-checked via the recall invariant against
    the exact brute-force top-10 (hyperplanes are deterministic, so the
    measured recall is a fixed property of the dataset — ≥ 0.5 holds with
    wide margin at every test SF; precision needs no check because
    candidates are re-ranked by exact cosine)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    corpus = e.filter(F.col("vec_id") >= 5)
    lsh = SIM.lsh_ann_topk(
        q, corpus, query_id="qid", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding", k=10,
        planes=64, bands=16,
    )
    exact = SIM.cosine_topk(
        q, corpus, query_id="qid", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding", k=10,
    )
    # single lazy job: left-join exact vs LSH results, one agg computes
    # total / hits / distinct query count together (was 3 driver actions)
    marked = exact.select("qid", "vec_id").join(
        lsh.select("qid", "vec_id").withColumn("__hit", F.lit(1)),
        ["qid", "vec_id"],
        "left",
    )
    return marked.agg(
        F.count_distinct("qid").alias("n_queries"),
        (F.count("__hit") >= 0.5 * F.count(F.lit(1))).alias("recall_ok"),
    )


ORACLE_ANN_LSH = """
SELECT count(*) AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts (whitespace + BPE-ish regex), length/stopword/punct
    ratios, quality score — per document."""
    d = _t(spark, sf_dir, "documents")
    return TX.text_profile(d, "text", "doc_id").select(
        "doc_id", "n_tokens", "n_bpe_tokens", "avg_token_len",
        "stopword_ratio", "punct_ratio", "quality",
    ).orderBy("doc_id")


ORACLE_TEXT_STATS = r"""
WITH toks AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(text, ' +'), t -> t != '') AS w
    FROM documents
), m AS (
    SELECT doc_id, text, w,
           len(w) AS n_tokens,
           len(regexp_extract_all(text, '''?[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS n_bpe_tokens,
           list_sum([len(t) for t in w])::DOUBLE / greatest(len(w), 1) AS awl,
           len(list_filter(w, t -> list_contains(['the','and','of','is','to'], t)))::DOUBLE
               / greatest(len(w), 1) AS swr,
           length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
               / greatest(length(text), 1) AS pr
    FROM toks
)
SELECT doc_id, n_tokens, n_bpe_tokens,
       round(awl, 6) AS avg_token_len,
       round(swr, 6) AS stopword_ratio,
       round(pr, 6) AS punct_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.3
             + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
             + least(swr * 5.0, 1.0) * 0.2
             + (1.0 - least(pr * 2.0, 1.0)) * 0.2, 6) AS quality
FROM m
ORDER BY doc_id
"""


def q_lang_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (stopword voting, deterministic tie-break) + order-
    sensitive document fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.lang_id("text").alias("pred_lang"),
        TX.doc_fingerprint("text").alias("fingerprint"),
    ).orderBy("doc_id")


ORACLE_LANG_FINGERPRINT = """
WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS w
    FROM documents
), scores AS (
    SELECT doc_id, w,
       len(list_filter(w, t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
       len(list_filter(w, t -> list_contains(['the','and','of','is','to'], t))) AS s_en,
       len(list_filter(w, t -> list_contains(['el','la','de','que','los'], t))) AS s_es,
       len(list_filter(w, t -> list_contains(['le','la','les','des','est'], t))) AS s_fr
    FROM toks
)
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS pred_lang,
       CAST(CASE WHEN len(w) = 0 THEN 0
            ELSE list_sum([(i + 1) * (len(w[i + 1]) * 7919 + ascii(w[i + 1][1]))
                           for i in range(0, len(w))]) % 2147483647
       END AS BIGINT) AS fingerprint
FROM scores
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing: text payload → binary → Arrow-batched
    mapInPandas stub codec → typed metadata (byte length is real; the fake
    dims are deterministic functions of it, so the whole pandas path is
    hash-checked)."""
    d = _t(spark, sf_dir, "documents")
    with_bin = d.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return MM.media_profile(with_bin, "payload", "doc_id").orderBy("doc_id")


ORACLE_MULTIMODAL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       'stub' AS format,
       (octet_length(encode(text)) % 640 + 1)::INT AS width,
       (octet_length(encode(text)) % 480 + 1)::INT AS height
FROM documents
ORDER BY doc_id
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: synthesize valid PNG / JPEG-SOF0 / GIF89a
    headers per document (dimensions derived from doc_id), then recover
    width/height with the pure-Python header parser
    (operators/multimodal.image_header_codec) through the same
    Arrow-batched mapInPandas plumbing as the stub path.  The oracle
    recomputes the planted dimensions directly."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 640 + 1).cast("bigint")
    h = (F.col("doc_id") % 480 + 1).cast("bigint")
    be4 = lambda c: F.unhex(F.lpad(F.hex(c), 8, "0"))  # noqa: E731
    be2 = lambda c: F.unhex(F.lpad(F.hex(c), 4, "0"))  # noqa: E731
    le2 = lambda c: F.unhex(  # noqa: E731
        F.concat(
            F.lpad(F.hex(c % 256), 2, "0"),
            F.lpad(F.hex(F.shiftright(c, 8)), 2, "0"),
        )
    )
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),
        be4(w), be4(h),
        F.unhex(F.lit("0806000000")),
    )
    jpeg = F.concat(
        F.unhex(F.lit("FFD8FFC0001108")), be2(h), be2(w)
    )
    gif = F.concat(F.lit(b"GIF89a"), le2(w), le2(h))
    payload = (
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, jpeg)
        .otherwise(gif)
    )
    with_bin = d.select("doc_id", payload.alias("payload"))
    return MM.media_profile(with_bin, "payload", "doc_id", codec="image").orderBy(
        "doc_id"
    )


ORACLE_MULTIMODAL_DECODE = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 11 ELSE 10 END AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
       (doc_id % 640 + 1)::INT AS width,
       (doc_id % 480 + 1)::INT AS height
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# SQL dialect front-end (plans/dialect.py)
# --------------------------------------------------------------------------

def q_dialect_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe-syntax query (reference: src/Parsers/parseQueryPipe.cpp) with
    reference-dialect functions, translated to Spark SQL and executed —
    the SQL front-end's flagship path."""
    from daisy_spark.queries import _dialect

    return _dialect(
        spark, sf_dir, ("events",),
        """
        SELECT event_type, count() AS cnt, round(avg(value), 6) AS avg_value,
               uniqExact(user_id) AS uniq_users
        FROM events GROUP BY event_type
        | WHERE cnt > 0
        | SELECT event_type, cnt, avg_value, uniq_users
          ORDER BY cnt DESC, event_type LIMIT 10
        """,
    )


ORACLE_DIALECT_PIPE = """
SELECT event_type, cnt, avg_value, uniq_users FROM (
    SELECT event_type, count(*) AS cnt, round(avg(value), 6) AS avg_value,
           count(DISTINCT user_id) AS uniq_users
    FROM events GROUP BY event_type
) WHERE cnt > 0
ORDER BY cnt DESC, event_type
LIMIT 10
"""


def q_dialect_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-dialect SQL: toStartOfHour/countIf/JSONExtractInt +
    LIMIT n BY rewrite, via the translator."""
    from daisy_spark.queries import _dialect

    return _dialect(
        spark, sf_dir, ("events",),
        """
        SELECT toString(toStartOfHour(ts)) AS hour,
               countIf(event_type = 'purchase') AS purchases,
               round(sumIf(value, JSONExtractInt(props, 'k') > 50), 2) AS hot_value
        FROM events
        GROUP BY hour
        ORDER BY purchases DESC, hour
        LIMIT 3 BY purchases
        """,
    )


ORACLE_DIALECT_SQL = """
SELECT hour, purchases, hot_value FROM (
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           count(*) FILTER (event_type = 'purchase') AS purchases,
           round(coalesce(sum(value) FILTER (CAST(json_extract_string(props, '$.k') AS BIGINT) > 50), 0), 2) AS hot_value,
           row_number() OVER (PARTITION BY count(*) FILTER (event_type = 'purchase')
                              ORDER BY count(*) FILTER (event_type = 'purchase') DESC,
                                       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')) AS rn
    FROM events
    GROUP BY date_trunc('hour', ts)
) WHERE rn <= 3
ORDER BY purchases DESC, hour
"""


def q_script_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full script path (plans.script.ScriptRunner): CREATE a
    ReplacingMergeTree table, INSERT SELECT from orders, read FINAL.

    Covers the reference's stateless-test statement layer (CREATE/INSERT/
    SELECT scripts, e.g. tests/queries/0_stateless/00043_*.sql) against a
    live table: last version (max o_orderkey) per key wins.
    """
    from daisy_spark.plans.script import ScriptRunner

    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    runner = ScriptRunner(spark)
    outs = runner.run_script(
        """
        DROP TABLE IF EXISTS script_orders;
        CREATE TABLE script_orders (k UInt64, status String, v UInt64)
            ENGINE = ReplacingMergeTree(v) ORDER BY k;
        INSERT INTO script_orders
            SELECT o_orderkey % 1000 AS k, o_orderstatus AS status,
                   o_orderkey AS v
            FROM orders;
        SELECT status, count() AS cnt, sum(k) AS key_sum
        FROM script_orders FINAL
        GROUP BY status ORDER BY status;
        """
    )
    return outs[-1]


ORACLE_SCRIPT_ENGINE = """
SELECT status, count(*) AS cnt, CAST(sum(k) AS BIGINT) AS key_sum FROM (
    SELECT o_orderkey % 1000 AS k,
           arg_max(o_orderstatus, o_orderkey) AS status
    FROM orders GROUP BY o_orderkey % 1000
) GROUP BY status ORDER BY status
"""


QUERIES_LLM: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_near": q_dedup_near,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "ann_topk": q_ann_topk,
    "ann_ivf": q_ann_ivf,
    "ann_lsh": q_ann_lsh,
    "text_stats": q_text_stats,
    "lang_fingerprint": q_lang_fingerprint,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode": q_multimodal_decode,
    "dialect_pipe": q_dialect_pipe,
    "dialect_sql": q_dialect_sql,
    "script_engine": q_script_engine,
}

ORACLE_SQL_LLM: dict[str, str] = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_near": ORACLE_DEDUP_NEAR,
    "dedup_simhash": ORACLE_DEDUP_NEAR.replace("0.7", "0.9"),
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "ann_topk": ORACLE_ANN_TOPK,
    "ann_ivf": ORACLE_ANN_IVF,
    "ann_lsh": ORACLE_ANN_LSH,
    "text_stats": ORACLE_TEXT_STATS,
    "lang_fingerprint": ORACLE_LANG_FINGERPRINT,
    "multimodal_meta": ORACLE_MULTIMODAL,
    "multimodal_decode": ORACLE_MULTIMODAL_DECODE,
    "dialect_pipe": ORACLE_DIALECT_PIPE,
    "dialect_sql": ORACLE_DIALECT_SQL,
    "script_engine": ORACLE_SCRIPT_ENGINE,
}
