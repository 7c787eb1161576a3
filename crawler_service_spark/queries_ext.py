"""Extended driver-contract queries: similarity-search scale paths,
multimodal plumbing, text analysis, streaming twins, and the
interleaved-span shape from ``input_hint`` — each paired with a DuckDB
oracle that re-derives the answer independently.

Cross-engine determinism rules (beyond queries.py's):

* LSH sign bits use **integer-quantized** vectors (round(x*1000) —
  integer-valued doubles), so dot products are exact in any summation
  order and a sign can never flip between engines;
* IVF cell assignment rounds cosine to 6 decimals BEFORE ranking and
  breaks ties by centroid id, so a 1-ulp float divergence cannot change
  the argmax;
* the rolling fingerprint folds in int64 (mod 1e9+7) — no float path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_service_spark.functions.text import (
    BPE_TOKEN_RE,
    LANG_TRIGRAMS,
    WS_CLASS,
    bpe_token_count,
    rolling_fingerprint,
    trigram_hits,
    trigram_lang_score,
    ws_token_count,
)
from crawler_service_spark.operators.multimodal import attach_fake_media, decode_features, resize_plan
from crawler_service_spark.operators.similarity import (
    cosine,
    deterministic_centroids,
    lsh_candidate_buckets,
    lsh_weights_sql_literal,
    sign_weight,
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_text_token_count(spark, sf_dir):
    doc = load(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '{WS_CLASS}+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens
    FROM documents
"""


def q_text_langid_trigram(spark, sf_dir):
    doc = load(spark, sf_dir, "documents")
    score = trigram_lang_score(F.col("text"))
    return doc.select(
        "doc_id",
        trigram_hits(F.col("text")).alias("n_trigram_hits"),
        F.round(score, 6).alias("lang_score"),
        F.when(score > 1.0, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"),
    )


_TRIGRAM_HITS_SQL = " + ".join(
    f"(len(string_split(lower(text), '{g}')) - 1)" for g in LANG_TRIGRAMS
)
SQL_LANGID_TRIGRAM = f"""
    SELECT doc_id,
           CAST({_TRIGRAM_HITS_SQL} AS BIGINT) AS n_trigram_hits,
           round(CASE WHEN length(text) > 0
                      THEN ({_TRIGRAM_HITS_SQL}) * 100.0 / length(text)
                      ELSE 0.0 END, 6) AS lang_score,
           CASE WHEN length(text) > 0
                 AND ({_TRIGRAM_HITS_SQL}) * 100.0 / length(text) > 1.0
                THEN 'en' ELSE 'unk' END AS pred_lang
    FROM documents
"""


def q_text_fingerprint_rolling(spark, sf_dir):
    doc = load(spark, sf_dir, "documents")
    fp = F.when(F.length("text") == 0, F.lit(0).cast("long")).otherwise(
        rolling_fingerprint("text")
    )
    return doc.select("doc_id", fp.alias("rolling_fp"))


SQL_FINGERPRINT_ROLLING = """
    SELECT doc_id,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, length(text)),
                                i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007)
           END AS BIGINT) AS rolling_fp
    FROM documents
"""


# ---------------------------------------------------------------------------
# Similarity search: LSH buckets + IVF cells/probe
# ---------------------------------------------------------------------------

_N_PLANES, _DIM = 10, 64


def _quantized(emb: DataFrame) -> DataFrame:
    """Integer-quantized embedding (round(x*1000) as integer-valued
    doubles): dot products become exact integer arithmetic."""
    return emb.withColumn(
        "q", F.transform(F.col("embedding"), lambda x: F.round(x.cast("double") * 1000))
    )


def q_ann_lsh_buckets(spark, sf_dir):
    emb = _quantized(load(spark, sf_dir, "embeddings"))
    return lsh_candidate_buckets(
        emb.select("vec_id", F.col("q").alias("embedding")),
        n_planes=_N_PLANES, dim=_DIM, id_col="vec_id",
    )


def _lsh_bits_sql() -> str:
    cases = []
    for p in range(_N_PLANES):
        w = "[" + ",".join(str(sign_weight(p, d)) for d in range(_DIM)) + "]"
        cases.append(
            "CASE WHEN list_dot_product(q, CAST(" + w + " AS DOUBLE[])) >= 0 "
            "THEN '1' ELSE '0' END"
        )
    return " || ".join(cases)


SQL_LSH_BUCKETS = f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings)
    SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
    FROM (SELECT vec_id, {_lsh_bits_sql()} AS bucket FROM qv)
    GROUP BY bucket HAVING count(*) > 1
"""

_N_CENTROIDS = 8

_COS_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
)

_IVF_CELLS_SQL = f"""
      SELECT vec_id, cell FROM (
        SELECT a.vec_id, c.vec_id AS cell,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({_COS_SQL}, 6) DESC, c.vec_id ASC) AS rn
        FROM embeddings a JOIN embeddings c ON c.vec_id < {_N_CENTROIDS})
      WHERE rn = 1
"""


def _ivf_cells(spark, sf_dir) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cents = deterministic_centroids(emb, _N_CENTROIDS)
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"))
    )


def q_ann_ivf_cells(spark, sf_dir):
    return (
        _ivf_cells(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


SQL_IVF_CELLS = f"""
    SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec_id
    FROM ({_IVF_CELLS_SQL})
    GROUP BY cell
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF probe: top-5 cosine neighbours of vec 0 searched ONLY within
    vec 0's cell — the partition-pruned scale path (cell is a partition
    column of the stored table at scale)."""
    emb = load(spark, sf_dir, "embeddings")
    cells = _ivf_cells(spark, sf_dir)
    qcell = cells.filter(F.col("vec_id") == 0).select(F.col("cell").alias("qc"))
    members = cells.join(F.broadcast(qcell), cells.cell == qcell.qc).select("vec_id")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = emb.join(members, "vec_id").crossJoin(F.broadcast(q))
    scored = cand.select(
        "vec_id", F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos")
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(5)


SQL_IVF_TOPK = f"""
    WITH cells AS ({_IVF_CELLS_SQL}),
    qcell AS (SELECT cell FROM cells WHERE vec_id = 0),
    members AS (SELECT vec_id FROM cells WHERE cell = (SELECT cell FROM qcell)),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 6) AS cos
    FROM embeddings e JOIN members m ON e.vec_id = m.vec_id, q
    ORDER BY cos DESC, e.vec_id ASC LIMIT 5
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

def q_mm_media_meta(spark, sf_dir):
    doc = load(spark, sf_dir, "documents")
    media = attach_fake_media(doc)
    return media.select(
        "media_id",
        "kind",
        "width",
        "height",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.length("media_bytes").cast("long").alias("n_bytes"),
    )


SQL_MM_META = """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
           CAST(16 + doc_id % 64 AS INT) AS width,
           CAST(16 + doc_id % 48 AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 30 ELSE 1 END AS BIGINT) AS n_frames,
           CAST(octet_length(unhex(repeat(md5(text), 4))) AS BIGINT) AS n_bytes
    FROM documents
"""


def q_mm_resize_plan(spark, sf_dir):
    media = attach_fake_media(load(spark, sf_dir, "documents"))
    return resize_plan(media, max_dim=48)


SQL_MM_RESIZE = """
    SELECT media_id, width, height,
           CAST(greatest(1, floor(width * s)) AS INT) AS target_w,
           CAST(greatest(1, floor(height * s)) AS INT) AS target_h
    FROM (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             CAST(16 + doc_id % 64 AS INT) AS width,
             CAST(16 + doc_id % 48 AS INT) AS height,
             least(1.0, 48.0 / greatest(16 + doc_id % 64, 16 + doc_id % 48)) AS s
      FROM documents)
"""


def q_mm_decode_features(spark, sf_dir):
    """mapInPandas decode stub over binary media; byte_mean is exact
    (integer sum / count), entropy is checked in unit tests only."""
    media = attach_fake_media(load(spark, sf_dir, "documents"))
    return decode_features(media, allow_fake=True).select(
        "media_id", "kind", "n_bytes", "byte_mean", "decoder"
    )


SQL_MM_DECODE = """
    WITH hx AS (SELECT CAST(doc_id AS VARCHAR) AS media_id,
                       (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
                       repeat(md5(text), 4) AS h
                FROM documents)
    SELECT media_id, kind,
           CAST(length(h) / 2 AS BIGINT) AS n_bytes,
           round(list_sum(list_transform(generate_series(1, CAST(length(h)/2 AS INT)),
                 i -> (instr('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1) * 16
                      + (instr('0123456789abcdef', substr(h, 2*i, 1)) - 1)))
                 / (length(h) / 2.0), 6) AS byte_mean,
           'stub' AS decoder
    FROM hx
"""


# ---------------------------------------------------------------------------
# Streaming twins (same expressions the streaming jobs use, run in batch
# so the DuckDB oracle can check the window/session semantics)
# ---------------------------------------------------------------------------

def q_stream_window_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        (F.col("user_id") % 100).alias("host_id"),
    )
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "host_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_millis(F.col("win.start")).alias("window_start_ms"),
            "host_id",
            "n",
        )
    )


SQL_STREAM_WINDOW = """
    SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
           user_id % 100 AS host_id, count(*) AS n
    FROM events
    GROUP BY 1, 2
"""


def q_stream_session_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        (F.col("user_id") % 50).alias("uid"),
    )
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sess"), "uid")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("sess.start")).alias("session_start_ms"),
            "uid",
            "n_events",
        )
    )


SQL_STREAM_SESSION = """
    WITH e AS (
      SELECT ts, user_id % 50 AS uid,
             -- '>=' matches Spark's half-open session windows
             -- [start, start+gap): an event exactly gap after the
             -- previous one starts a NEW session (ADVICE r01)
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id % 50 ORDER BY ts)
                       >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id % 50 ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    s AS (
      SELECT ts, uid,
             sum(is_start) OVER (PARTITION BY uid ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM e)
    SELECT epoch_ms(min(ts)) AS session_start_ms, uid, count(*) AS n_events
    FROM s GROUP BY uid, sess_id
"""


# ---------------------------------------------------------------------------
# Interleaved span shape (input_hint): text chunks ⨯ media refs, exploded
# ---------------------------------------------------------------------------

_CHUNK = 40


def q_spans_interleave(spark, sf_dir):
    """Build the (kind, text, media_ref, offset) interleaved span sequence
    per document (text chunk, media, text chunk, …) and flatten — the
    exploded view of the `input_hint` spans array."""
    doc = load(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.length("text") / F.lit(float(_CHUNK))).cast("int")
    )
    d = doc.select("doc_id", "text", n_chunks.alias("nc"))
    d = d.withColumn("offset", F.explode(F.sequence(F.lit(0), F.col("nc") * 2 - 1)))
    is_text = F.col("offset") % 2 == 0
    chunk_idx = (F.col("offset") / 2).cast("int")
    return d.select(
        "doc_id",
        F.col("offset").cast("int").alias("offset"),
        F.when(is_text, F.lit("text")).otherwise(F.lit("media")).alias("kind"),
        F.when(is_text, F.substring(F.col("text"), chunk_idx * _CHUNK + 1, _CHUNK))
         .otherwise(F.lit(None).cast("string")).alias("span_text"),
        F.when(~is_text, F.md5(F.concat_ws(":", "doc_id", "offset")))
         .otherwise(F.lit(None).cast("string")).alias("media_ref"),
    )


SQL_SPANS = f"""
    WITH d AS (
      SELECT doc_id, text,
             greatest(1, CAST(ceil(length(text) / {float(_CHUNK)}) AS INT)) AS nc
      FROM documents),
    x AS (
      SELECT doc_id, text, unnest(generate_series(0, nc * 2 - 1)) AS off
      FROM d)
    SELECT doc_id,
           CAST(off AS INT) AS offset,
           CASE WHEN off % 2 = 0 THEN 'text' ELSE 'media' END AS kind,
           CASE WHEN off % 2 = 0
                THEN substr(text, CAST(off / 2 AS INT) * {_CHUNK} + 1, {_CHUNK})
                ELSE NULL END AS span_text,
           CASE WHEN off % 2 = 1
                THEN md5(CAST(doc_id AS VARCHAR) || ':' || CAST(off AS VARCHAR))
                ELSE NULL END AS media_ref
    FROM x
"""


# ---------------------------------------------------------------------------
# A3 — the reference's five retry counters over a declared failure schedule
# ---------------------------------------------------------------------------

def q_a3_retry_stats(spark, sf_dir):
    """crawler.py:49-55 counters from per-row outcome columns (the same
    reduction engine.retry_stats performs on the pages table)."""
    from crawler_service_spark.queries import _synth_status

    s = _synth_status(load(spark, sf_dir, "events")).withColumn(
        "fails", (F.col("event_id") % 5).cast("int")
    )
    transient = (F.col("status") >= 500) | (F.col("status") == 429)
    permanent = F.col("status").between(400, 499) & (F.col("status") != 429)
    attempts = (
        F.when(permanent, F.lit(0))
        .when(transient, F.lit(3))
        .otherwise(F.least(F.col("fails"), F.lit(3)))
    )
    is_error = permanent | transient | (~permanent & ~transient & (F.col("fails") > 3))
    err_transient = is_error & (transient | (F.col("fails") > 3))
    d = s.select(
        attempts.alias("att"),
        is_error.alias("err"),
        err_transient.alias("errt"),
        permanent.alias("perm"),
    )
    return d.agg(
        F.sum("att").cast("long").alias("total_retries"),
        F.sum(((~F.col("err")) & (F.col("att") > 0)).cast("long")).alias("successful_retries"),
        F.sum(F.col("errt").cast("long")).alias("failed_retries"),
        F.sum(
            F.when(F.col("errt"), F.col("att") + 1)
            .when((~F.col("err")) & (F.col("att") > 0), F.col("att"))
            .otherwise(F.lit(0))
        ).cast("long").alias("transient_errors"),
        F.sum(F.col("perm").cast("long")).alias("permanent_errors"),
    )


def _sql_a3() -> str:
    from crawler_service_spark.queries import _SYNTH_STATUS_SQL

    return f"""
    WITH s AS (
      SELECT status, CAST(event_id % 5 AS INT) AS fails FROM ({_SYNTH_STATUS_SQL})),
    d AS (
      SELECT CASE WHEN status BETWEEN 400 AND 499 AND status <> 429 THEN 0
                  WHEN status >= 500 OR status = 429 THEN 3
                  ELSE least(fails, 3) END AS att,
             (status BETWEEN 400 AND 499 AND status <> 429) AS perm,
             (status >= 500 OR status = 429) AS trans,
             fails
      FROM s),
    e AS (
      SELECT att, perm, trans,
             (perm OR trans OR (NOT perm AND NOT trans AND fails > 3)) AS err,
             ((perm OR trans OR (NOT perm AND NOT trans AND fails > 3))
              AND (trans OR fails > 3)) AS errt
      FROM d)
    SELECT CAST(sum(att) AS BIGINT) AS total_retries,
           CAST(sum(CASE WHEN NOT err AND att > 0 THEN 1 ELSE 0 END) AS BIGINT) AS successful_retries,
           CAST(sum(CASE WHEN errt THEN 1 ELSE 0 END) AS BIGINT) AS failed_retries,
           CAST(sum(CASE WHEN errt THEN att + 1
                         WHEN NOT err AND att > 0 THEN att
                         ELSE 0 END) AS BIGINT) AS transient_errors,
           CAST(sum(CASE WHEN perm THEN 1 ELSE 0 END) AS BIGINT) AS permanent_errors
    FROM e
    """


# ---------------------------------------------------------------------------
# End-to-end near-dup: MinHash LSH candidates → pairwise token Jaccard
# ---------------------------------------------------------------------------

def q_dedup_lsh_jaccard_pairs(spark, sf_dir):
    """The full near-dup pipeline at scale shape: LSH banding proposes
    candidate PAIRS (bucket self-join — never O(n²)), then the exact
    token-set Jaccard scores only those pairs."""
    from crawler_service_spark.queries import q_dedup_minhash_sig

    sig = q_dedup_minhash_sig(spark, sf_dir).withColumn(
        "band", F.md5(F.concat_ws("|", "mh0", "mh1"))
    ).select("doc_id", "band")
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(b, "band")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    doc = load(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id",
        F.explode(F.expr("array_distinct(filter(split(text, ' '), x -> x <> ''))")).alias("token"),
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = tok.select(F.col("doc_id").alias("doc_a"), "token")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def _sql_lsh_pairs() -> str:
    from crawler_service_spark.queries import SQL_MINHASH

    return f"""
    WITH sig AS (
      SELECT doc_id, md5(mh0 || '|' || mh1) AS band FROM ({SQL_MINHASH})),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.band = b.band AND a.doc_id < b.doc_id),
    tok AS (
      SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS token
      FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM pairs p JOIN tok ta ON ta.doc_id = p.doc_a
                   JOIN tok tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
      GROUP BY p.doc_a, p.doc_b)
    SELECT p.doc_a, p.doc_b,
           round(coalesce(i.n_inter, 0) * 1.0 /
                 (sa.n + sb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    """


# ---------------------------------------------------------------------------
# J1+F1 link pipeline, X extraction round trip, robots filter
# ---------------------------------------------------------------------------

def q_j1_link_pipeline(spark, sf_dir):
    """J1 posexplode → F1 internal filter + P1 canonicalize (the engine's
    `filter_internal` URL pass), end to end over synthetic link arrays
    (the per-round link-expansion pipeline)."""
    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.operators.links import filter_internal

    orders = load(spark, sf_dir, "orders")
    k = (F.col("o_orderkey") % 50).cast("string")
    links = F.array(
        F.concat(F.lit("https://s"), k, F.lit(".example.com/a/"), F.col("o_orderkey").cast("string")),
        F.concat(F.lit("https://s"), k, F.lit(".example.com/b/"), F.col("o_orderkey").cast("string"), F.lit("/")),
        F.concat(F.lit("https://s"), k, F.lit(".example.com/c-"), F.col("o_orderkey").cast("string"), F.lit(".css")),
        F.concat(F.lit("https://other.example.net/d/"), F.col("o_orderkey").cast("string")),
        F.concat(F.lit("https://s"), k, F.lit(".example.com/e/"), F.col("o_orderkey").cast("string"), F.lit("#x")),
    )
    pages = orders.select(
        F.col("o_orderkey").alias("parent_seq"),
        F.concat(F.lit("s"), k, F.lit(".example.com")).alias("seed_netloc"),
        links.alias("links"),
    )
    cand = pages.select(
        "parent_seq", "seed_netloc",
        F.posexplode("links").alias("link_pos", "url"),
    )
    cfg = CrawlConfig(
        skip_extensions=(".css", ".js", ".pdf", ".jpg", ".png", ".zip"))
    return filter_internal(cand, cfg).select(
        "parent_seq",
        F.col("link_pos").cast("long").alias("link_pos"),
        "canon_url",
    )


SQL_J1_PIPELINE = """
    WITH pages AS (
      SELECT o_orderkey AS parent_seq,
             's' || CAST(o_orderkey % 50 AS VARCHAR) || '.example.com' AS seed_netloc,
             ['https://s' || CAST(o_orderkey % 50 AS VARCHAR) || '.example.com/a/' || CAST(o_orderkey AS VARCHAR),
              'https://s' || CAST(o_orderkey % 50 AS VARCHAR) || '.example.com/b/' || CAST(o_orderkey AS VARCHAR) || '/',
              'https://s' || CAST(o_orderkey % 50 AS VARCHAR) || '.example.com/c-' || CAST(o_orderkey AS VARCHAR) || '.css',
              'https://other.example.net/d/' || CAST(o_orderkey AS VARCHAR),
              'https://s' || CAST(o_orderkey % 50 AS VARCHAR) || '.example.com/e/' || CAST(o_orderkey AS VARCHAR) || '#x'
             ] AS links
      FROM orders),
    cand AS (
      SELECT parent_seq, seed_netloc,
             CAST(unnest(generate_series(0, len(links) - 1)) AS BIGINT) AS link_pos,
             unnest(links) AS url
      FROM pages)
    SELECT parent_seq, link_pos,
           CASE WHEN url LIKE '%/' THEN rtrim(url, '/') ELSE url END AS canon_url
    FROM cand
    WHERE regexp_extract(url, '^https?://([^/?#]*)', 1) = seed_netloc
      AND NOT regexp_matches(lower(regexp_extract(url, '^https?://[^/?#]*([^?#]*)', 1)),
                             '\\.(css|js|pdf|jpg|png|zip)$')
      AND regexp_extract(url, '#(.*)$', 1) = ''
"""


def q_x_extract_roundtrip(spark, sf_dir):
    """X1–X8 through the REAL mapInPandas extraction stage: render a page
    natively from `documents`, extract title/meta/text/first-link back;
    the oracle re-derives the same fields with SQL regexes."""
    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.operators.extract import extract_pages

    CFG = CrawlConfig()
    doc = load(spark, sf_dir, "documents")
    safe = F.regexp_replace(F.col("text"), r"[<>&\"]", " ")
    n = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), n,
        F.lit('</title><meta name="description" content="about '), n,
        F.lit('"></head><body><h1>H'), n, F.lit("</h1><p>"), safe,
        F.lit('</p><a href="https://x.example.com/p/'), n,
        F.lit('">go</a></body></html>'),
    )
    src = doc.select(
        "doc_id",
        F.concat(F.lit("https://x.example.com/d/"), n).alias("url"),
        html.alias("html"),
        F.lit(False).alias("is_error"),
    )
    pages = extract_pages(src, CFG)
    return pages.select(
        "doc_id",
        "title",
        "meta_description",
        "text_content",
        F.element_at("links", 1).alias("first_link"),
        F.size("links").cast("long").alias("n_links"),
        F.size("spans").cast("long").alias("n_spans"),
    )


SQL_X_ROUNDTRIP = """
    -- text_content follows BS4 get_text(): text nodes CONCATENATE with no
    -- separator ("Doc 5" + "H5" + body + "go"), then whitespace collapses
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           'about ' || CAST(doc_id AS VARCHAR) AS meta_description,
           trim(regexp_replace('Doc ' || CAST(doc_id AS VARCHAR) || 'H' ||
                CAST(doc_id AS VARCHAR) ||
                regexp_replace(text, '[<>&"]', ' ', 'g') || 'go', '\\s+', ' ', 'g')) AS text_content,
           'https://x.example.com/p/' || CAST(doc_id AS VARCHAR) AS first_link,
           CAST(1 AS BIGINT) AS n_links,
           CAST(5 AS BIGINT) AS n_spans
    FROM documents
"""


def q_x_extract_tolerant(spark, sf_dir):
    """X1–X8 over MESSY real-world HTML through the same mapInPandas
    stage: uppercase tags, single-quoted + reordered + extra attributes,
    nested inline markup — the tolerant stdlib-HTMLParser path
    (functions/html.py extract_page_tolerant, auto-dispatched). The
    oracle re-derives the expected fields with SQL string ops."""
    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.operators.extract import extract_pages

    CFG = CrawlConfig()
    doc = load(spark, sf_dir, "documents")
    safe = F.regexp_replace(F.col("text"), r"[<>&\"]", " ")
    n = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<HTML><HEAD><TITLE>Doc "), n,
        F.lit("</TITLE><META CONTENT='about "), n,
        F.lit("' NAME='description'></HEAD><BODY><H1>H<EM>"), n,
        F.lit("</EM></H1><P>"), safe,
        F.lit("</P><A CLASS='x' HREF='https://x.example.com/p/"), n,
        F.lit("'>go</A></BODY></HTML>"),
    )
    src = doc.select(
        "doc_id",
        F.concat(F.lit("https://x.example.com/d/"), n).alias("url"),
        html.alias("html"),
        F.lit(False).alias("is_error"),
    )
    pages = extract_pages(src, CFG)
    return pages.select(
        "doc_id",
        "title",
        "meta_description",
        "text_content",
        F.element_at("links", 1).alias("first_link"),
        F.size("links").cast("long").alias("n_links"),
        F.size("spans").cast("long").alias("n_spans"),
    )


SQL_X_TOLERANT = """
    -- get_text() concatenation: "Doc 5" + "H" + "5" (nested <EM>) + body
    -- + "go", no separators, then whitespace collapse
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           'about ' || CAST(doc_id AS VARCHAR) AS meta_description,
           trim(regexp_replace('Doc ' || CAST(doc_id AS VARCHAR) || 'H' ||
                CAST(doc_id AS VARCHAR) ||
                regexp_replace(text, '[<>&"]', ' ', 'g') || 'go', '\\s+', ' ', 'g')) AS text_content,
           'https://x.example.com/p/' || CAST(doc_id AS VARCHAR) AS first_link,
           CAST(1 AS BIGINT) AS n_links,
           CAST(5 AS BIGINT) AS n_spans
    FROM documents
"""


def q_robots_filter(spark, sf_dir):
    """North-rule robots disallow-prefix filter as a broadcast anti
    pattern (operators/links.py filter_robots semantics)."""
    from crawler_service_spark.operators.links import filter_robots

    orders = load(spark, sf_dir, "orders")
    k = (F.col("o_orderkey") % 20).cast("string")
    v = F.col("o_orderkey") % 3
    path = (
        F.when(v == 0, F.concat(F.lit("/private/x/"), F.col("o_orderkey").cast("string")))
        .when(v == 1, F.concat(F.lit("/admin/"), F.col("o_orderkey").cast("string")))
        .otherwise(F.concat(F.lit("/public/"), F.col("o_orderkey").cast("string")))
    )
    cand = orders.select(
        F.col("o_orderkey").alias("id"),
        F.concat(F.lit("h"), k, F.lit(".example.com")).alias("host"),
        path.alias("path"),
    )
    hosts = [f"h{i}.example.com" for i in range(20)]
    policy = spark.createDataFrame(
        [(h, ["/private/"] if i % 2 == 0 else ["/private/", "/admin/"])
         for i, h in enumerate(hosts)],
        "host string, disallow_prefixes array<string>",
    )
    return filter_robots(cand, policy).select("id", "host", "path")


SQL_ROBOTS = """
    SELECT o_orderkey AS id,
           'h' || CAST(o_orderkey % 20 AS VARCHAR) || '.example.com' AS host,
           CASE o_orderkey % 3
             WHEN 0 THEN '/private/x/' || CAST(o_orderkey AS VARCHAR)
             WHEN 1 THEN '/admin/' || CAST(o_orderkey AS VARCHAR)
             ELSE '/public/' || CAST(o_orderkey AS VARCHAR) END AS path
    FROM orders
    WHERE NOT (o_orderkey % 3 = 0)                      -- /private/ always blocked
      AND NOT (o_orderkey % 3 = 1 AND (o_orderkey % 20) % 2 = 1)  -- /admin/ on odd-policy hosts
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

SPARK_QUERIES_EXT: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # a3 leads: the driver records at most 50 correctness rows in
    # registry order, and r02 dropped this key by being 51st
    "a3_retry_stats": q_a3_retry_stats,
    "text_token_count": q_text_token_count,
    "text_langid_trigram": q_text_langid_trigram,
    "text_fingerprint_rolling": q_text_fingerprint_rolling,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_ivf_cells": q_ann_ivf_cells,
    "ann_ivf_topk": q_ann_ivf_topk,
    "mm_media_meta": q_mm_media_meta,
    "mm_resize_plan": q_mm_resize_plan,
    "mm_decode_features": q_mm_decode_features,
    "stream_window_counts": q_stream_window_counts,
    "stream_session_counts": q_stream_session_counts,
    "spans_interleave": q_spans_interleave,
    "j1_link_pipeline": q_j1_link_pipeline,
    "x_extract_roundtrip": q_x_extract_roundtrip,
    "x_extract_tolerant": q_x_extract_tolerant,
    "robots_filter": q_robots_filter,
    "dedup_lsh_jaccard_pairs": q_dedup_lsh_jaccard_pairs,
}

ORACLE_SQL_EXT: dict[str, str] = {
    "a3_retry_stats": _sql_a3(),
    "text_token_count": SQL_TOKEN_COUNT,
    "text_langid_trigram": SQL_LANGID_TRIGRAM,
    "text_fingerprint_rolling": SQL_FINGERPRINT_ROLLING,
    "ann_lsh_buckets": SQL_LSH_BUCKETS,
    "ann_ivf_cells": SQL_IVF_CELLS,
    "ann_ivf_topk": SQL_IVF_TOPK,
    "mm_media_meta": SQL_MM_META,
    "mm_resize_plan": SQL_MM_RESIZE,
    "mm_decode_features": SQL_MM_DECODE,
    "stream_window_counts": SQL_STREAM_WINDOW,
    "stream_session_counts": SQL_STREAM_SESSION,
    "spans_interleave": SQL_SPANS,
    "j1_link_pipeline": SQL_J1_PIPELINE,
    "x_extract_roundtrip": SQL_X_ROUNDTRIP,
    "x_extract_tolerant": SQL_X_TOLERANT,
    "robots_filter": SQL_ROBOTS,
    "dedup_lsh_jaccard_pairs": _sql_lsh_pairs(),
}
