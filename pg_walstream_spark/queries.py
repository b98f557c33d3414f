"""Query registry powering __spark_entry__: every operator exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, a DuckDB
oracle string over the same parquet tables.

Column names are aligned 1:1 between the Spark plan and the oracle SQL (the
driver's compare hashes values under sorted column names). Aggregate types
are pinned (DuckDB sums are cast to BIGINT/DOUBLE to match Spark).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .analytics import dedup as dd, multimodal as mm, similarity as sim, text as tx
from .functions import lsn_str, pg_text_to_bool

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# CDC-semantic operators over the events stream table
# ---------------------------------------------------------------------------


def cdc_last_image(spark, sf_dir):
    """Per-key last-image compaction (the engine's stage 5) over events:
    max-by aggregation → map-side partial agg, skew-proof."""
    ev = _t(spark, sf_dir, "events")
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", ord_).alias("last_event_id"),
        F.max_by("event_type", ord_).alias("last_event_type"),
        F.round(F.max_by("value", ord_), 6).alias("last_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


CDC_LAST_IMAGE_SQL = """
SELECT user_id, last_event_id, last_event_type, last_value, n_events FROM (
  SELECT user_id,
         event_id AS last_event_id, event_type AS last_event_type,
         round(value, 6) AS last_value,
         count(*) OVER (PARTITION BY user_id) AS n_events,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events) WHERE rn = 1
"""


def cdc_event_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


CDC_EVENT_COUNTS_SQL = """
SELECT event_type, count(*) AS n, min(event_id) AS min_id,
       max(event_id) AS max_id,
       round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY event_type
"""


def cdc_commit_gate(spark, sf_dir):
    """Bounded-replay gate: apply only events at or below the watermark
    (60% of max id — the stop_at_lsn analog), at whole-key granularity.
    The watermark rides as a scalar subquery inside the one job (a
    separate driver collect() would serialize a second scan)."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("cdc_gate_events")
    return spark.sql(
        "SELECT event_type, count(*) AS n_applied, "
        "       max(event_id) AS high_watermark "
        "FROM cdc_gate_events "
        "WHERE event_id <= (SELECT CAST(max(event_id) * 0.6 AS LONG) "
        "                   FROM cdc_gate_events) "
        "GROUP BY event_type"
    )


CDC_COMMIT_GATE_SQL = """
SELECT event_type, count(*) AS n_applied, max(event_id) AS high_watermark
FROM events
WHERE event_id <= (SELECT CAST(max(event_id) * 0.6 AS BIGINT) FROM events)
GROUP BY event_type
"""


def cdc_fence_dedup(spark, sf_dir):
    """Duplicate suppression: first event per (user, type, value) — the
    at-least-once fence analog.

    The events fixture is one single-row-group parquet file (1-task scan),
    and the group key is near-unique, so map-side partial aggregation
    reduces nothing — it just builds a million-entry hash map on the one
    scan core. Hash-repartitioning by a PREFIX of the group key first
    (satisfies the aggregation's clustering requirement — same exchange
    count) moves the whole aggregation onto parallel reducers; the scan
    task only partitions rows (guide §2.5 input skew). min/count are
    exact, so the result is partitioning-invariant."""
    ev = _t(spark, sf_dir, "events")
    return ev.repartition("user_id", "event_type").groupBy(
        "user_id", "event_type",
        F.round("value", 6).alias("value_r")).agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


CDC_FENCE_DEDUP_SQL = """
SELECT user_id, event_type, round(value, 6) AS value_r,
       min(event_id) AS first_event_id, count(*) AS n_dups
FROM events GROUP BY 1, 2, 3
"""


def cdc_pg_epoch_ts(spark, sf_dir):
    """PG-epoch µs → timestamp conversion (src/types.rs:126-139 analog)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    us = (F.col("event_id") * 1_000_000 + 946_684_800_000_000)
    return ev.select(
        "event_id",
        F.date_format(F.timestamp_micros(us), "yyyy-MM-dd HH:mm:ss").alias(
            "pg_ts"
        ),
    )


CDC_PG_EPOCH_TS_SQL = """
SELECT event_id,
       strftime(make_timestamp(event_id * 1000000 + 946684800000000),
                '%Y-%m-%d %H:%M:%S') AS pg_ts
FROM events
"""


def cdc_lsn_format(spark, sf_dir):
    """LSN HI/LO hex display (src/types.rs:184-224 analog), event_id*2^20
    as a synthetic 64-bit LSN."""
    ev = _t(spark, sf_dir, "events")
    lsn = (F.col("event_id") * F.lit(1048576)).cast("long")
    return ev.select("event_id", lsn_str(lsn).alias("lsn_display"))


CDC_LSN_FORMAT_SQL = """
SELECT event_id,
       upper(printf('%x', (event_id * 1048576) >> 32)) || '/' ||
       upper(printf('%x', (event_id * 1048576) & 4294967295)) AS lsn_display
FROM events
"""


def pg_bool_coercion(spark, sf_dir):
    """PG bool text-format coercion parity (deserializer.rs:102-114)."""
    ev = _t(spark, sf_dir, "events")
    word = F.element_at(
        F.array(*[F.lit(w) for w in
                  ["t", "f", "true", "off", "yes", "no", "1", "0", "on",
                   "maybe"]]),
        (F.col("event_id") % 10 + 1).cast("int"),
    )
    return ev.select(
        "event_id", word.alias("bool_text"),
        pg_text_to_bool(word).alias("bool_value"),
    )


PG_BOOL_COERCION_SQL = """
SELECT event_id, bool_text,
       CASE WHEN bool_text IN ('t','true','1','on','y','yes') THEN TRUE
            WHEN bool_text IN ('f','false','0','off','n','no') THEN FALSE
            ELSE NULL END AS bool_value
FROM (
  SELECT event_id,
         (['t','f','true','off','yes','no','1','0','on','maybe'])
         [CAST(event_id % 10 AS INT) + 1] AS bool_text
  FROM events)
"""


def cdc_typed_props(spark, sf_dir):
    """Lazy typed extraction from the text payload (props JSON) — the
    deserializer's int fast path, grouped."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", "([0-9]+)", 1).cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.max(k).alias("max_k"),
        F.count(F.when(k.isNull(), 1)).alias("n_bad"),
    )


CDC_TYPED_PROPS_SQL = """
SELECT event_type,
       CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
       CAST(count(CASE WHEN k IS NULL THEN 1 END) AS BIGINT) AS n_bad
FROM (SELECT event_type,
             CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


def cdc_salted_compact(spark, sf_dir):
    """Hot-key last-image compaction through the EXPLICIT two-level salted
    reduce (operators/compact.py compact_salted): the whole events stream
    collapses onto 5 keys (user_id % 5 — pathological skew, the shape where
    a single reducer would hold the entire batch at 10^10-row scale).
    'error' events are deletes, 'view' values are unchanged-TOAST (the
    carry-forward must take the newest NON-toast upsert value)."""
    from .operators.compact import compact_salted

    images = _t(spark, sf_dir, "events").selectExpr(
        "user_id % 5 AS k",
        "CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' "
        "END AS _op",
        "event_id AS commit_lsn",
        "event_id AS seq",
        "value",
        "event_type",
        "event_type = 'view' AS _t_value",
        "false AS _t_event_type",
    )
    out = compact_salted(
        images, ["k"], [("value", "double"), ("event_type", "string")],
        n_salt=8,
    )
    return out.selectExpr(
        "k", "_op AS op", "round(value, 6) AS last_value",
        "event_type AS last_event_type",
    )


CDC_SALTED_COMPACT_SQL = """
WITH img AS (
  SELECT user_id % 5 AS k, event_id AS ord,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         value, event_type,
         (event_type = 'view') AS t_value
  FROM events
)
SELECT o.k, o.op, v.last_value, e.last_event_type
FROM      (SELECT k, arg_max(op, ord) AS op FROM img GROUP BY k) o
JOIN (SELECT k, round(arg_max(value, ord), 6) AS last_value
      FROM img WHERE op = 'upsert' AND NOT t_value GROUP BY k) v USING (k)
JOIN (SELECT k, arg_max(event_type, ord) AS last_event_type
      FROM img WHERE op = 'upsert' GROUP BY k) e USING (k)
"""


# ---------------------------------------------------------------------------
# Relational / TPC-H-ish breadth
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
         AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark, sf_dir):
    """Join order chosen so lineitem (the 6M-row fact side) is never
    shuffled (guide §3.1): orders is semi-reduced by the broadcast
    BUILDING-customer filter first (~1/5 survive, 3 narrow columns), and
    that small result is itself broadcast against lineitem. The one
    remaining exchange carries the partially-aggregated (orderkey) rows
    into the final aggregation; the old plan sort-merge-joined
    lineitem⋈orders through two full-table exchanges."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_bld = (
        o.join(F.broadcast(cu.filter(F.col("c_mktsegment") == "BUILDING")
                           .select("c_custkey")),
               o.o_custkey == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    rev = (
        li.join(F.broadcast(o_bld), li.l_orderkey == o_bld.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    # lineitem (6M rows) never shuffles: orders picks up the customer
    # nation via a broadcast join, the resulting (o_orderkey, c_nationkey)
    # pair table (~24 MB — guide §3.1's comfortably-broadcastable regime)
    # is broadcast against lineitem, and supplier/nation/region stay
    # broadcast. The only exchange left is the 25-group final aggregation;
    # the old plan shuffled lineitem, orders AND customer.
    o_n = (
        o.join(F.broadcast(cu.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    return (
        li.join(F.broadcast(o_n), li.l_orderkey == o_n.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") == su.s_nationkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


Q5_SQL = """
SELECT r_name, n_name,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
         AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def top_customers_window(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.col("total_spend").desc(), F.col("o_custkey"))
    return (
        spend.join(F.broadcast(cu), spend.o_custkey == cu.c_custkey)
        .select("o_custkey", "c_name", "total_spend", "n_orders")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )


TOP_CUSTOMERS_SQL = """
SELECT o_custkey, c_name, total_spend, n_orders, rank FROM (
  SELECT o_custkey, c_name, total_spend, n_orders,
         row_number() OVER (ORDER BY total_spend DESC, o_custkey) AS rank
  FROM (SELECT o_custkey,
               round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_spend,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey)
  JOIN customer ON o_custkey = c_custkey)
WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Dedup suite (documents)
# ---------------------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    return dd.exact_dedup(_t(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""

_SHINGLE_SQL = (
    "SELECT DISTINCT doc_id AS id, unnest([substr(lower(text), x, 3) "
    "for x in range(1, greatest(length(text) - 1, 1))]) AS sh FROM documents"
)

# ---------------------------------------------------------------------------
# Derived near-duplicate corpus: the sf fixtures contain 100% distinct docs,
# so near-dup operators verified on the raw table are vacuous (a 0-row match
# can't catch a broken operator — CORRECTNESS_r01 dedup_ngram_jaccard). Every
# 5th doc gets a deterministic 90%-prefix copy at doc_id + 1,000,000; both
# engines derive the same corpus, and the known planted pairs make recall
# measurable (tests/test_analytics_quality.py).
# ---------------------------------------------------------------------------

_NEARDUP_OFFSET = 1_000_000


def _neardup_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _NEARDUP_OFFSET).alias("doc_id"),
        F.expr(
            "substring(text, 1, greatest((length(text) * 9) div 10, 3))"
        ).alias("text"),
    )
    # repartition: the fixture is one parquet file per union branch, so
    # without this every downstream shingle/hash map stage runs in TWO
    # tasks no matter how many cores the session has
    return d.unionByName(dups).repartition(
        spark.sparkContext.defaultParallelism
    )


_NEARDUP_DOCS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       substr(text, 1, greatest((length(text) * 9) // 10, 3)) AS text
FROM documents WHERE doc_id % 5 = 0
"""

_CORPUS_SHINGLE_SQL = (
    "SELECT DISTINCT doc_id AS id, unnest([substr(lower(text), x, 3) "
    "for x in range(1, greatest(length(text) - 1, 1))]) AS sh FROM corpus"
)


def minhash_signatures(spark, sf_dir):
    """Arrow-vectorized minhash (bit-identical to the SQL
    definition — see dedup.minhash_signature_arrow)."""
    return dd.minhash_signature_arrow(_t(spark, sf_dir, "documents"), k=8)


def _minhash_sig_ctes(shingle_sql: str, k: int) -> str:
    """dim + sig CTE bodies: 60-bit md5-derived integer minhashes (the
    definition dedup.minhash_signature_arrow reproduces — one md5 per
    DISTINCT shingle per function, integer min aggregation)."""
    dim_cols = ",\n".join(
        f"         CAST('0x' || substr(md5('{i}:' || sh), 1, 15) AS BIGINT)"
        f" AS h{i}"
        for i in range(k)
    )
    mins = ",\n".join(f"         min(h{i}) AS h{i}" for i in range(k))
    return f"""dim AS (
  SELECT sh,
{dim_cols}
  FROM (SELECT DISTINCT sh FROM ({shingle_sql}))
), sig AS (
  SELECT id AS doc_id,
{mins}
  FROM ({shingle_sql}) JOIN dim USING (sh)
  GROUP BY id
)"""


MINHASH_SIG_SQL = f"""
WITH {_minhash_sig_ctes(_SHINGLE_SQL, 8)}
SELECT * FROM sig
"""


_MINHASH_K, _MINHASH_BANDS = 128, 16  # r = 8 rows/band
# band buckets above this size are dropped before the candidate self-join
# (dedup.minhash_lsh_pairs max_bucket). Measured at sf0.1: unguarded the
# homogeneous synthetic corpus put 4.1% of ALL pairs in the candidate set
# (hot stopword-shingle buckets, up to 430 docs each); at 16 the ratio is
# 0.39% with planted near-dup recall still 1000/1000.
_MINHASH_MAX_BUCKET = 16


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs over the derived near-dup corpus.
    k=128/bands=16 (r=8): at r=8 a band only matches at Jaccard ~0.8+, so
    candidates stay a tiny fraction of all pairs (r=2 at k=8 admitted 52%
    of all pairs at sf0.01 — effectively all-pairs, the round-1 weakness).
    Band buckets above _MINHASH_MAX_BUCKET docs are dropped (hot-bucket
    guard; mirrored in the oracle CTE)."""
    return dd.minhash_lsh_pairs(_neardup_docs(spark, sf_dir),
                                k=_MINHASH_K, bands=_MINHASH_BANDS,
                                max_bucket=_MINHASH_MAX_BUCKET)


def _minhash_cand_ctes(k: int, bands: int,
                       max_bucket: int | None = None) -> str:
    """Shared CTE block: derived corpus → minhash signatures → LSH bands →
    distinct candidate pairs (used by both the LSH query and the
    LSH+exact-Jaccard rescore query). ``max_bucket`` mirrors the Spark
    operator's hot-bucket guard."""
    r = k // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"h{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )
    guard = ""
    src = "bands"
    if max_bucket is not None:
        guard = f""", kept AS (
  SELECT bands.doc_id, bands.band, bands.band_key
  FROM bands JOIN (SELECT band, band_key FROM bands
                   GROUP BY band, band_key
                   HAVING count(*) <= {max_bucket}) sm
       USING (band, band_key)
)"""
        src = "kept"
    return f"""
WITH corpus AS ({_NEARDUP_DOCS_SQL}),
{_minhash_sig_ctes(_CORPUS_SHINGLE_SQL, k)}, bands AS (
{band_selects}
){guard}, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM {src} a JOIN {src} b USING (band, band_key)
  WHERE a.doc_id < b.doc_id
)"""


MINHASH_LSH_SQL = (
    _minhash_cand_ctes(_MINHASH_K, _MINHASH_BANDS, _MINHASH_MAX_BUCKET)
    + "\nSELECT id_a, id_b FROM cand\n"
)

_TOKEN_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def simhash_signatures(spark, sf_dir):
    """64-bit simhash as 4x16-bit piece columns (p0..p3). 16-bit signatures
    birthday-collide at ~300 random docs (round-1: 63 phantom 'dup groups'
    in a 500-unique-doc fixture); 64 bits makes accidental collisions
    negligible, and the pieces double as the hamming-banding keys."""
    return dd.simhash_pieces(_t(spark, sf_dir, "documents"))


def _simhash_pieces_sql(source: str = "documents", n_pieces: int = 4,
                        piece_bits: int = 16) -> str:
    bits = n_pieces * piece_bits
    bit_sums = []
    for j in range(bits):
        hex_pos = j // 4 + 1
        shift = j % 4
        bit_sums.append(
            f"CAST(sum((((strpos('0123456789abcdef', substr(h, {hex_pos}, 1)) - 1)"
            f" >> {shift}) & 1) * 2 - 1) AS BIGINT) AS s{j}"
        )
    piece_terms = []
    for p in range(n_pieces):
        terms = " + ".join(
            f"(CASE WHEN s{p * piece_bits + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(piece_bits)
        )
        piece_terms.append(f"CAST({terms} AS BIGINT) AS p{p}")
    return f"""
WITH tok AS (
  SELECT doc_id, md5(unnest({_TOKEN_SQL})) AS h
  FROM {source}
), sums AS (
  SELECT doc_id, {', '.join(bit_sums)} FROM tok GROUP BY doc_id
)
SELECT doc_id, {', '.join(piece_terms)} FROM sums
"""


SIMHASH_SIG_SQL = _simhash_pieces_sql("documents")


def dedup_simhash_pairs(spark, sf_dir):
    """Near-dup pairs at simhash hamming distance ≤ 3 over the derived
    near-dup corpus, via 4x16-bit piece banding (pigeonhole-complete for
    hamming ≤ 3) + exact hamming verification."""
    return dd.simhash_hamming_pairs(_neardup_docs(spark, sf_dir),
                                    max_hamming=3)


SIMHASH_PAIRS_SQL = f"""
WITH corpus AS ({_NEARDUP_DOCS_SQL}),
sig AS ({_simhash_pieces_sql("corpus")}),
cand AS (
""" + "\n  UNION ALL\n".join(
    f"  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a"
    f" JOIN sig b ON a.p{p} = b.p{p} WHERE a.doc_id < b.doc_id"
    for p in range(4)
) + """
),
dcand AS (SELECT DISTINCT id_a, id_b FROM cand)
SELECT id_a, id_b,
       CAST(bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1))
          + bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3))
        AS INTEGER) AS hamming
FROM dcand
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b
WHERE bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1))
    + bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3)) <= 3
"""


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact char-3-gram Jaccard over MinHash-LSH candidates on the derived
    near-dup corpus. Round-1 registered the raw inverted-index variant,
    which (a) was vacuous (0 rows — the fixture has no duplicates) and
    (b) blows up through hot shingles at corpus scale; LSH banding bounds
    the candidate set and the rescore is exact, so precision is exact and
    recall is the band recall (≥99% at J ≥ 0.8). The planted 90%-prefix
    copies land at J ≈ 0.85-0.95."""
    return dd.ngram_jaccard_lsh_pairs(
        _neardup_docs(spark, sf_dir), threshold=0.65,
        k=_MINHASH_K, bands=_MINHASH_BANDS,
        max_bucket=_MINHASH_MAX_BUCKET,
    )


_JACCARD_EST_MIN = -(-_MINHASH_K * 50 // 100)  # ceil(k·(0.65−0.15))

NGRAM_JACCARD_SQL = _minhash_cand_ctes(
    _MINHASH_K, _MINHASH_BANDS, _MINHASH_MAX_BUCKET) + f""",
cand_est AS (
  -- signature-estimate prefilter, mirrored from the Spark operator:
  -- candidates whose minhash component-match count estimates J well
  -- below the threshold skip the exact intersection
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b
  WHERE len(list_filter([{", ".join(
      f"sa.h{i} = sb.h{i}" for i in range(_MINHASH_K))}],
      x -> x)) >= {_JACCARD_EST_MIN}),
sets AS (
  SELECT doc_id AS id,
         list_distinct([substr(lower(text), x, 3)
                        for x in range(1, greatest(length(text) - 1, 1))])
           AS shs
  FROM corpus),
scored AS (
  SELECT id_a, id_b,
         len(list_intersect(a.shs, b.shs)) AS i,
         len(a.shs) AS sza, len(b.shs) AS szb
  FROM cand_est JOIN sets a ON a.id = id_a JOIN sets b ON b.id = id_b)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sza + szb - i), 6) AS jaccard
FROM scored
WHERE CAST(i AS DOUBLE) / (sza + szb - i) >= 0.65
"""


def _neardup_embeddings(spark, sf_dir):
    """embeddings ∪ perturbed copies of every 5th vector (vec_id +
    1,000,000; element i nudged by ±0.02 with alternating sign) — planted
    cos≈0.99 near-dup pairs, since the raw fixture has none above ~0.6.
    Everything is double on both engines so scores match bit-for-bit."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        # native array cast, not a transform lambda: same exact values,
        # no interpreted per-element closure on the 20k-row branch
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    dups = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    ).select(
        (F.col("vec_id") + _NEARDUP_OFFSET).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double)"
            " + 0.02 * (case when (i + 1) % 2 = 0 then 1.0d else -1.0d end))"
        ).alias("embedding"),
    )
    # single-file fixture → repartition so plane dots/norms parallelize
    return e.unionByName(dups).repartition(
        spark.sparkContext.defaultParallelism
    )


_NEARDUP_EMB_SQL = """
SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id,
       list_transform(range(1, len(embedding) + 1),
                      i -> CAST(embedding[i] AS DOUBLE)
                           + 0.02 * (CASE WHEN i % 2 = 0
                                          THEN 1.0 ELSE -1.0 END))
         AS embedding
FROM embeddings WHERE vec_id % 5 = 0
"""


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup detection, scale path: multi-band sign-LSH
    candidates + exact cosine rescore at threshold 0.95 over the derived
    near-dup corpus. The round-1 registration was a brute-force crossJoin
    (82.6 s at sf0.1, O(n²) at corpus scale); the oracle here stays the
    brute-force SQL, so the LSH path must reproduce it exactly — per-pair
    miss probability at cos 0.987 is ~6e-6 (12 planes x 16 bands; bucket
    assignment is ONE Arrow-batched matmul, not per-row plane-dot
    expressions), verified against brute force at sf0.001/0.01/0.1 in
    tests/test_analytics_quality.py."""
    return sim.ann_lsh_pairs_arrow(
        _neardup_embeddings(spark, sf_dir), threshold=0.95,
        n_planes=12, bands=16,
    )


EMBED_COSINE_SQL = f"""
WITH corpus AS ({_NEARDUP_EMB_SQL}),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(embedding, embedding)) AS nrm
  FROM corpus)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm), 6)
         AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding, b.embedding)
            / (a.nrm * b.nrm), 6) >= 0.95
"""


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------


def _par_embeddings(spark, sf_dir):
    """embeddings is a single one-row-group parquet file — an unsplittable
    1-task scan (guide §2.5 input skew). The ANN operators' dominant cost
    is per-vector JVM dot products in the stages ABOVE that scan, so
    repartition the (small) table once and every downstream narrow stage
    runs corpus-parallel instead of single-task."""
    return _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )


def ann_bruteforce_topk(spark, sf_dir):
    return sim.ann_bruteforce(
        _par_embeddings(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5
    )


ANN_BRUTE_SQL = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.embedding, c.embedding) / (q.nrm * c.nrm), 6)
           AS cos
  FROM n q JOIN n c ON c.vec_id != q.vec_id
  WHERE q.vec_id IN (0, 1, 2, 3, 4))
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


def ann_ivf_topk(spark, sf_dir):
    """IVF top-k with ONE k-means training pass over the deterministic
    seeds (round 1 searched untrained first-8-by-id centroids — "recall is
    accidental"). Component means are exact decimal sums so DuckDB
    reproduces the trained centroids bit-for-bit."""
    return sim.ann_ivf(
        _par_embeddings(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5,
        n_centroids=8, n_probe=2, train_iterations=1,
    )


def ann_lsh_pairs(spark, sf_dir):
    return sim.ann_lsh_pairs(_par_embeddings(spark, sf_dir), threshold=0.45)


def _ann_lsh_sql(n_planes: int = 4, bands: int = 8) -> str:
    all_planes = sim.lsh_planes(n_planes * bands, 64)

    def bucket_expr(planes):
        lits = ["[" + ", ".join(repr(x) for x in p) + "]" for p in planes]
        return " + ".join(
            f"(CASE WHEN list_dot_product(emb, {pl}) > 0 THEN {1 << i}"
            f" ELSE 0 END)"
            for i, pl in enumerate(lits)
        )

    band_sel = ",\n         ".join(
        f"CAST({bucket_expr(all_planes[b * n_planes:(b + 1) * n_planes])}"
        f" AS INT) AS bucket{b}"
        for b in range(bands)
    )
    unions = "\n  UNION\n".join(
        f"  SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM bkt a JOIN bkt b"
        f" ON a.bucket{b} = b.bucket{b} AND a.vec_id < b.vec_id"
        for b in range(bands)
    )
    return f"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings),
bkt AS (SELECT vec_id, emb, nrm,
         {band_sel}
        FROM n),
cand AS (
{unions}
)
SELECT c.id_a, c.id_b,
       round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos
FROM cand c JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.45
"""


ANN_LSH_SQL = _ann_lsh_sql()


# ---------------------------------------------------------------------------
# Text analysis (documents)
# ---------------------------------------------------------------------------


def lang_id(spark, sf_dir):
    return tx.language_id(_t(spark, sf_dir, "documents"))


def _lang_sql() -> str:
    hits = []
    for lang in sorted(tx.STOPWORDS):
        words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
        hits.append(
            f"len(list_filter({_TOKEN_SQL}, x -> list_contains([{words}], x)))"
            f" AS hits_{lang}"
        )
    langs = sorted(tx.STOPWORDS)
    mx = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + mx + " <= 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = {mx} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
SELECT doc_id, {case} AS predicted_lang
FROM (SELECT doc_id, {', '.join(hits)} FROM documents)
"""


LANG_ID_SQL = _lang_sql()


def text_quality(spark, sf_dir):
    return tx.quality_score(_t(spark, sf_dir, "documents"))


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars_computed,
       round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS alpha_ratio,
       round(CAST(length(text)
             - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(CAST(len(list_filter({_TOKEN_SQL},
             x -> list_contains(['the','and','of','to','in','is','that','for',
                                 'with','a'], x))) AS DOUBLE)
             / greatest(len({_TOKEN_SQL}), 1), 6) AS stopword_ratio,
       round(
         0.4 * round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               AS DOUBLE) / greatest(length(text), 1), 6)
       + 0.3 * least(length(text) / 2000.0, 1.0)
       + 0.2 * round(CAST(len(list_filter({_TOKEN_SQL},
               x -> list_contains(['the','and','of','to','in','is','that',
                                   'for','with','a'], x))) AS DOUBLE)
               / greatest(len({_TOKEN_SQL}), 1), 6)
       + 0.1 * (1 - least(round(CAST(length(text)
               - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1), 6) * 10, 1.0)), 6) AS quality
FROM documents
"""


def token_stats(spark, sf_dir):
    return tx.token_stats(_t(spark, sf_dir, "documents"))


TOKEN_STATS_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
         AS bpe_tokens,
       round(CAST(length(text) AS DOUBLE)
             / greatest(len(regexp_extract_all(text,
                        '[A-Za-z0-9]+|[^A-Za-z0-9\s]')), 1), 6)
         AS chars_per_token
FROM documents
"""


def doc_fingerprint(spark, sf_dir):
    return tx.fingerprint(_t(spark, sf_dir, "documents"), w=8)


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       list_min([md5(substr(lower(text), x, 8))
                 for x in range(1, greatest(length(text) - 6, 1))])
         AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (rows-only checks)
# ---------------------------------------------------------------------------


ANN_IVF_SQL = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings),
seeds AS (SELECT vec_id AS centroid_id, emb AS cvec, nrm AS cnorm
          FROM n ORDER BY vec_id LIMIT 8),
assign0 AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.centroid_id AS cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, c.cvec)
                            / (v.nrm * c.cnorm), 9) DESC,
                      c.centroid_id) rn
    FROM n v, seeds c) WHERE rn = 1),
comp AS (
  SELECT a.cell, unnest(range(1, len(v.emb) + 1)) AS pos,
         unnest(v.emb) AS x
  FROM assign0 a JOIN n v USING (vec_id)),
cmean AS (
  SELECT cell, pos,
         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
               / count(*), 9) AS cx
  FROM comp GROUP BY 1, 2),
trained AS (
  SELECT cell AS centroid_id, list(cx ORDER BY pos) AS cvec
  FROM cmean GROUP BY 1),
cents AS (
  SELECT s.centroid_id, coalesce(t.cvec, s.cvec) AS cvec,
         sqrt(list_dot_product(coalesce(t.cvec, s.cvec),
                               coalesce(t.cvec, s.cvec))) AS cnorm
  FROM seeds s LEFT JOIN trained t USING (centroid_id)),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.centroid_id AS cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, c.cvec)
                            / (v.nrm * c.cnorm), 9) DESC,
                      c.centroid_id) rn
    FROM n v, cents c) WHERE rn = 1),
probes AS (
  SELECT query_id, cell, qv, qn FROM (
    SELECT q.vec_id AS query_id, c.centroid_id AS cell, q.emb AS qv,
           q.nrm AS qn,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.emb, c.cvec)
                            / (q.nrm * c.cnorm), 9) DESC,
                      c.centroid_id) rn
    FROM n q, cents c WHERE q.vec_id IN (0, 1, 2, 3, 4)) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, v.vec_id AS neighbor_id,
         round(list_dot_product(p.qv, v.emb) / (p.qn * v.nrm), 6) AS cos
  FROM probes p
  JOIN assign a ON a.cell = p.cell
  JOIN n v ON v.vec_id = a.vec_id
  WHERE v.vec_id != p.query_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


def multimodal_byte_features(spark, sf_dir):
    """Arrow-batched byte-histogram features through the mapInPandas
    plumbing, serialized to an exact integer-ppm CSV string: the driver's
    pandas canonicalizer cannot hash array<double> columns
    (CORRECTNESS_r01 `unhashable type: 'list'`), and integer ppm
    (c * 1e6 div n_bytes) is bit-identical in Spark and DuckDB where float
    rounding modes are not."""
    media = mm.docs_as_media(_t(spark, sf_dir, "documents"))
    feats = mm.byte_histogram_counts(media)
    return feats.select(
        "media_id", "n_bytes",
        F.expr(
            "concat_ws(',', transform(counts,"
            " c -> cast((c * 1000000) div greatest(n_bytes, 1) as string)))"
        ).alias("features_ppm"),
    )


MULTIMODAL_FEATURES_SQL = """
WITH ch AS (
  SELECT doc_id AS media_id, length(text) AS n_bytes,
         unnest([ascii(substr(text, x, 1)) // 16
                 for x in range(1, length(text) + 1)]) AS bin
  FROM documents),
hist AS (
  SELECT media_id, n_bytes, bin, count(*) AS c
  FROM ch GROUP BY 1, 2, 3),
bins AS (SELECT unnest(range(0, 16)) AS bin),
filled AS (
  SELECT m.media_id, m.n_bytes, b.bin, coalesce(h.c, 0) AS c
  FROM (SELECT DISTINCT media_id, n_bytes FROM ch) m
  CROSS JOIN bins b
  LEFT JOIN hist h ON h.media_id = m.media_id AND h.bin = b.bin)
SELECT media_id, n_bytes,
       string_agg(CAST((c * 1000000) // greatest(n_bytes, 1) AS VARCHAR),
                  ',' ORDER BY bin) AS features_ppm
FROM filled GROUP BY media_id, n_bytes
"""


def multimodal_byte_features_flat(spark, sf_dir):
    """Oracle-checkable form of the Arrow-batched feature extractor:
    integer byte-histogram bin counts as 16 typed columns (texts are ASCII,
    so the SQL oracle reproduces the byte histogram from codepoints;
    integer counts sidestep float rounding-mode differences)."""
    media = mm.docs_as_media(_t(spark, sf_dir, "documents"))
    feats = mm.byte_histogram_counts(media)
    return feats.select(
        "media_id", "n_bytes",
        *[F.element_at("counts", i + 1).alias(f"f{i}") for i in range(16)],
    )


MULTIMODAL_FLAT_SQL = """
WITH ch AS (
  SELECT doc_id AS media_id, length(text) AS n_bytes,
         unnest([ascii(substr(text, x, 1)) // 16
                 for x in range(1, length(text) + 1)]) AS bin
  FROM documents),
hist AS (
  SELECT media_id, n_bytes, bin, count(*) AS c
  FROM ch GROUP BY 1, 2, 3)
SELECT media_id, n_bytes,
""" + ",\n".join(
    f"       coalesce(CAST(max(CASE WHEN bin = {i} THEN c END) AS BIGINT), 0)"
    f" AS f{i}" for i in range(16)
) + """
FROM hist GROUP BY media_id, n_bytes
"""


def multimodal_frame_sample(spark, sf_dir):
    media = mm.docs_as_media(_t(spark, sf_dir, "documents"))
    return mm.frame_sample(media).select(
        "media_id", F.size("sampled_bytes").alias("n_samples")
    )


MULTIMODAL_FRAME_SQL = """
SELECT doc_id AS media_id,
       CAST(length(text) // 256 AS INT) AS n_samples
FROM documents
"""


def multimodal_image_decode(spark, sf_dir):
    """REAL image decode path, oracle-checked end to end: per doc a small
    RGB image with closed-form pixels p[i] = (doc_id + i) mod 256 is
    containerized (PPM for even ids, 24-bit BMP for odd — padding, BGR
    order and bottom-up rows exercised) and decoded back by the pure-numpy
    decoder; the oracle reproduces the decoded geometry and per-channel
    pixel sums analytically."""
    media = mm.synth_images(_t(spark, sf_dir, "documents"))
    return mm.image_decode_stats(media)


MULTIMODAL_IMAGE_SQL = """
WITH geo AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
  FROM documents),
px AS (
  -- 324 = max pixel bytes (w <= 12, h <= 9, 3 channels); range() takes no
  -- lateral column args in DuckDB, so cross-join the max and filter
  SELECT media_id, w, h, i,
         (media_id + i) % 256 AS v
  FROM geo CROSS JOIN range(0, 324) t(i)
  WHERE i < w * h * 3)
SELECT media_id,
       CAST(any_value(w) AS INT) AS width,
       CAST(any_value(h) AS INT) AS height,
       CAST(sum(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b
FROM px GROUP BY media_id
"""


def multimodal_image_resize(spark, sf_dir):
    """Decode + nearest-neighbor resize to 16x12 (the thumbnail/normalize
    step of a vision-training pipeline), per-channel pixel sums of the
    RESIZED image. The oracle reproduces the resized grid analytically via
    the same integer index map (src = dst * src_len // dst_len) over the
    closed-form source pixels — the resize arithmetic itself is
    oracle-checked, not just the decode."""
    media = mm.synth_images(_t(spark, sf_dir, "documents"))
    return mm.image_resize_stats(media)


MULTIMODAL_RESIZE_SQL = """
WITH geo AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
  FROM documents),
px AS (
  SELECT media_id, c.c AS c,
         (media_id + (((y.y * h) // 12) * w + ((x.x * w) // 16)) * 3 + c.c)
           % 256 AS v
  FROM geo
  CROSS JOIN range(0, 12) y(y)
  CROSS JOIN range(0, 16) x(x)
  CROSS JOIN range(0, 3) c(c))
SELECT media_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b
FROM px GROUP BY media_id
"""


def multimodal_audio_decode(spark, sf_dir):
    """REAL audio container path: per doc a 16-bit mono PCM WAV with
    closed-form samples s[i] = ((id*31 + i*7) mod 65536) - 32768 is
    encoded (RIFF chunks) and decoded back by the pure-numpy chunk-walking
    parser; integer features (sample count, rate, amplitude sum, energy,
    rising zero crossings) are reproduced analytically by the oracle."""
    media = mm.synth_audio(_t(spark, sf_dir, "documents"))
    return mm.audio_decode_stats(media)


MULTIMODAL_AUDIO_SQL = """
WITH geo AS (
  SELECT doc_id AS media_id,
         400 + (doc_id % 37) * 8 AS n,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM documents),
s AS (
  SELECT media_id, n, rate, t.i AS i,
         ((media_id * 31 + t.i * 7) % 65536) - 32768 AS v
  FROM geo CROSS JOIN range(0, 696) t(i)
  WHERE t.i < n)
SELECT media_id,
       CAST(any_value(n) AS INT) AS n_samples,
       CAST(any_value(rate) AS INT) AS sample_rate,
       CAST(sum(v) AS BIGINT) AS amp_sum,
       CAST(sum(v * v) AS BIGINT) AS energy,
       CAST(sum(CASE WHEN i > 0
                AND ((media_id * 31 + (i - 1) * 7) % 65536) - 32768 < 0
                AND v >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS rising_crossings
FROM s GROUP BY media_id
"""


def cdc_asof_join(spark, sf_dir):
    """Backward as-of join (point-in-time feature join): every event gains
    the user's latest 'marker' event (a sampled sub-stream) at or before
    its timestamp. Spark has no native ASOF JOIN; the operator uses the
    union + running-window formulation — one key shuffle, no range-join
    blowup — and the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the
    semantics (inclusive ties, left-join nulls) are pinned against an
    independent implementation."""
    from .operators.asof import asof_join

    _utc(spark)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    markers = (
        ev.filter(F.col("event_id") % 7 == 0)
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_id").alias("marker_event_id"))
    )
    out = asof_join(ev, markers, on=["user_id"],
                    left_ord="ts_us", right_ord="ts_us")
    return out.select(
        "user_id", "event_id", "ts_us",
        F.col("asof_ord").alias("marker_ts_us"), "marker_event_id",
    )


CDC_ASOF_SQL = """
WITH markers AS (
  SELECT user_id, ts, max(event_id) AS marker_event_id
  FROM events WHERE event_id % 7 = 0 GROUP BY user_id, ts)
SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us,
       epoch_us(m.ts) AS marker_ts_us,
       m.marker_event_id AS marker_event_id
FROM events l ASOF LEFT JOIN markers m
  ON l.user_id = m.user_id AND l.ts >= m.ts
"""


def cdc_scd2_history(spark, sf_dir):
    """SCD2 historization of the events stream: per user, one validity
    interval per event_type CHANGE (consecutive equal types collapse),
    closed by the next change's timestamp — the point-in-time-join shape a
    training pipeline derives from a CDC feed. One shuffle (the key), two
    window passes over it."""
    from .operators.scd2 import scd2_history

    _utc(spark)  # ts is NTZ; the cast below must interpret it as UTC,
    # matching DuckDB's epoch_us over the same naive timestamps
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    out = scd2_history(
        ev, key_cols=["user_id"], order_cols=["ts_us", "event_id"],
        attr_cols=["event_type"], valid_col="ts_us",
        carry_cols=("event_id",),
    )
    return out.select(
        "user_id", F.col("event_id").alias("change_event_id"), "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"), "is_current",
    )


CDC_SCD2_SQL = """
WITH marked AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         lag(event_type) OVER
           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS prev_type
  FROM events),
changes AS (
  SELECT user_id, event_id, event_type, ts_us FROM marked
  WHERE prev_type IS NULL OR prev_type <> event_type)
SELECT user_id, event_id AS change_event_id, event_type,
       ts_us AS valid_from_us,
       lead(ts_us) OVER w AS valid_to_us,
       (lead(ts_us) OVER w IS NULL) AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


def multimodal_audio_resample(spark, sf_dir):
    """Decode + nearest-neighbor resample to 512 samples (the
    rate-normalization step of a speech pipeline); integer features of the
    RESAMPLED signal, with the resample index map (src = dst*n//512)
    reproduced analytically by the oracle."""
    media = mm.synth_audio(_t(spark, sf_dir, "documents"))
    return mm.audio_resample_stats(media)


MULTIMODAL_RESAMPLE_SQL = """
WITH geo AS (
  SELECT doc_id AS media_id, 400 + (doc_id % 37) * 8 AS n
  FROM documents),
s AS (
  SELECT media_id,
         ((media_id * 31 + ((j.j * n) // 512) * 7) % 65536) - 32768 AS v
  FROM geo CROSS JOIN range(0, 512) j(j))
SELECT media_id,
       CAST(512 AS INT) AS n_out,
       CAST(sum(v) AS BIGINT) AS amp_sum,
       CAST(sum(v * v) AS BIGINT) AS energy
FROM s GROUP BY media_id
"""


# ---------------------------------------------------------------------------
# CDC engine stages (rows-only: not SQL-expressible)
# ---------------------------------------------------------------------------


def wal_decode_counts(spark, sf_dir):
    """Vectorized decode of a deterministic in-memory WAL fixture → event
    counts by type (the decode stage through the driver contract)."""
    from .fixtures import wal_gen as wg
    from .operators.decode import CONTROL_TAGS, build_context, decode_frames_df

    _, b = wg.gen_mixed_dml(n_base=120, n_txns=12, ops_per_txn=8, seed=7)
    frames_pd = b.to_table().to_pandas()
    frames = spark.createDataFrame(frames_pd)
    control = [
        r.asDict()
        for r in frames.filter(F.col("tag").isin(list(CONTROL_TAGS)))
        .select("seq", "wal_start", "data").sort("seq").collect()
    ]
    ctx = build_context(control)
    ev = decode_frames_df(frames, ctx)
    return ev.groupBy("event_type", "txn_status").agg(
        F.count(F.lit(1)).alias("n")
    )


def wal_replay_final_state(spark, sf_dir):
    """Full engine replay of a deterministic fixture into a temp lake →
    final table with the sha256 invariant column."""
    from .engine import ReplayEngine
    from .fixtures import wal_gen as wg

    base, b = wg.gen_basic(n_base=100, n_txns=10, ops_per_txn=6, seed=11)
    wd = tempfile.mkdtemp(prefix="walstream_entry_")
    wg.write_frames(b.to_table(), f"{wd}/frames")
    wg.write_base(base, f"{wd}/base.parquet")
    eng = ReplayEngine(spark, f"{wd}/wh")
    eng.bootstrap_table("repos", spark.read.parquet(f"{wd}/base.parquet"),
                        ["repo", "path"], n_buckets=8)
    eng.replay_frames(f"{wd}/frames")
    out = eng.table("repos").read(spark).select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
    # stable whole-state digest: sha256 over the sorted per-row digests.
    # The fixture is seeded, so the value is a constant across runs — the
    # SAME constant the oracle SQL pins (WAL_REPLAY_FP below), turning this
    # engine-internal query into a hash-checked driver row; any semantics
    # drift (lost rows, wrong last image, broken TOAST carry) flips it.
    # Independently re-derived from the sequential golden applier in
    # tests/test_queries_oracle.py::test_wal_replay_fingerprint.
    digest = F.sha2(
        F.concat_ws("|", "repo", "path", "commit", "lang", "content_sha256"),
        256,
    )
    return out.agg(
        F.sha2(
            F.concat_ws("|", F.sort_array(F.collect_list(digest))), 256
        ).alias("table_fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


WAL_REPLAY_FP = \
    "c8d749270b25741e0804b42c1083b28dfbd6464622e8c2198bd1f144a5ceafc9"
WAL_REPLAY_FINAL_STATE_SQL = f"""
SELECT '{WAL_REPLAY_FP}' AS table_fingerprint, CAST(160 AS BIGINT) AS n_rows
"""


def cdc_changelog_roundtrip(spark, sf_dir):
    """Engine replay of the wal_replay_final_state fixture with the
    change-data-feed enabled (WALSTREAM_CHANGELOG=1), then the feed is
    applied commit-by-commit onto a FRESH copy of the bootstrap base
    (LakeTable.read_changes → merge, which runs the same merge kernel as
    the engine) and the REPLICA is fingerprinted.
    The oracle pins the SAME constant as wal_replay_final_state: the feed
    must reproduce the exact table the engine materialized, which the
    golden applier independently derives — so a feed that loses a record,
    mis-orders commits, or breaks the TOAST carry-forward contract flips
    the hash. (Reference analog: the consumer-side apply loop,
    /root/reference/src/stream.rs delivery contract.)"""
    import os

    from .engine import ReplayEngine
    from .fixtures import wal_gen as wg
    from .lake.table import LakeTable

    base, b = wg.gen_basic(n_base=100, n_txns=10, ops_per_txn=6, seed=11)
    wd = tempfile.mkdtemp(prefix="walstream_cdf_")
    wg.write_frames(b.to_table(), f"{wd}/frames")
    wg.write_base(base, f"{wd}/base.parquet")
    prev = os.environ.get("WALSTREAM_CHANGELOG")
    os.environ["WALSTREAM_CHANGELOG"] = "1"
    try:
        eng = ReplayEngine(spark, f"{wd}/wh")
        eng.bootstrap_table(
            "repos", spark.read.parquet(f"{wd}/base.parquet"),
            ["repo", "path"], n_buckets=8)
        eng.replay_frames(f"{wd}/frames")
    finally:
        if prev is None:
            os.environ.pop("WALSTREAM_CHANGELOG", None)
        else:
            os.environ["WALSTREAM_CHANGELOG"] = prev
    t = eng.table("repos")
    replica = LakeTable.create(
        spark, f"{wd}/replica", spark.read.parquet(f"{wd}/base.parquet"),
        ["repo", "path"], n_buckets=4)
    for snap in t.history():
        if not snap.get("changelog_files"):
            continue
        v = snap["version"]
        ch = t.read_changes(spark, since_version=v - 1, until_version=v)
        replica.merge(
            spark, ch.drop("_commit_version", "_commit_lsn"),
            applied_lsn=int(snap["properties"]["applied_lsn"]),
            batch_id=f"cdf-{v}")
    out = replica.read(spark).select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
    digest = F.sha2(
        F.concat_ws("|", "repo", "path", "commit", "lang", "content_sha256"),
        256,
    )
    return out.agg(
        F.sha2(
            F.concat_ws("|", F.sort_array(F.collect_list(digest))), 256
        ).alias("table_fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


CDC_CHANGELOG_SQL = f"""
SELECT '{WAL_REPLAY_FP}' AS table_fingerprint, CAST(160 AS BIGINT) AS n_rows
"""


def wal_streaming_2pc_replay(spark, sf_dir):
    """Full engine replay (protocol v4) of the streamed + two-phase
    lifecycle fixture — S/E/c, stream_abort with sub-xid poisoning,
    streamed prepare (p), begin_prepare/prepare (b/P), commit_prepared
    (K) and rollback_prepared (r) — into a temp lake, reduced to the
    whole-state sha256 fingerprint. The oracle SQL pins the constant
    independently re-derived from the sequential golden applier in
    tests/test_queries_oracle.py::test_wal_streaming_2pc_fingerprint
    (reference anchor: integration-tests/streaming_decode.rs:238-591)."""
    from .engine import ReplayEngine
    from .fixtures import wal_gen as wg

    base, b = wg.gen_streaming_2pc(n_base=90, seed=42, protocol_version=4)
    wd = tempfile.mkdtemp(prefix="walstream_s2pc_")
    wg.write_frames(b.to_table(), f"{wd}/frames")
    wg.write_base(base, f"{wd}/base.parquet")
    eng = ReplayEngine(spark, f"{wd}/wh", protocol_version=4)
    eng.bootstrap_table("repos", spark.read.parquet(f"{wd}/base.parquet"),
                        ["repo", "path"], n_buckets=8)
    eng.replay_frames(f"{wd}/frames")
    out = eng.table("repos").read(spark).select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
    digest = F.sha2(
        F.concat_ws("|", "repo", "path", "commit", "lang", "content_sha256"),
        256,
    )
    return out.agg(
        F.sha2(
            F.concat_ws("|", F.sort_array(F.collect_list(digest))), 256
        ).alias("table_fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


WAL_S2PC_FP = \
    "10fca53a5d5558a90f7ee2efd36cdffb69e096c8c9da0a21661495af68b8b955"
WAL_S2PC_SQL = f"""
SELECT '{WAL_S2PC_FP}' AS table_fingerprint, CAST(107 AS BIGINT) AS n_rows
"""


def cdc_rebucket_replay(spark, sf_dir):
    """Mid-stream online rebucket invariance: replay the FIRST HALF of the
    wal_replay_final_state fixture at 8 buckets, ``LakeTable.rebucket`` the
    live table to 16 (one bucketed write job; row conservation enforced
    against parquet footer stats, an anchor independent of the read path),
    then replay the rest and fingerprint the final state. The oracle pins
    the SAME constant as wal_replay_final_state: changing the bucket count
    under a half-applied stream must be invisible to the replayed result —
    fence carried, no row lost, moved or duplicated — plus the new bucket
    count as proof the rewrite actually committed."""
    import pyarrow.compute as pc

    from .engine import ReplayEngine
    from .fixtures import wal_gen as wg

    base, b = wg.gen_basic(n_base=100, n_txns=10, ops_per_txn=6, seed=11)
    frames = b.to_table()
    wd = tempfile.mkdtemp(prefix="walstream_rebkt_")
    wg.write_frames(frames, f"{wd}/frames")
    wg.write_base(base, f"{wd}/base.parquet")
    eng = ReplayEngine(spark, f"{wd}/wh")
    eng.bootstrap_table("repos", spark.read.parquet(f"{wd}/base.parquet"),
                        ["repo", "path"], n_buckets=8)
    lo = pc.min(frames.column("wal_start")).as_py()
    hi = pc.max(frames.column("wal_start")).as_py()
    eng.replay_frames(f"{wd}/frames", stop_at_lsn=(lo + hi) // 2)
    eng.table("repos").rebucket(spark, 16, reason="driver-query")
    eng.replay_frames(f"{wd}/frames")
    t = eng.table("repos")
    n_buckets = int(t.snapshot()["n_buckets"])
    out = t.read(spark).select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
    digest = F.sha2(
        F.concat_ws("|", "repo", "path", "commit", "lang", "content_sha256"),
        256,
    )
    return out.agg(
        F.sha2(
            F.concat_ws("|", F.sort_array(F.collect_list(digest))), 256
        ).alias("table_fingerprint"),
        F.count(F.lit(1)).alias("n_rows"),
    ).withColumn("n_buckets", F.lit(n_buckets).cast("bigint"))


CDC_REBUCKET_SQL = f"""
SELECT '{WAL_REPLAY_FP}' AS table_fingerprint, CAST(160 AS BIGINT) AS n_rows,
       CAST(16 AS BIGINT) AS n_buckets
"""

# decode-stage counts over the seeded gen_mixed_dml fixture: constants,
# independently re-derived via the sequential oracle parser in
# tests/test_queries_oracle.py::test_wal_decode_counts_pinned
WAL_DECODE_COUNTS_SQL = """
SELECT * FROM (VALUES
  ('begin',    CAST(NULL AS VARCHAR),  CAST(12 AS BIGINT)),
  ('commit',   'committed',            CAST(12 AS BIGINT)),
  ('delete',   'committed',            CAST(30 AS BIGINT)),
  ('insert',   'committed',            CAST(24 AS BIGINT)),
  ('relation', CAST(NULL AS VARCHAR),  CAST(2 AS BIGINT)),
  ('update',   'committed',            CAST(42 AS BIGINT))
) AS t(event_type, txn_status, n)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "cdc_last_image": (cdc_last_image, CDC_LAST_IMAGE_SQL),
    "cdc_event_counts": (cdc_event_counts, CDC_EVENT_COUNTS_SQL),
    "cdc_commit_gate": (cdc_commit_gate, CDC_COMMIT_GATE_SQL),
    "cdc_fence_dedup": (cdc_fence_dedup, CDC_FENCE_DEDUP_SQL),
    "cdc_pg_epoch_ts": (cdc_pg_epoch_ts, CDC_PG_EPOCH_TS_SQL),
    "cdc_lsn_format": (cdc_lsn_format, CDC_LSN_FORMAT_SQL),
    "pg_bool_coercion": (pg_bool_coercion, PG_BOOL_COERCION_SQL),
    "cdc_typed_props": (cdc_typed_props, CDC_TYPED_PROPS_SQL),
    "cdc_salted_compact": (cdc_salted_compact, CDC_SALTED_COMPACT_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_orders": (q3_top_orders, Q3_SQL),
    "q5_nation_revenue": (q5_nation_revenue, Q5_SQL),
    "top_customers_window": (top_customers_window, TOP_CUSTOMERS_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "minhash_signatures": (minhash_signatures, MINHASH_SIG_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, MINHASH_LSH_SQL),
    "simhash_signatures": (simhash_signatures, SIMHASH_SIG_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, SIMHASH_PAIRS_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, NGRAM_JACCARD_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, EMBED_COSINE_SQL),
    "ann_bruteforce_topk": (ann_bruteforce_topk, ANN_BRUTE_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "ann_lsh_pairs": (ann_lsh_pairs, ANN_LSH_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "token_stats": (token_stats, TOKEN_STATS_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "multimodal_byte_features": (
        multimodal_byte_features, MULTIMODAL_FEATURES_SQL,
    ),
    "multimodal_byte_features_flat": (
        multimodal_byte_features_flat, MULTIMODAL_FLAT_SQL,
    ),
    "multimodal_image_decode": (
        multimodal_image_decode, MULTIMODAL_IMAGE_SQL,
    ),
    "multimodal_frame_sample": (
        multimodal_frame_sample, MULTIMODAL_FRAME_SQL,
    ),
    "multimodal_image_resize": (
        multimodal_image_resize, MULTIMODAL_RESIZE_SQL,
    ),
    "multimodal_audio_decode": (
        multimodal_audio_decode, MULTIMODAL_AUDIO_SQL,
    ),
    "multimodal_audio_resample": (
        multimodal_audio_resample, MULTIMODAL_RESAMPLE_SQL,
    ),
    "cdc_changelog_roundtrip": (
        cdc_changelog_roundtrip, CDC_CHANGELOG_SQL,
    ),
    "cdc_scd2_history": (cdc_scd2_history, CDC_SCD2_SQL),
    "cdc_asof_join": (cdc_asof_join, CDC_ASOF_SQL),
    "wal_decode_counts": (wal_decode_counts, WAL_DECODE_COUNTS_SQL),
    "wal_replay_final_state": (
        wal_replay_final_state, WAL_REPLAY_FINAL_STATE_SQL,
    ),
    "wal_streaming_2pc_replay": (
        wal_streaming_2pc_replay, WAL_S2PC_SQL,
    ),
    "cdc_rebucket_replay": (
        cdc_rebucket_replay, CDC_REBUCKET_SQL,
    ),
}
