"""Relational operator suite — SURVEY.md §2 items re-expressed as Spark
DataFrame plans over the driver's TPC-H-ish testdata, each paired with an
ANSI-SQL oracle that DuckDB runs on the same parquet (the driver's
correctness gate).

Float determinism discipline: every floating aggregate rounds its addends
and accumulates in DECIMAL (exact, order-independent), casting the final
value back to DOUBLE — so Spark's parallel partial aggregation and DuckDB's
serial aggregation produce bit-identical results regardless of row order.
Pure integer counts and ratios of identical values are exact by
construction. Orderings used under LIMIT always end in a unique key.

Each QUERIES entry cites the reference operator it covers (file:line into
/root/reference).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DEC = "decimal(28,2)"
DEC8 = "decimal(28,8)"
DEC9 = "decimal(38,9)"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def rd(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive scan spread (round 6; guide §2 'make partitioning
    scale-adaptive, derive from input size').

    The driver's testdata tables are single-row-group parquet files, and a
    parquet row group is the atomic split unit — so every scan plans as ONE
    task and all map-side work (filters, decimal partial aggregation,
    explodes, pair generation under a broadcast join, Python scoring) ran
    on one core of local[N] (measured: the q39 JW stage ran its entire
    400k-pair scoring in a single task). When the scan cannot reach the
    session's parallelism, redistribute by a high-cardinality key; at
    production scale (splits >> cores) this is a no-op, so it is not a
    local-mode constant. Hash repartitioning on the table key avoids
    round-robin's sort-before-repartition pass and is deterministic under
    retries (guide §2.5). Row membership is unchanged — results are
    byte-identical, which the oracle gate checks."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p, *[F.col(c) for c in key_cols])
    return df


def _dsum(col, scale: int = 2, dec: str = DEC):
    """Exact decimal sum of rounded addends, surfaced as double."""
    return F.sum(F.round(col, scale).cast(dec)).cast("double")


def _revenue_addend():
    """l_extendedprice*(1-l_discount) in exact decimal arithmetic — the
    inputs are 2dp/2dp-valued doubles, so the decimal casts are unambiguous
    and the product is exact in both engines (rounding a double *product*
    is engine-dependent at .5 boundaries; this never rounds a product)."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )


# --------------------------------------------------------------------------
# A2: partial+final aggregation (ref embedding_fusion.py:323-381)
def q01_pricing_summary(spark, sf_dir):
    li = rd(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias(
                "sum_base_price"
            ),
            F.sum(_revenue_addend()).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_Q01 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS sum_disc_price,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# J-joins + O5 top-k (ref model_selection/runner.py:940-944)
def q02_revenue_topk(spark, sf_dir):
    c = rd(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = rd(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = rd(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue_addend()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


SQL_Q02 = """
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(8,4)) - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1,2,3
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# P3: rare-entity filter / group-count predicate (ref analysis.py:799-820)
def q03_rare_parts_filter(spark, sf_dir):
    li = rd(spark, sf_dir, "lineitem")
    part = rd(spark, sf_dir, "part")
    cnt = li.groupBy("l_partkey").agg(F.count("*").alias("n_li")).where(
        F.col("n_li") >= 40
    )
    return cnt.join(F.broadcast(part), cnt.l_partkey == part.p_partkey).select(
        "p_partkey", "p_name", "n_li"
    )


SQL_Q03 = """
SELECT p.p_partkey, p.p_name, j.n_li
FROM (SELECT l_partkey, COUNT(*) AS n_li FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 40) j
JOIN part p ON p.p_partkey = j.l_partkey
"""


# W1: per-group deterministic top-k cap (ref sampling.py:101-153)
def q04_topk_per_group(spark, sf_dir):
    li = rd(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


SQL_Q04 = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
  FROM lineitem) t
WHERE rn <= 3
"""


# A5: modal value with deterministic tiebreak (ref linker_cluster_training.py:12-20)
def q05_modal_event_type(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
    )


SQL_Q05 = """
SELECT user_id, event_type AS modal_type, n FROM (
  SELECT user_id, event_type, COUNT(*) AS n,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type) AS rn
  FROM events GROUP BY user_id, event_type) t
WHERE rn = 1
"""


# A4: two-denominator composition (ref linker_cluster_training.py:23-61)
def q06_composition(spark, sf_dir):
    c = rd(spark, sf_dir, "customer")
    n = rd(spark, sf_dir, "nation")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").cast("double").alias("n"))
    )
    return base.select(
        "n_name",
        "c_mktsegment",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(Window.partitionBy("n_name")), 6
        ).alias("frac_of_nation"),
        F.round(
            F.col("n") / F.sum("n").over(Window.partitionBy("c_mktsegment")), 6
        ).alias("frac_of_segment"),
    )


SQL_Q06 = """
SELECT n_name, c_mktsegment, n,
  ROUND(n / SUM(n) OVER (PARTITION BY n_name), 6) AS frac_of_nation,
  ROUND(n / SUM(n) OVER (PARTITION BY c_mktsegment), 6) AS frac_of_segment
FROM (
  SELECT n_name, c_mktsegment, CAST(COUNT(*) AS DOUBLE) AS n
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2) t
"""


# A6: weighted mass aggregation (ref cluster_composition_viz.py:18-81)
def q07_weighted_mass(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    peru = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    return (
        ev.join(peru, "user_id")
        .withColumn("w", F.round(F.lit(1.0) / F.sqrt(F.col("c")), 8))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("w").cast(DEC8)).cast("double").alias("mass"),
            F.count("*").alias("n_events"),
        )
    )


SQL_Q07 = """
WITH peru AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)
SELECT e.event_type,
  CAST(SUM(CAST(ROUND(1.0/SQRT(c), 8) AS DECIMAL(28,8))) AS DOUBLE) AS mass,
  COUNT(*) AS n_events
FROM events e JOIN peru USING (user_id)
GROUP BY 1
"""


# A8: quantile summary, index-based exact (ref model.py:1210-1243)
def q08_quantiles(spark, sf_dir):
    o = rd(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    cw = Window.partitionBy("o_orderpriority")
    t = o.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(cw).alias("cnt"),
    )
    outs = [
        F.max(
            F.when(
                F.col("rn")
                == (F.floor((F.col("cnt") - 1) * F.lit(q)) + 1).cast("int"),
                F.col("v"),
            )
        ).alias(name)
        for q, name in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]
    ]
    return t.groupBy("o_orderpriority").agg(*outs)


SQL_Q08 = """
SELECT o_orderpriority,
  MAX(CASE WHEN rn = CAST(FLOOR((cnt-1)*0.5) AS INT)+1 THEN v END) AS p50,
  MAX(CASE WHEN rn = CAST(FLOOR((cnt-1)*0.9) AS INT)+1 THEN v END) AS p90,
  MAX(CASE WHEN rn = CAST(FLOOR((cnt-1)*0.99) AS INT)+1 THEN v END) AS p99
FROM (
  SELECT o_orderpriority, o_totalprice AS v,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders) t
GROUP BY o_orderpriority
"""


# J5: interval-overlap equi+theta self-join (ref model.py:1097-1105, :1172-1178)
def q09_interval_overlap(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    e1 = ev.select(
        F.col("user_id"), F.col("event_id").alias("id1"), F.col("value").alias("v1")
    )
    e2 = ev.select(
        F.col("user_id"), F.col("event_id").alias("id2"), F.col("value").alias("v2")
    )
    return (
        e1.join(e2, "user_id")
        .where(
            (F.col("id1") < F.col("id2"))
            & (F.col("v1") < F.col("v2") + 10)
            & (F.col("v2") < F.col("v1") + 10)
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_overlaps"))
    )


SQL_Q09 = """
SELECT e1.user_id AS user_id, COUNT(*) AS n_overlaps
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
 AND e1.value < e2.value + 10 AND e2.value < e1.value + 10
GROUP BY 1
"""


# P2/J7: semi join (ref selection.py:91-93)
def q10_semi_join(spark, sf_dir):
    c = rd(spark, sf_dir, "customer")
    o = rd(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_Q10 = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY 1
"""


# T3: anti join (ref util.py:1085-1088)
def q11_anti_join(spark, sf_dir):
    c = rd(spark, sf_dir, "customer")
    o = rd(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_Q11 = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


# A1/A3: per-group element-wise vector mean (ref embedding_fusion.py:165-186)
def q12_embed_centroids(spark, sf_dir):
    em = rd(spark, sf_dir, "embeddings")
    return (
        em.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.round(F.col("v"), 8).cast(DEC8)).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid_v")
        )
    )


SQL_Q12 = """
SELECT label, pos,
  ROUND(CAST(SUM(CAST(ROUND(v,8) AS DECIMAL(28,8))) AS DOUBLE)/COUNT(*), 6) AS centroid_v
FROM (
  SELECT label, CAST(generate_subscripts(embedding,1)-1 AS INT) AS pos,
         unnest(embedding) AS v
  FROM embeddings) t
GROUP BY 1, 2
"""


# W6: running sum (ref util.py:348-351)
def q13_running_sum(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.round(F.col("value"), 2).cast(DEC)).over(w).cast("double").alias(
            "running_value"
        ),
    )


SQL_Q13 = """
SELECT event_id, user_id,
  CAST(SUM(CAST(ROUND(value,2) AS DECIMAL(28,2))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
"""


# W5: centered moving average (ref clustering_grid.py:91-120)
def q14_moving_avg(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 2)
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(F.round(F.col("value"), 2).cast(DEC)).over(w).cast("double")
            / F.count("*").over(w),
            6,
        ).alias("smoothed"),
    )


SQL_Q14 = """
SELECT event_id, user_id,
  ROUND(CAST(SUM(CAST(ROUND(value,2) AS DECIMAL(28,2))) OVER w AS DOUBLE)
        / COUNT(*) OVER w, 6) AS smoothed
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
"""


# M4/M5: deterministic hash-based sampling (ref util.py:1055-1109; SURVEY §7.3.2
# — hash sampling instead of rand() for partition-stable byte-identity)
def q15_deterministic_sample(spark, sf_dir):
    li = rd(spark, sf_dir, "lineitem")
    h = F.md5(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        )
    )
    return li.where(F.substring(h, 1, 2) <= "0f").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


SQL_Q15 = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 2) <= '0f'
"""


# F15: content fingerprint + exact dedup groups (dedup channel 1)
def q16_doc_fingerprints(spark, sf_dir):
    d = rd(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("fp")).agg(
        F.count("*").alias("n"), F.min("doc_id").alias("min_doc_id")
    )


SQL_Q16 = """
SELECT md5(text) AS fp, COUNT(*) AS n, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY 1
"""


# n-gram Jaccard near-dup pairs (dedup channel 2)
def q17_token_jaccard(spark, sf_dir):
    d = rd(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("t")
    )
    sz = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = tok.withColumnRenamed("doc_id", "doc_a")
    b = tok.withColumnRenamed("doc_id", "doc_b")
    inter = (
        a.join(b, "t")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
    )
    return j.where(F.col("jaccard") >= 0.8).select(
        "doc_a", "doc_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


SQL_Q17 = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents WHERE doc_id < 100),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
  ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.8
"""


# Similarity search: brute-force cosine top-k (ANN baseline)
def q18_cosine_topk(spark, sf_dir):
    em = rd(spark, sf_dir, "embeddings")
    # quantize components to integer micro-units: integer dot products are
    # exact and order-independent; the final division of identical integers
    # is bit-identical in every engine (rounding *products* is not).
    #
    # Round-6 shape: the dot products are computed ARRAY-side (zip_with +
    # aggregate over the quantized vectors, both whole-stage-codegen'd)
    # on a broadcast nested-loop join of the 10 query vectors against the
    # corpus — |corpus|x|queries| narrow rows — instead of the old
    # posexplode → join-on-pos → groupBy(qid,cid) → two norm re-joins
    # plan, which shuffled |corpus|·dim exploded rows and then
    # |corpus|·|queries|·dim product rows through 4 exchanges. Every
    # arithmetic step (long multiply/add, cast to double, sqrt, divide)
    # is the same operation on the same operands, so the values are
    # bit-identical (oracle-checked); only the plan changed. One exchange
    # remains: the per-query top-k window.
    ivec = F.transform(
        F.col("embedding"),
        lambda v: F.round(v * F.lit(1000000.0)).cast("long"),
    )
    zero = F.lit(0).cast("long")
    iv = em.select("vec_id", ivec.alias("iv"))
    q = iv.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("iv").alias("qv")
    )
    c = iv.select(F.col("vec_id").alias("cid"), F.col("iv").alias("cv"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        zero,
        lambda acc, v: acc + v,
    ).cast("double")

    def _nrm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x * x), zero, lambda acc, v: acc + v
            ).cast("double")
        )

    sim = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            (dot / (_nrm(F.col("qv")) * _nrm(F.col("cv")))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "cid")
    return (
        sim.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("qid", "cid", "cos_sim", "rn")
    )


SQL_Q18 = """
WITH lf AS (
  SELECT vec_id, CAST(generate_subscripts(embedding,1) AS INT) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS iv
  FROM embeddings),
dot AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
    CAST(SUM(q.iv*c.iv) AS DOUBLE) AS dot
  FROM lf q JOIN lf c ON q.pos = c.pos
  WHERE q.vec_id < 10
  GROUP BY 1, 2),
nrm AS (
  SELECT vec_id, SQRT(CAST(SUM(iv*iv) AS DOUBLE)) AS nrm
  FROM lf GROUP BY 1),
sim AS (
  SELECT qid, cid, dot/(nq.nrm*nc.nrm) AS cos_sim
  FROM dot JOIN nrm nq ON nq.vec_id = qid JOIN nrm nc ON nc.vec_id = cid
  WHERE qid <> cid)
SELECT qid, cid, cos_sim, rn FROM (
  SELECT qid, cid, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
  FROM sim) t
WHERE rn <= 3
"""


# Text analysis: per-language stats (lang-ID support signals)
def q19_lang_stats(spark, sf_dir):
    d = rd(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.col("text"), " "))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias("avg_chars"),
        F.round(F.sum(ntok.cast("long")).cast("double") / F.count("*"), 6).alias(
            "avg_tokens"
        ),
    )


SQL_Q19 = """
SELECT lang, COUNT(*) AS n_docs,
  ROUND(CAST(SUM(n_chars) AS DOUBLE)/COUNT(*), 6) AS avg_chars,
  ROUND(CAST(SUM(CAST(LEN(string_split(text,' ')) AS BIGINT)) AS DOUBLE)/COUNT(*), 6) AS avg_tokens
FROM documents GROUP BY lang
"""


# Text quality scoring (stopword ratio + bounded length score)
from ..textquality import QUALITY_STOPS as _STOPS  # noqa: E402 — single source


def q20_doc_quality(spark, sf_dir):
    from ..textquality import quality_score_cols

    d = rd(spark, sf_dir, "documents")
    q = quality_score_cols(F.col("text"))
    return d.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["stop_ratio"], 6).alias("stop_ratio"),
        F.round(q["quality"], 6).alias("quality"),
    )


SQL_Q20 = f"""
SELECT doc_id, n_tokens,
  ROUND(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
  ROUND((1 - n_stop * 1.0 / n_tokens) * LEAST(n_tokens, 100) / 100.0, 6) AS quality
FROM (
  SELECT doc_id,
    CAST(LEN(string_split(text,' ')) AS INT) AS n_tokens,
    CAST(LEN(list_filter(string_split(text,' '),
         x -> x IN ({",".join(repr(s) for s in _STOPS)}))) AS INT) AS n_stop
  FROM documents) t
"""


# J1/F7: normalized blocking keys over a corpus — validates textnorm itself
# against the oracle (ref onto.py:146-156, util.py:913-920)
def q21_blocking_keys(spark, sf_dir):
    from ..textnorm import norm_token_col

    d = rd(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).select("doc_id", norm_token_col(F.col("t")).alias("key"))
    return (
        tok.where(F.col("key") != "")
        .groupBy("key")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


SQL_Q21 = """
SELECT key, COUNT(*) AS n_mentions, COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id,
    CASE WHEN LENGTH(t2) > 3 AND t2 LIKE '%s' AND t2 NOT LIKE '%ss'
         THEN substr(t2, 1, LENGTH(t2)-1) ELSE t2 END AS key
  FROM (
    SELECT doc_id,
      regexp_replace(lower(t), '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g') AS t2
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
  ) v) w
WHERE key <> ''
GROUP BY key
"""


# MinHash signatures (md5-min over char 8-gram shingles) — the LSH
# primitive verified value-for-value against the oracle
def q22_minhash_signatures(spark, sf_dir):
    d = rd(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    d.createOrReplaceTempView("pel_docs_q22")
    return d.sparkSession.sql(
        """
        SELECT doc_id,
          array_min(transform(sequence(1, greatest(length(text)-7, 1)),
            i -> md5(concat('s0:', substr(text, i, 8))))) AS mh0,
          array_min(transform(sequence(1, greatest(length(text)-7, 1)),
            i -> md5(concat('s1:', substr(text, i, 8))))) AS mh1,
          array_min(transform(sequence(1, greatest(length(text)-7, 1)),
            i -> md5(concat('s2:', substr(text, i, 8))))) AS mh2
        FROM pel_docs_q22
        """
    )


SQL_Q22 = """
SELECT doc_id,
  list_min(list_transform(generate_series(1, GREATEST(LENGTH(text)-7, 1)),
    i -> md5('s0:' || substr(text, CAST(i AS INT), 8)))) AS mh0,
  list_min(list_transform(generate_series(1, GREATEST(LENGTH(text)-7, 1)),
    i -> md5('s1:' || substr(text, CAST(i AS INT), 8)))) AS mh1,
  list_min(list_transform(generate_series(1, GREATEST(LENGTH(text)-7, 1)),
    i -> md5('s2:' || substr(text, CAST(i AS INT), 8)))) AS mh2
FROM documents WHERE doc_id < 200
"""


# Event-time tumbling window aggregate (streaming-shaped, batch-checked)
def q23_tumbling_daily(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        _dsum(F.col("value")).alias("total_value"),
    )


SQL_Q23 = """
SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
  CAST(SUM(CAST(ROUND(value,2) AS DECIMAL(28,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


# W1 analog with md5 ordering (oracle-portable hash order): deterministic
# per-group "random" cap (ref sampling.py:101-153)
def q24_hash_order_cap(spark, sf_dir):
    li = rd(spark, sf_dir, "lineitem")
    h = F.md5(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        )
    )
    w = Window.partitionBy("l_suppkey").orderBy(h.alias("h"))
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rn")
    )


SQL_Q24 = """
SELECT l_suppkey, l_orderkey, l_linenumber, rn FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber,
    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))) AS rn
  FROM lineitem) t
WHERE rn <= 2
"""


# M4: per-group negative sampling — anti join + exact per-group quota by
# hash order (ref util.py:1055-1109)
def q25_negative_sample(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    pos = ev.where(F.col("event_type") == "purchase")
    negs = ev.where(F.col("event_type") != "purchase")
    npos = pos.groupBy("user_id").agg(F.count("*").alias("npos"))
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("user_id").orderBy(h.alias("h"))
    return (
        negs.join(npos, "user_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("npos"))
        .select("user_id", "event_id", "event_type")
    )


SQL_Q25 = """
WITH npos AS (
  SELECT user_id, COUNT(*) AS npos FROM events
  WHERE event_type = 'purchase' GROUP BY 1)
SELECT user_id, event_id, event_type FROM (
  SELECT e.user_id, e.event_id, e.event_type, n.npos,
    ROW_NUMBER() OVER (PARTITION BY e.user_id
      ORDER BY md5(CAST(e.event_id AS VARCHAR))) AS rn
  FROM events e JOIN npos n USING (user_id)
  WHERE e.event_type <> 'purchase') t
WHERE rn <= npos
"""


# SimHash document fingerprint (dedup channel; 16-bit, md5-derived so it
# stays oracle-portable)
def q26_simhash(spark, sf_dir):
    d = rd(spark, sf_dir, "documents")
    d.createOrReplaceTempView("pel_docs_q26")
    cols = ", ".join(
        f"CASE WHEN SUM(CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST(POW(2, {b}) AS BIGINT) ELSE 0 END AS b{b}"
        for b in range(16)
    )
    return d.sparkSession.sql(
        f"""
        WITH tok AS (
          SELECT doc_id, explode(split(text, ' ')) AS t FROM pel_docs_q26),
        hashed AS (
          SELECT doc_id,
            CAST(conv(substr(md5(t), 1, 4), 16, 10) AS BIGINT) AS h
          FROM tok),
        bits AS (SELECT doc_id, {cols} FROM hashed GROUP BY doc_id)
        SELECT doc_id,
          {" + ".join(f"b{b}" for b in range(16))} AS simhash
        FROM bits
        """
    )


SQL_Q26 = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
hashed AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(t), 1, 4))::INT AS BIGINT) AS h
  FROM tok),
bits AS (
  SELECT doc_id,
    {", ".join(
        f"CASE WHEN SUM(CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST(POW(2, {b}) AS BIGINT) ELSE 0 END AS b{b}"
        for b in range(16)
    )}
  FROM hashed GROUP BY doc_id)
SELECT doc_id, {" + ".join(f"b{b}" for b in range(16))} AS simhash
FROM bits
"""


# Embedding-cosine near-duplicate pairs (dedup channel over vectors)
def q27_embed_neardup(spark, sf_dir):
    em = rd(spark, sf_dir, "embeddings")
    lf = em.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.round(F.col("v") * 1000000.0).cast("long").alias("iv"))
    a = lf.select(F.col("vec_id").alias("va"), "pos", F.col("iv").alias("xa"))
    b = lf.select(F.col("vec_id").alias("vb"), "pos", F.col("iv").alias("xb"))
    dot = (
        a.join(b, "pos")
        .where(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.sum(F.col("xa") * F.col("xb")).cast("double").alias("dot"))
    )
    nrm = lf.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("iv") * F.col("iv")).cast("double")).alias("nrm")
    )
    na = nrm.select(F.col("vec_id").alias("va"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("vec_id").alias("vb"), F.col("nrm").alias("nb"))
    return (
        dot.join(na, "va")
        .join(nb, "vb")
        .withColumn("cos_sim", F.col("dot") / (F.col("na") * F.col("nb")))
        .where(F.col("cos_sim") >= 0.25)
        .select("va", "vb", "cos_sim")
    )


SQL_Q27 = """
WITH lf AS (
  SELECT vec_id, CAST(generate_subscripts(embedding,1) AS INT) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS iv
  FROM embeddings),
dot AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
    CAST(SUM(a.iv*b.iv) AS DOUBLE) AS dot
  FROM lf a JOIN lf b ON a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY 1, 2),
nrm AS (
  SELECT vec_id, SQRT(CAST(SUM(iv*iv) AS DOUBLE)) AS nrm
  FROM lf GROUP BY 1)
SELECT va, vb, dot/(na.nrm*nb.nrm) AS cos_sim
FROM dot JOIN nrm na ON na.vec_id = va JOIN nrm nb ON nb.vec_id = vb
WHERE dot/(na.nrm*nb.nrm) >= 0.25
"""


# Language-ID n-gram/stopword heuristic (text-analysis channel)
from ..textquality import LANG_STOPS as _LANG_STOPS  # noqa: E402 — single source


def q28_lang_id(spark, sf_dir):
    from ..textquality import lang_id_cols

    d = rd(spark, sf_dir, "documents")
    c = lang_id_cols(F.col("text"))
    return d.select(
        "doc_id",
        c["hits_en"].alias("hits_en"),
        c["hits_de"].alias("hits_de"),
        c["hits_fr"].alias("hits_fr"),
        c["predicted_lang"].alias("predicted_lang"),
    )


def _sql_hits(lg):
    stops = ",".join(repr(s) for s in _LANG_STOPS[lg])
    return (
        f"CAST(LEN(list_filter(string_split(text,' '), x -> x IN ({stops}))) AS INT)"
    )


SQL_Q28 = f"""
SELECT doc_id, hits_en, hits_de, hits_fr,
  CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
       WHEN hits_de >= hits_fr THEN 'de' ELSE 'fr' END AS predicted_lang
FROM (
  SELECT doc_id,
    {_sql_hits("en")} AS hits_en,
    {_sql_hits("de")} AS hits_de,
    {_sql_hits("fr")} AS hits_fr
  FROM documents) t
"""


# Token counting: whitespace + BPE-ish regex (training-data pipeline op)
def q29_token_counts(spark, sf_dir):
    from ..chunking import BPE_ISH

    d = rd(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(f"({BPE_ISH})"), 1))
    return d.select(
        "doc_id", ws.cast("int").alias("ws_tokens"), bpe.cast("int").alias("bpe_tokens")
    )


SQL_Q29 = r"""
SELECT doc_id,
  CAST(LEN(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT) AS ws_tokens,
  CAST(LEN(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
FROM documents
"""


# A7: grid metric aggregation — mean/std/count per key with exact integer
# accumulation (ref aggregate_grid_metrics, clustering_grid.py:507-572)
def q30_grid_agg(spark, sf_dir):
    ev = rd(spark, sf_dir, "events")
    iv = F.round(F.col("value") * 100).cast("long")
    t = ev.select("event_type", iv.alias("iv"))
    agg = t.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("iv").alias("s"),
        F.sum(F.col("iv") * F.col("iv")).alias("s2"),
    )
    mean = F.col("s").cast("double") / F.col("n") / 100.0
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    return agg.select(
        "event_type",
        "n",
        mean.alias("mean_value"),
        (F.sqrt(var) / 100.0).alias("std_value"),
    )


SQL_Q30 = """
SELECT event_type, n,
  CAST(s AS DOUBLE)/n/100.0 AS mean_value,
  SQRT((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE)*s/n)/(n-1))/100.0 AS std_value
FROM (
  SELECT event_type, COUNT(*) AS n,
    SUM(iv) AS s, SUM(iv*iv) AS s2
  FROM (SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS iv FROM events) t
  GROUP BY 1) g
"""



# J2/J3: multi-source embedding fusion — per-source element-wise means,
# entity intersection, ordered concat (ref embedding_fusion.py:189-233,
# :425-469; package operator pelinker_spark/fusion.py). Long-format output
# with integer micro-unit quantization for cross-engine exactness: the
# mean of exact integer sums is one IEEE division — deterministic in both
# engines, no rounding of float products.
def q31_fused_centroids(spark, sf_dir):
    em = rd(spark, sf_dir, "embeddings")
    lf = em.select(
        "label",
        F.pmod(F.col("vec_id"), F.lit(2)).cast("int").alias("s"),
        F.size("embedding").alias("dim"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label", "s", "dim", "pos",
        F.round(F.col("v").cast("double") * 1000000.0).cast("long").alias("iv"),
    )
    cent = lf.groupBy("label", "s", "dim", "pos").agg(
        (F.sum("iv").cast("double") / F.count("*")).alias("cv")
    )
    a = cent.where(F.col("s") == 0)
    b = cent.where(F.col("s") == 1)
    both = a.select("label").distinct().join(b.select("label").distinct(), "label")
    fused = (
        a.select("label", F.col("pos").alias("fpos"), "cv")
        .unionByName(b.select("label", (F.col("pos") + F.col("dim")).alias("fpos"), "cv"))
        .join(both, "label")
    )
    return fused.select("label", "fpos", F.col("cv").alias("fused_v_micro"))


SQL_Q31 = """
WITH lf AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS s, LEN(embedding) AS dim,
         CAST(generate_subscripts(embedding,1)-1 AS INT) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS iv
  FROM embeddings),
cent AS (
  SELECT label, s, dim, pos, CAST(SUM(iv) AS DOUBLE)/COUNT(*) AS cv
  FROM lf GROUP BY 1,2,3,4),
lbl_both AS (
  SELECT DISTINCT a.label FROM cent a JOIN cent b ON a.label = b.label
  WHERE a.s = 0 AND b.s = 1)
SELECT c.label, CASE WHEN s = 0 THEN pos ELSE pos + dim END AS fpos,
       cv AS fused_v_micro
FROM cent c JOIN lbl_both USING (label)
"""


# A10: CV fold pooling — per-fold metric rows pooled to mean/std/count per
# group (ref analysis.py:600-618; package operator
# pelinker_spark/gridsearch.py pool_cv_folds)
def q32_fold_pooling(spark, sf_dir):
    from ..gridsearch import pool_cv_folds

    ev = rd(spark, sf_dir, "events")
    per_fold = ev.groupBy(
        "event_type", F.pmod(F.col("event_id"), F.lit(3)).cast("int").alias("fold")
    ).agg(
        (_dsum(F.col("value")) / F.count("*")).alias("m")
    )
    pooled = pool_cv_folds(per_fold, ["event_type"], ["m"])
    return pooled.select(
        "event_type",
        F.round("m_mean", 6).alias("m_mean"),
        F.round("m_std", 6).alias("m_std"),
        F.col("m_count").alias("m_count"),
    )


SQL_Q32 = """
WITH per_fold AS (
  SELECT event_type, CAST(event_id % 3 AS INT) AS fold,
    CAST(SUM(CAST(ROUND(value,2) AS DECIMAL(28,2))) AS DOUBLE)/COUNT(*) AS m
  FROM events GROUP BY 1,2)
SELECT event_type, ROUND(AVG(m),6) AS m_mean,
  ROUND(COALESCE(STDDEV_SAMP(m),0.0),6) AS m_std,
  COUNT(m) AS m_count
FROM per_fold GROUP BY 1
"""


# F14: label simplicity score over a corpus-derived word-frequency table
# (ref analysis.py:94-159; package operator pelinker_spark/kb.py
# label_simplicity). Frequencies are exact ratios of integer counts; the
# harmonic-mean denominator sums integer-quantized addends so both engines
# add the same exact values.
def q33_label_simplicity(spark, sf_dir):
    from ..kb import SIMPLICITY_STOPWORDS

    p = rd(spark, sf_dir, "part")
    labels = p.select(F.col("p_name").alias("label")).distinct()
    words = labels.select(
        "label", F.explode(F.split(F.col("label"), " ")).alias("w")
    )
    tot = words.count()
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    j = words.join(freq, "w")
    is_stop = F.col("w").isin(*SIMPLICITY_STOPWORDS)
    inv = F.round(F.lit(1000000.0) * F.lit(tot) / F.col("c")).cast("long")
    per = j.groupBy("label").agg(
        F.count("*").alias("word_count"),
        F.sum(F.when(is_stop, 1).otherwise(0)).alias("stop_count"),
        F.sum(F.when(~is_stop, inv)).alias("inv_sum"),
        F.sum(F.when(~is_stop, 1).otherwise(0)).alias("content_count"),
    )
    penalty = F.when(
        F.col("word_count") > 1,
        F.greatest(F.lit(0.0), 1.0 - 0.2 * (F.col("word_count") - 1))
        * F.when(
            F.col("stop_count") > 0,
            F.greatest(F.lit(0.0), 1.0 - 0.3 * F.col("stop_count")),
        ).otherwise(1.0),
    ).otherwise(1.0)
    score = F.when(F.col("content_count") == 0, 1e-8).otherwise(
        F.col("content_count") * F.lit(1000000.0)
        / F.col("inv_sum").cast("double")
        * penalty
    )
    return per.select(
        "label", "word_count",
        F.round(score, 9).alias("simplicity_score"),
    )


SQL_Q33 = """
WITH labels AS (SELECT DISTINCT p_name AS label FROM part),
words AS (
  SELECT label, unnest(string_split(label, ' ')) AS w FROM labels),
tot AS (SELECT COUNT(*) AS t FROM words),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY 1),
per AS (
  SELECT label, COUNT(*) AS word_count,
    SUM(CASE WHEN w IN ('is','of','the','a','an','to','for','or','in','has')
        THEN 1 ELSE 0 END) AS stop_count,
    SUM(CASE WHEN w NOT IN ('is','of','the','a','an','to','for','or','in','has')
        THEN CAST(ROUND(1000000.0 * t / c) AS BIGINT) END) AS inv_sum,
    SUM(CASE WHEN w NOT IN ('is','of','the','a','an','to','for','or','in','has')
        THEN 1 ELSE 0 END) AS content_count
  FROM words JOIN freq USING (w) CROSS JOIN tot
  GROUP BY label)
SELECT label, word_count,
  ROUND(CASE WHEN content_count = 0 THEN 1e-8
    ELSE content_count * 1000000.0 / CAST(inv_sum AS DOUBLE)
      * (CASE WHEN word_count > 1
          THEN GREATEST(0.0, 1.0 - 0.2*(word_count-1))
            * (CASE WHEN stop_count > 0
               THEN GREATEST(0.0, 1.0 - 0.3*stop_count) ELSE 1.0 END)
          ELSE 1.0 END)
    END, 9) AS simplicity_score
FROM per
"""


# M10 aggregation: cross-sample grid metric pooling with dispersion
# (ref clustering_grid.py:507-560; package operator
# pelinker_spark/gridsearch.py aggregate_grid_metrics)
def q34_grid_aggregate(spark, sf_dir):
    from ..gridsearch import aggregate_grid_metrics

    ev = rd(spark, sf_dir, "events")
    metrics = ev.select(
        F.pmod(F.col("event_id"), F.lit(5)).cast("int").alias("threshold"),
        F.round(F.col("value"), 2).alias("dbcv"),
        (F.pmod(F.col("user_id"), F.lit(7)).cast("double")).alias("ari"),
        # /4 is exact power-of-2 scaling of the stored double — no
        # rounding of a quotient (engine-dependent at .5 boundaries)
        (F.col("value") / 4).alias("icm"),
        F.pmod(F.col("user_id"), F.lit(50)).cast("double").alias("n_clusters"),
    )
    agg = aggregate_grid_metrics(metrics, x_col="threshold")
    return agg.select(
        "threshold",
        F.round("dbcv_mean", 6).alias("dbcv_mean"),
        F.round("dbcv_std", 6).alias("dbcv_std"),
        "dbcv_count",
        F.round("icm_mean", 6).alias("icm_mean"),
        F.round("n_clusters_mean", 6).alias("n_clusters_mean"),
        F.round("ari_mean", 6).alias("ari_mean"),
        F.round("ari_std", 6).alias("ari_std"),
        "ari_count",
    )


SQL_Q34 = """
WITH metrics AS (
  SELECT CAST(event_id % 5 AS INT) AS threshold,
    ROUND(value, 2) AS dbcv,
    CAST(user_id % 7 AS DOUBLE) AS ari,
    value / 4 AS icm,
    CAST(user_id % 50 AS DOUBLE) AS n_clusters
  FROM events)
SELECT threshold,
  ROUND(AVG(dbcv),6) AS dbcv_mean,
  ROUND(COALESCE(STDDEV_SAMP(dbcv),0.0),6) AS dbcv_std,
  COUNT(dbcv) AS dbcv_count,
  ROUND(AVG(icm),6) AS icm_mean,
  ROUND(AVG(n_clusters),6) AS n_clusters_mean,
  ROUND(AVG(ari),6) AS ari_mean,
  ROUND(COALESCE(STDDEV_SAMP(ari),0.0),6) AS ari_std,
  COUNT(ari) AS ari_count
FROM metrics GROUP BY 1
"""


# P6/mention-score shape: per-node best incident edge score with exact-key
# fallback (package operator pelinker_spark/pipeline.py
# incident_link_scores; ref model.py:406-413 per-row link scores). Edge
# scores use least() of two STORED doubles — exact, engine-independent.
def q35_incident_scores(spark, sf_dir):
    from ..pipeline import incident_link_scores

    li = rd(spark, sf_dir, "lineitem")
    part = rd(spark, sf_dir, "part")
    edges = li.select(
        F.col("l_partkey").alias("key_a"),
        F.col("l_suppkey").alias("key_b"),
        F.least(F.col("l_discount"), F.col("l_tax")).alias("s"),
    )
    inc = incident_link_scores(edges, score=F.col("s"))
    return (
        part.select(F.col("p_partkey").alias("node"))
        .join(inc.withColumnRenamed("key", "node"), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("link_score"), F.lit(1.0)).alias("link_score"),
            F.col("link_score").isNull().alias("exact_key"),
        )
        .orderBy("node")
    )


SQL_Q35 = """
WITH incident AS (
  SELECT node, MAX(s) AS best FROM (
    SELECT l_partkey AS node, LEAST(l_discount, l_tax) AS s FROM lineitem
    UNION ALL
    SELECT l_suppkey AS node, LEAST(l_discount, l_tax) AS s FROM lineitem
  ) GROUP BY node)
SELECT p_partkey AS node, COALESCE(best, 1.0) AS link_score,
       best IS NULL AS exact_key
FROM part LEFT JOIN incident ON p_partkey = node
ORDER BY node
"""


# Incremental emission-time cap semantics (streaming.py
# incremental_candidate_pairs; ref corpus chunk-at-a-time loop
# config.py:168-169 + pelinker/embedder.py batch appends): items arrive in
# batches and their group membership accumulates; a batch's rows in group
# g are emitted iff the ACCUMULATED group size at emission time (all
# members of batches <= this one) is within the hot cap, and each emitted
# row pairs with ALL accumulated membership of its group — including rows
# whose own batches were over-cap (membership accumulates regardless of
# emission; "pairs emitted before a bucket went hot stay"). Every
# unordered pair is enumerated exactly once, at its LATER endpoint's
# batch. The query states the size as a running sum of per-batch counts
# (W6 window); cap filter = P6; emission join = J7 semi-join shape.
def q36_emission_caps(spark, sf_dir):
    cap = 12
    ev = rd(spark, sf_dir, "events")
    rows = ev.select(
        F.pmod(F.col("user_id"), F.lit(6)).cast("int").alias("batch_id"),
        F.pmod(F.col("event_id"), F.lit(500)).cast("int").alias("grp"),
        F.col("event_id").alias("key"),
    )
    inc = rows.groupBy("grp", "batch_id").agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("grp")
        .orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ok = (
        inc.withColumn("cum_n", F.sum("n").over(w))
        .where(F.col("cum_n") <= F.lit(cap))
        .select("grp", "batch_id")
    )
    nb = rows.join(ok, ["grp", "batch_id"], "left_semi")
    state = rows.select(
        "grp", F.col("batch_id").alias("b2"), F.col("key").alias("key2")
    )
    pairs = nb.join(state, "grp").where(
        (F.col("b2") < F.col("batch_id"))
        | ((F.col("b2") == F.col("batch_id")) & (F.col("key2") < F.col("key")))
    )
    return (
        pairs.groupBy("grp", "batch_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("key") + F.col("key2")).alias("pair_sum"),
        )
        .orderBy("grp", "batch_id")
    )


SQL_Q36 = """
WITH rows_t AS (
  SELECT CAST(user_id % 6 AS INT) AS batch_id,
         CAST(event_id % 500 AS INT) AS grp,
         event_id AS key
  FROM events),
inc AS (
  SELECT grp, batch_id, COUNT(*) AS n FROM rows_t GROUP BY grp, batch_id),
ok AS (
  SELECT grp, batch_id FROM (
    SELECT grp, batch_id,
           SUM(n) OVER (PARTITION BY grp ORDER BY batch_id
                        ROWS UNBOUNDED PRECEDING) AS cum_n
    FROM inc)
  WHERE cum_n <= 12),
nb AS (
  SELECT r.* FROM rows_t r SEMI JOIN ok
  ON r.grp = ok.grp AND r.batch_id = ok.batch_id),
pairs AS (
  SELECT nb.grp, nb.batch_id, nb.key, s.key AS key2
  FROM nb JOIN rows_t s ON nb.grp = s.grp
  WHERE s.batch_id < nb.batch_id
     OR (s.batch_id = nb.batch_id AND s.key < nb.key))
SELECT grp, batch_id, COUNT(*) AS n_pairs,
       CAST(SUM(key + key2) AS BIGINT) AS pair_sum
FROM pairs GROUP BY grp, batch_id
ORDER BY grp, batch_id
"""


# M8 transitive clustering, oracle-checked end-to-end: the DISTRIBUTED
# hash-min + pointer-doubling connected-components path (cc.py — the
# 10^12-row strategy; driver_max_edges=0 forces it even though this edge
# set would fit the driver) over token-Jaccard near-dup edges (the q17
# rule at 0.9 over all docs — a deterministic, SQL-expressible edge set
# with one ~233-node hairball plus pair satellites, so min-label
# propagation genuinely multi-hops). The DuckDB oracle computes the same
# partition by recursive-CTE transitive closure: component = MIN reachable
# key. Keys are zero-padded so lexicographic order == numeric order in
# both engines; the Jaccard threshold compares in integers (10*n_common >=
# 9*union) so no float boundary can diverge.
def q37_connected_components(spark, sf_dir):
    from pelinker_spark.cc import connected_components

    d = rd(spark, sf_dir, "documents")
    key = F.lpad(F.col("doc_id").cast("string"), 6, "0")
    tok = d.select(
        key.alias("k"),
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("t"),
    )
    sz = tok.groupBy("k").agg(F.count("*").alias("n"))
    inter = (
        tok.withColumnRenamed("k", "ka")
        .join(tok.withColumnRenamed("k", "kb"), "t")
        .where(F.col("ka") < F.col("kb"))
        .groupBy("ka", "kb")
        .agg(F.count("*").alias("n_common"))
    )
    pairs = (
        inter.join(sz.select(F.col("k").alias("ka"), F.col("n").alias("na")), "ka")
        .join(sz.select(F.col("k").alias("kb"), F.col("n").alias("nb")), "kb")
        .where(
            F.col("n_common") * 10
            >= (F.col("na") + F.col("nb") - F.col("n_common")) * 9
        )
        .select("ka", "kb")
    )
    comp = connected_components(pairs, "ka", "kb", driver_max_edges=0)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .select(F.col("component").alias("cluster_id"), "n_members")
        .orderBy("cluster_id")
    )


SQL_Q37 = """
WITH RECURSIVE tok AS (
  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS k,
         unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents),
sz AS (SELECT k, COUNT(*) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT a.k AS ka, b.k AS kb, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.t = b.t AND a.k < b.k
  GROUP BY 1, 2),
pairs AS (
  SELECT ka, kb FROM inter
  JOIN sz sa ON sa.k = ka
  JOIN sz sb ON sb.k = kb
  WHERE n_common * 10 >= (sa.n + sb.n - n_common) * 9),
edges AS (
  SELECT ka AS a, kb AS b FROM pairs
  UNION
  SELECT kb AS a, ka AS b FROM pairs),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
comp AS (SELECT n, MIN(m) AS component FROM reach GROUP BY n)
SELECT component AS cluster_id, COUNT(*) AS n_members
FROM comp GROUP BY 1 ORDER BY 1
"""


# J1/north-rule skew handling, oracle-checked: triangle-salted
# within-block pair enumeration (blocking.salted_block_pairs — each
# block's n^2 pair work spread over S(S+1)/2 shuffle cells) must equal
# the plain within-block self-join pair set, row for row. Blocks =
# document language (skewed: en holds ~44% of rows at sf0.01, so the
# hot block genuinely dominates); S=8. Keys zero-padded so both engines
# order identically.
def q38_salted_block_pairs(spark, sf_dir):
    from pelinker_spark.blocking import salted_block_pairs

    d = rd(spark, sf_dir, "documents")
    m = d.select(
        F.col("lang").alias("blk"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("key"),
    )
    return (
        salted_block_pairs(m, ["blk"], "key", num_salts=8)
        .select("blk", "key_a", "key_b")
        .orderBy("blk", "key_a", "key_b")
    )


SQL_Q38 = """
WITH m AS (
  SELECT lang AS blk, lpad(CAST(doc_id AS VARCHAR), 6, '0') AS key
  FROM documents)
SELECT a.blk AS blk, a.key AS key_a, b.key AS key_b
FROM m a JOIN m b ON a.blk = b.blk AND a.key < b.key
ORDER BY a.blk, key_a, key_b
"""


def q39_jw_pair_scores(spark, sf_dir):
    """Oracle-locked Jaro-Winkler pairwise scoring — the heart of the
    record-linkage scorer (reference similarity scoring,
    clustering_grid.py:395-423) checked value-for-value against DuckDB's
    independent C++ jaro implementation.

    Runs the REAL pipeline scorer (make_gated_jw_udf: numpy bag+prefix
    sound gate + vectorized exact kernel jw_exact_batch) over blocked
    document-prefix pairs, keeping pairs at or above the threshold. The
    oracle rebuilds OUR exact JW semantics from DuckDB's jaro_similarity
    primitive (DuckDB's own jaro_winkler_similarity differs: it applies
    the Winkler boost only above jaro 0.7 and scores ""vs"" as 0): boost
    = jaro + 0.1*p*(1-jaro) with the explicit prefix-length CASE. A
    gate unsoundness (dropped true edge) shows up as a missing row; a
    kernel error as a value-hash mismatch."""
    from pelinker_spark.scoring import make_gated_jw_udf

    jw = make_gated_jw_udf(0.75)
    d = rd(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.substring("text", 1, 24)).alias("surf"),
        F.lower(F.substring("text", 1, 4)).alias("blk"),
    )
    # the blocked self-join multiplies the PROBE side ~80x and the JW UDF
    # runs on the result — with the testdata's single-row-group layout the
    # entire pair scoring ran in ONE task on one core (round 6). Spread
    # only the probe side; the broadcast build side stays on the raw scan
    # (building a broadcast needs no exchange).
    a = spread(d, "doc_id").select(
        F.col("doc_id").alias("doc_a"), F.col("surf").alias("surf_a"), "blk"
    )
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("surf").alias("surf_b"),
                 "blk")
    return (
        a.join(b, "blk")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jw", jw(F.col("surf_a"), F.col("surf_b")))
        .where(F.col("jw") >= 0.75)
        .select("doc_a", "doc_b", F.round("jw", 6).alias("jw"))
        .orderBy("doc_a", "doc_b")
    )


SQL_Q39 = """
WITH m AS (
  SELECT doc_id, lower(substr(text, 1, 24)) AS surf,
         lower(substr(text, 1, 4)) AS blk
  FROM documents),
scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         jaro_similarity(a.surf, b.surf) AS j,
         CASE WHEN substr(a.surf,1,4) = substr(b.surf,1,4) THEN 4
              WHEN substr(a.surf,1,3) = substr(b.surf,1,3) THEN 3
              WHEN substr(a.surf,1,2) = substr(b.surf,1,2) THEN 2
              WHEN substr(a.surf,1,1) = substr(b.surf,1,1) THEN 1
              ELSE 0 END AS p
  FROM m a JOIN m b ON a.blk = b.blk AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, round(j + 0.1 * p * (1.0 - j), 6) AS jw
FROM scored
WHERE j + 0.1 * p * (1.0 - j) >= 0.75
ORDER BY doc_a, doc_b
"""


# §2.10 warm-start contraction CC, oracle-checked (VERDICT r4 #6): the
# SAME key→component map a cold full CC would produce must come out of
# the incremental path — old map as super-nodes + new edges → contract →
# CC over the delta alone → relabel (streaming._advance_components, the
# per-finalize step of the incremental stream; reference analog: the
# periodic full re-cluster in pelinker's run loop). Edges = token-Jaccard
# >= 0.8 near-dup pairs (the q37 rule loosened — a bigger hairball, so
# merges across the split genuinely happen); the old/new split is a
# deterministic xxhash64 2/3-1/3 partition of the edge set. The DuckDB
# oracle computes the closure over the FULL edge set with a recursive
# CTE and never sees the split, so any contraction bug (wrong relabel,
# dropped fresh key, stale super-node id) surfaces as a row or
# value-hash mismatch.
def q40_incremental_cc(spark, sf_dir):
    from pelinker_spark.cc import connected_components
    from pelinker_spark.streaming import _advance_components

    d = rd(spark, sf_dir, "documents")
    key = F.lpad(F.col("doc_id").cast("string"), 6, "0")
    tok = d.select(
        key.alias("k"),
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("t"),
    )
    sz = tok.groupBy("k").agg(F.count("*").alias("n"))
    inter = (
        tok.withColumnRenamed("k", "ka")
        .join(tok.withColumnRenamed("k", "kb"), "t")
        .where(F.col("ka") < F.col("kb"))
        .groupBy("ka", "kb")
        .agg(F.count("*").alias("n_common"))
    )
    pairs = (
        inter.join(sz.select(F.col("k").alias("ka"), F.col("n").alias("na")), "ka")
        .join(sz.select(F.col("k").alias("kb"), F.col("n").alias("nb")), "kb")
        .where(
            F.col("n_common") * 10
            >= (F.col("na") + F.col("nb") - F.col("n_common")) * 8
        )
        .select(F.col("ka").alias("key_a"), F.col("kb").alias("key_b"))
        .persist()
    )
    is_old = F.pmod(F.xxhash64("key_a", "key_b"), F.lit(3)) < F.lit(2)
    old_map = connected_components(
        pairs.where(is_old), "key_a", "key_b", driver_max_edges=0
    )
    out = (
        _advance_components(old_map, pairs.where(~is_old))
        .select("key", "component")
        .orderBy("key")
    )
    return out


SQL_Q40 = """
WITH RECURSIVE tok AS (
  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS k,
         unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents),
sz AS (SELECT k, COUNT(*) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT a.k AS ka, b.k AS kb, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.t = b.t AND a.k < b.k
  GROUP BY 1, 2),
pairs AS (
  SELECT ka, kb FROM inter
  JOIN sz sa ON sa.k = ka
  JOIN sz sb ON sb.k = kb
  WHERE n_common * 10 >= (sa.n + sb.n - n_common) * 8),
edges AS (
  SELECT ka AS a, kb AS b FROM pairs
  UNION
  SELECT kb AS a, ka AS b FROM pairs),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
SELECT n AS key, MIN(m) AS component FROM reach GROUP BY n ORDER BY n
"""


# Multimodal decode under the value-hash oracle (VERDICT r4 #8): WAV
# payloads whose int16 PCM samples are an explicit integer function of
# doc_id (s_j = (doc_id*31 + j*17) % 2001 - 1000 over n = 8 + doc_id % 5
# samples) are byte-packed into real RIFF/WAVE containers and pushed
# through the PRODUCTION decode lane (extract_media_features →
# _decode_wav → mean-pool, default REAL decoder, mapInPandas over Arrow
# batches). _decode_wav maps int16 exactly to x/32768 in float32 (|s| <=
# 1000 has <= 11 mantissa bits, so x*32768 recovers s_j exactly in
# double), so the oracle recomputes SUM(s_j) and the position-weighted
# SUM(j*s_j) purely arithmetically — any byte-offset, endianness,
# scaling, or channel-handling defect in the decoder shifts an integer.
def q41_wav_decode_features(spark, sf_dir):
    from pelinker_spark.multimodal import extract_media_features

    docs = rd(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import struct

        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 8 + did % 5
                pcm = b"".join(
                    struct.pack("<h", (did * 31 + j * 17) % 2001 - 1000)
                    for j in range(n)
                )
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                body = (
                    b"WAVE"
                    + b"fmt "
                    + struct.pack("<I", len(fmt))
                    + fmt
                    + b"data"
                    + struct.pack("<I", len(pcm))
                    + pcm
                )
                rows.append(
                    {
                        "media_id": did,
                        "payload": b"RIFF" + struct.pack("<I", len(body)) + body,
                        "mime": "audio/wav",
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "mime"])

    media = docs.mapInPandas(build, "media_id long, payload binary, mime string")
    feats = extract_media_features(media)
    s = F.round(F.col("x") * F.lit(32768.0))
    return (
        feats.select(
            F.col("media_id").alias("doc_id"),
            F.posexplode("feature").alias("j", "x"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_samples"),
            F.sum(s).cast("bigint").alias("pcm_sum"),
            F.sum(s * F.col("j")).cast("bigint").alias("pcm_wsum"),
        )
        .orderBy("doc_id")
    )


SQL_Q41 = """
WITH s AS (
  SELECT doc_id, unnest(range(0, 8 + doc_id % 5)) AS j
  FROM documents)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_samples,
       CAST(SUM((doc_id*31 + j*17) % 2001 - 1000) AS BIGINT) AS pcm_sum,
       CAST(SUM(((doc_id*31 + j*17) % 2001 - 1000) * j) AS BIGINT) AS pcm_wsum
FROM s GROUP BY doc_id ORDER BY doc_id
"""


# Image-decode oracles (q42 PPM, q43 PNG): pixels are an explicit
# integer function of (doc_id, row, col, channel), so the oracle can
# recompute per-column pixel sums purely arithmetically. The engine side
# encodes REAL containers (binary P6 / PNG cycling ALL FIVE filter
# types) and pushes them through the production decode lane
# (extract_media_features → _decode_ppm/_decode_png → grayscale
# mean-pool). Recovery is exact despite float32 grayscale: per-column
# feature x has relative error <~ 2e-6 from float32 ops, and
# round(x * 255*3*H) needs only abs error < 0.5 on magnitudes <= ~9200
# (error <= ~0.02) — any raster-offset, filter-reconstruction,
# channel-order, or row-order defect shifts whole integers.
def _image_decode_query(spark, sf_dir, fmt: str):
    from pelinker_spark.multimodal import extract_media_features

    docs = rd(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import numpy as np
        import pandas as pd

        from pelinker_spark.multimodal import encode_png, encode_ppm

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                h, w = 6 + did % 7, 5 + did % 6
                r, c, ch = np.ogrid[0:h, 0:w, 0:3]
                rgb = ((did * 7 + r * 13 + c * 5 + ch * 11) % 256).astype(
                    np.uint8
                )
                if fmt == "ppm":
                    payload = encode_ppm(rgb)
                    mime = "image/x-portable-pixmap"
                elif fmt == "bmp":
                    # hand-rolled 24-bit BITMAPINFOHEADER BMP: bottom-up
                    # rows padded to 4 bytes — exactly the layout quirks
                    # (row inversion + padding) the decoder must undo;
                    # grayscale averaging is channel-order invariant, so
                    # BGR-vs-RGB needs no oracle-side distinction
                    import struct as _struct

                    pad = b"\x00" * ((-(w * 3)) % 4)
                    raster = b"".join(
                        rgb[r2].tobytes() + pad for r2 in range(h - 1, -1, -1)
                    )
                    payload = (
                        b"BM"
                        + _struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
                        + _struct.pack(
                            "<IiiHHIIiiII",
                            40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0,
                        )
                        + raster
                    )
                    mime = "image/bmp"
                else:
                    payload = encode_png(rgb, filters=(0, 1, 2, 3, 4))
                    mime = "image/png"
                rows.append(
                    {"media_id": did, "payload": payload, "mime": mime}
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "mime"])

    media = docs.mapInPandas(build, "media_id long, payload binary, mime string")
    feats = extract_media_features(media)
    hh = F.lit(6) + F.col("doc_id") % F.lit(7)
    return (
        feats.select(
            F.col("media_id").alias("doc_id"),
            F.posexplode("feature").alias("col_idx", "x"),
        )
        .select(
            "doc_id",
            F.col("col_idx").cast("int").alias("col_idx"),
            F.round(F.col("x") * F.lit(765.0) * hh)
            .cast("bigint")
            .alias("pix_sum"),
        )
        .orderBy("doc_id", "col_idx")
    )


def q42_ppm_decode_features(spark, sf_dir):
    return _image_decode_query(spark, sf_dir, "ppm")


def q43_png_decode_features(spark, sf_dir):
    return _image_decode_query(spark, sf_dir, "png")


def q44_bmp_decode_features(spark, sf_dir):
    return _image_decode_query(spark, sf_dir, "bmp")


# Video-container oracle: MJPEG-in-AVI payloads decode through the
# production lane (RIFF walk → per-frame baseline JPEG → stride-2 frame
# sampling → mean-pool). JPEG is lossy so pixel VALUES stay outside the
# hash; what IS exact — and what this locks — is the container walk and
# batch geometry: the sampled frame count ceil(n/2) and the feature
# width W (one mean per pixel column). A mis-parsed chunk list, dropped
# frame, or transposed decode dimension shifts an integer.
def q45_avi_frame_counts(spark, sf_dir):
    from pelinker_spark.multimodal import extract_media_features

    docs = rd(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import numpy as np
        import pandas as pd

        from pelinker_spark.multimodal import encode_avi_mjpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n, w, h = 2 + did % 5, 8 * (1 + did % 3), 8
                r, c, ch = np.ogrid[0:h, 0:w, 0:3]
                frames = [
                    ((did * 7 + f * 29 + r * 13 + c * 5 + ch * 11) % 256).astype(
                        np.uint8
                    )
                    for f in range(n)
                ]
                rows.append(
                    {
                        "media_id": did,
                        "payload": encode_avi_mjpeg(frames, fps=10),
                        "mime": "video/x-msvideo",
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "mime"])

    media = docs.mapInPandas(build, "media_id long, payload binary, mime string")
    feats = extract_media_features(media)  # default frame_stride=2
    return (
        feats.select(
            F.col("media_id").alias("doc_id"),
            F.col("n_frames").cast("int").alias("n_frames_sampled"),
            F.size("feature").cast("int").alias("feat_width"),
        )
        .orderBy("doc_id")
    )


SQL_Q45 = """
SELECT doc_id,
       CAST((2 + doc_id % 5 + 1) // 2 AS INT) AS n_frames_sampled,
       CAST(8 * (1 + doc_id % 3) AS INT) AS feat_width
FROM documents ORDER BY doc_id
"""


_SQL_IMAGE_DECODE = """
WITH g AS (
  SELECT doc_id, 6 + doc_id % 7 AS h, 5 + doc_id % 6 AS w FROM documents),
rw AS (SELECT doc_id, w, unnest(range(0, h)) AS r FROM g),
px AS (SELECT doc_id, r, unnest(range(0, w)) AS c FROM rw),
chan AS (SELECT doc_id, r, c, unnest(range(0, 3)) AS ch FROM px)
SELECT doc_id, CAST(c AS INT) AS col_idx,
       CAST(SUM((doc_id*7 + r*13 + c*5 + ch*11) % 256) AS BIGINT) AS pix_sum
FROM chan GROUP BY doc_id, c ORDER BY doc_id, col_idx
"""

SQL_Q42 = _SQL_IMAGE_DECODE
SQL_Q43 = _SQL_IMAGE_DECODE
SQL_Q44 = _SQL_IMAGE_DECODE


# M11, oracle-checked: the pairwise-F1 evaluation metric ITSELF
# (metrics.pairwise_prf — the north rule's F1 >= 0.99 bar is measured by
# this function; ref compute metrics analysis.py:756-796) under the
# value-hash gate. Blocked regime (pairs counted only within a shared
# blocking key), contingency counting — every sum is a sum of exact
# integer-valued doubles (order-independent), every ratio a single IEEE
# division of the same operands in both engines.
def q46_pairwise_prf(spark, sf_dir):
    from pelinker_spark.metrics import pairwise_prf

    ev = rd(spark, sf_dir, "events")
    labeled = ev.select(
        F.col("event_type").alias("pred"),
        (F.col("user_id") % 5).alias("gold"),
        (F.col("event_id") % 3).alias("blk"),
    )
    m = pairwise_prf(labeled, pred_col="pred", gold_col="gold", block_col="blk")
    return spark.createDataFrame(
        [
            (
                m["precision"],
                m["recall"],
                m["f1"],
                m["tp_pairs"],
                m["pred_pairs"],
                m["gold_pairs"],
            )
        ],
        "precision double, recall double, f1 double, "
        "tp_pairs double, pred_pairs double, gold_pairs double",
    )


SQL_Q46 = """
WITH labeled AS (
  SELECT event_type AS pred, user_id % 5 AS gold, event_id % 3 AS blk
  FROM events),
cell AS (SELECT blk, pred, gold, COUNT(*) AS n FROM labeled GROUP BY 1, 2, 3),
tp AS (SELECT SUM(n * (n - 1) / 2) AS v FROM cell),
ps AS (SELECT SUM(n * (n - 1) / 2) AS v FROM
  (SELECT blk, pred, SUM(n) AS n FROM cell GROUP BY 1, 2)),
gs AS (SELECT SUM(n * (n - 1) / 2) AS v FROM
  (SELECT blk, gold, SUM(n) AS n FROM cell GROUP BY 1, 2))
SELECT tp.v / ps.v AS "precision", tp.v / gs.v AS recall,
  2 * (tp.v / ps.v) * (tp.v / gs.v) / (tp.v / ps.v + tp.v / gs.v) AS f1,
  tp.v AS tp_pairs, ps.v AS pred_pairs, gs.v AS gold_pairs
FROM tp, ps, gs
"""


# M11+, oracle-checked: distributed adjusted Rand index
# (metrics.adjusted_rand_index; ref compute_adjusted_rand_index
# analysis.py:162-185). Same contingency discipline as q46; the ARI
# formula is mirrored subexpression-for-subexpression so both engines
# evaluate the identical IEEE operation tree.
def q47_adjusted_rand(spark, sf_dir):
    from pelinker_spark.metrics import adjusted_rand_index

    ev = rd(spark, sf_dir, "events")
    labeled = ev.select(
        F.col("event_type").alias("pred"),
        (F.col("user_id") % 7).alias("gold"),
    )
    ari = adjusted_rand_index(labeled, pred_col="pred", gold_col="gold")
    return spark.createDataFrame([(ari,)], "ari double")


SQL_Q47 = """
WITH cell AS (
  SELECT event_type AS pred, user_id % 7 AS gold, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
s AS (SELECT SUM(n * (n - 1) / 2) AS tp, SUM(n) AS n_total FROM cell),
a AS (SELECT SUM(n * (n - 1) / 2) AS v FROM
  (SELECT pred, SUM(n) AS n FROM cell GROUP BY 1)),
b AS (SELECT SUM(n * (n - 1) / 2) AS v FROM
  (SELECT gold, SUM(n) AS n FROM cell GROUP BY 1))
SELECT (s.tp - a.v * b.v / (s.n_total * (s.n_total - 1) / 2.0))
     / ((a.v + b.v) / 2.0 - a.v * b.v / (s.n_total * (s.n_total - 1) / 2.0))
     AS ari
FROM s, a, b
"""


# W3/J5, oracle-checked: interval-overlap mention dedup
# (report.dedupe_overlapping_mentions — per-document union-find over the
# overlap graph inside applyInPandas; ref
# _dedupe_overlapping_prediction_rows model.py:1138-1208) vs a DuckDB
# recursive-CTE closure over the same overlap edges. The library's
# overlap_component is the positional min-index of the component under
# the per-doc (a_abs, b_abs) sort; rows tied on (a_abs, b_abs) are
# identical intervals, hence the same component, so the index SET per
# component — and with it every row's min-index label — is
# order-independent, which is what makes the positional id
# oracle-expressible (ROW_NUMBER with a mention tiebreak picks one valid
# assignment of the same sets).
def q48_overlap_dedup(spark, sf_dir):
    from pelinker_spark.report import dedupe_overlapping_mentions

    ev = rd(spark, sf_dir, "events").where(F.col("event_id") % 16 == 0)
    m = ev.select(
        F.concat(F.lit("u"), (F.col("user_id") % 40).cast("string")).alias("url"),
        F.lit(0).alias("itext"),
        (F.col("event_id") % 211).cast("long").alias("a_abs"),
        ((F.col("event_id") % 211) + 2 + (F.col("event_id") % 5))
        .cast("long")
        .alias("b_abs"),
        F.concat(F.lit("m"), F.col("event_id").cast("string")).alias("mention"),
    )
    out = dedupe_overlapping_mentions(m)
    return out.select(
        "url", "a_abs", "b_abs", "mention", "overlap_component", "is_best"
    )


SQL_Q48 = """
WITH RECURSIVE m AS (
  SELECT 'u' || CAST(user_id % 40 AS VARCHAR) AS url,
         CAST(event_id % 211 AS BIGINT) AS a_abs,
         CAST(event_id % 211 + 2 + event_id % 5 AS BIGINT) AS b_abs,
         'm' || CAST(event_id AS VARCHAR) AS mention
  FROM events WHERE event_id % 16 = 0),
idx AS (
  SELECT url, a_abs, b_abs, mention,
    ROW_NUMBER() OVER (PARTITION BY url ORDER BY a_abs, b_abs, mention) - 1 AS i
  FROM m),
edges AS (
  SELECT x.url AS url, x.i AS a, y.i AS b FROM idx x JOIN idx y
  ON x.url = y.url AND x.i <> y.i
   AND x.a_abs < y.b_abs AND y.a_abs < x.b_abs),
reach(url, n, mm) AS (
  SELECT url, i, i FROM idx
  UNION
  SELECT r.url, r.n, e.b FROM reach r JOIN edges e
    ON r.url = e.url AND r.mm = e.a),
comp AS (SELECT url, n, MIN(mm) AS c FROM reach GROUP BY 1, 2),
lab AS (
  SELECT idx.url, idx.a_abs, idx.b_abs, idx.mention, comp.c AS overlap_component
  FROM idx JOIN comp ON idx.url = comp.url AND idx.i = comp.n),
best AS (
  SELECT url, overlap_component, mention AS best_mention FROM (
    SELECT url, overlap_component, mention,
      ROW_NUMBER() OVER (PARTITION BY url, overlap_component
        ORDER BY b_abs - a_abs, mention) AS rn
    FROM lab) t WHERE rn = 1)
SELECT l.url, l.a_abs, l.b_abs, l.mention, l.overlap_component,
       (b.best_mention IS NOT NULL) AS is_best
FROM lab l LEFT JOIN best b
  ON l.url = b.url AND l.overlap_component = b.overlap_component
 AND l.mention = b.best_mention
"""


# F11, oracle-checked: min-max [0,1] normalization over finite values
# (sinks.minmax_normalize; ref clustering_grid.py:138-150) — the library
# function itself, not a re-expression: global finite min/max broadcast
# back, constant columns -> 1.0, non-finite -> null.
def q49_minmax_normalize(spark, sf_dir):
    from pelinker_spark.sinks import minmax_normalize

    ev = rd(spark, sf_dir, "events").select("event_id", "value")
    return minmax_normalize(ev, "value")


SQL_Q49 = """
WITH stats AS (
  SELECT MIN(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value END) AS lo,
         MAX(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value END) AS hi
  FROM events)
SELECT event_id, value,
  CASE WHEN value IS NULL OR isnan(value) THEN NULL
       WHEN hi - lo <= 1e-12 THEN 1.0
       ELSE (value - lo) / (hi - lo) END AS value_minmax
FROM events, stats
"""


# W2, oracle-checked: consensus cluster labels
# (report.cluster_composition -> report.consensus_labels; ref
# cluster_derived_labels_map linker_cluster_training.py:151-196): top-3
# entity labels per cluster with frac_of_cluster >= 0.1, ranked by
# (-fraction, label). The collect_list order is nondeterministic, so the
# query explodes the structs back to flat rows and lets the rank FIELD
# (not list position) carry the ordering — set-equal under the hash.
def q50_consensus_labels(spark, sf_dir):
    from pelinker_spark.report import cluster_composition, consensus_labels

    ev = rd(spark, sf_dir, "events")
    labeled = ev.select(
        (F.col("user_id") % 25).alias("cluster_id"),
        F.col("event_type").alias("key"),
    )
    comp = cluster_composition(labeled)
    cons = consensus_labels(comp, top_n=3, min_fraction=0.1)
    return cons.select("cluster_id", F.explode("top_labels").alias("tl")).select(
        "cluster_id",
        F.col("tl.rank").alias("rank"),
        F.col("tl.key").alias("key"),
        F.col("tl.frac_of_cluster").alias("frac_of_cluster"),
    )


SQL_Q50 = """
WITH base AS (
  SELECT user_id % 25 AS cluster_id, event_type AS key,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2),
compo AS (
  SELECT cluster_id, key, n,
    n / SUM(n) OVER (PARTITION BY cluster_id) AS frac_of_cluster
  FROM base)
SELECT cluster_id, rank, key, frac_of_cluster FROM (
  SELECT cluster_id, key, frac_of_cluster,
    ROW_NUMBER() OVER (PARTITION BY cluster_id
      ORDER BY frac_of_cluster DESC, key) AS rank
  FROM compo WHERE frac_of_cluster >= 0.1) t
WHERE rank <= 3
"""


# M4-adjacent sampling primitive, oracle-checked: hash-fraction sampling
# (sampling.hash_fraction_sample; the library function — md5-keyed, so
# partition-independent AND oracle-portable; ref seeded df.sample
# analogs, pelinker/sampling.py:28-98). fraction=0.07 ->
# int(0.07 * 0xFFFF) = 4587, pinned in both engines.
def q51_hash_fraction_sample(spark, sf_dir):
    from pelinker_spark.sampling import hash_fraction_sample

    li = rd(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return hash_fraction_sample(li, ["l_orderkey", "l_linenumber"], 0.07)


SQL_Q51 = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE CAST(('0x' || substr(md5('s0-' || CAST(l_orderkey AS VARCHAR)
       || '-' || CAST(l_linenumber AS VARCHAR)), 1, 4))::INT AS BIGINT) < 4587
"""


# F6, oracle-checked: the fuzzy stem+gap KB label matcher
# (kb.fuzzy_match_col / fuzzy_label_pattern; ref match_pattern
# pelinker/matching.py:4-23) as a boolean column — 'customer' (> 5
# chars) exercises the stem rule (last char dropped + \\w*), the
# bounded \\s+[\\w\\s-]{0,9} gap joins the words. The pattern is pure
# ASCII regex whose language is identical under Java regex (Spark
# rlike) and RE2 (DuckDB regexp_matches).
def q52_fuzzy_match(spark, sf_dir):
    from pelinker_spark.kb import fuzzy_match_col

    d = rd(spark, sf_dir, "documents")
    return d.select(
        "doc_id", fuzzy_match_col(F.col("text"), "customer join").alias("fuzzy_hit")
    )


SQL_Q52 = r"""
SELECT doc_id,
  regexp_matches(lower(text),
    '\bcustome\w*\s+[\w\s-]{0,9}\bjoin\w*\b') AS fuzzy_hit
FROM documents
"""


# W4/F1/F4/F5, oracle-checked: the MENTION GENERATOR itself
# (mentions.generate_mentions — stage 1 of the pipeline: ws-normalize,
# sentence split, sliding 1/2/3-word windows with exact half-open char
# spans, keep-predicate, blocking keys; ref pelinker/onto.py:146-156 +
# util.py:801-822). The corpus has no sentence punctuation, so the query
# injects deterministic boundaries (' table ' -> '. ') in BOTH engines —
# exercising the sentence splitter and the edge-strip normalization
# ("x." -> "x") on real windows. The oracle emulates Spark's
# (?<=[.!?])\s+ lookbehind split (RE2 has no lookbehind) by substituting
# a separator char at '. ' — exact, because after ws-normalization every
# boundary is literally '. '. Spans: a = running sum of len(tok)+1
# (window sum == the library's _starts aggregate, exact integers);
# b_w = a + len(t1) (+1+len(t2)) (+1+len(t3)); a_abs/b_abs add the
# sentence's doc-global offset.
def q53_mention_generation(spark, sf_dir):
    from pelinker_spark.mentions import generate_mentions

    d = rd(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("url"),
        F.replace(F.col("text"), F.lit(" table "), F.lit(". ")).alias("text"),
        "lang",
    )
    return generate_mentions(pages, windows=(1, 2, 3), lang="en")


_SQL_STOPLIST = (
    "'a','an','and','are','as','at','be','by','for','from','has','have',"
    "'in','is','it','of','on','or','the','to','was','with'"
)

SQL_Q53 = r"""
WITH pages AS (
  SELECT 'd' || CAST(doc_id AS VARCHAR) AS url,
         replace(text, ' table ', '. ') AS text
  FROM documents WHERE lang = 'en'),
normed AS (
  SELECT url, regexp_replace(trim(text), '\s+', ' ', 'g') AS t FROM pages),
sent_raw AS (
  SELECT url, string_split(replace(t, '. ', '.' || chr(30)), chr(30)) AS sents
  FROM normed),
sent_idx AS (
  SELECT url, unnest(sents) AS sent,
         unnest(range(1, len(sents) + 1)) AS sno
  FROM sent_raw),
sent_f AS (
  SELECT url, sent,
    ROW_NUMBER() OVER (PARTITION BY url ORDER BY sno) - 1 AS ichunk,
    COALESCE(SUM(LENGTH(sent) + 1) OVER (PARTITION BY url ORDER BY sno
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_off
  FROM sent_idx WHERE trim(sent) <> ''),
tok_idx AS (
  SELECT url, ichunk, sent_off,
         unnest(string_split(sent, ' ')) AS tok,
         unnest(range(1, len(string_split(sent, ' ')) + 1)) AS ti
  FROM sent_f),
tok_off AS (
  SELECT url, ichunk, sent_off, tok, ti,
    COALESCE(SUM(LENGTH(tok) + 1) OVER (PARTITION BY url, ichunk ORDER BY ti
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
  FROM tok_idx),
tok_n AS (
  SELECT url, ichunk, sent_off, tok, ti, a,
    CASE WHEN LENGTH(tt) > 3 AND tt LIKE '%s' AND tt NOT LIKE '%ss'
         THEN substr(tt, 1, LENGTH(tt) - 1) ELSE tt END AS ntok
  FROM (SELECT *,
          regexp_replace(lower(tok), '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g') AS tt
        FROM tok_off) z),
ext AS (
  SELECT url, ichunk, sent_off, a, ti, tok AS t1, ntok AS n1,
    LEAD(tok, 1) OVER w AS t2, LEAD(ntok, 1) OVER w AS n2,
    LEAD(tok, 2) OVER w AS t3, LEAD(ntok, 2) OVER w AS n3
  FROM tok_n
  WINDOW w AS (PARTITION BY url, ichunk ORDER BY ti)),
wins AS (
  SELECT url, ichunk, sent_off, 1 AS wg, t1 AS mention, n1 AS key,
         a, a + LENGTH(t1) AS b
  FROM ext
  WHERE n1 <> '' AND NOT (n1 IN (__STOPLIST__))
  UNION ALL
  SELECT url, ichunk, sent_off, 2, t1 || ' ' || t2, n1 || ' ' || n2,
         a, a + LENGTH(t1) + 1 + LENGTH(t2)
  FROM ext
  WHERE t2 IS NOT NULL AND n1 <> '' AND n2 <> ''
    AND NOT (n1 IN (__STOPLIST__) AND n2 IN (__STOPLIST__))
  UNION ALL
  SELECT url, ichunk, sent_off, 3, t1 || ' ' || t2 || ' ' || t3,
         n1 || ' ' || n2 || ' ' || n3,
         a, a + LENGTH(t1) + 1 + LENGTH(t2) + 1 + LENGTH(t3)
  FROM ext
  WHERE t3 IS NOT NULL AND n1 <> '' AND n2 <> '' AND n3 <> ''
    AND NOT (n1 IN (__STOPLIST__) AND n2 IN (__STOPLIST__)
             AND n3 IN (__STOPLIST__)))
SELECT url, CAST(0 AS BIGINT) AS itext, CAST(ichunk AS BIGINT) AS ichunk,
       CAST(wg AS INT) AS wg, mention, key,
       CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(sent_off + a AS BIGINT) AS a_abs,
       CAST(sent_off + b AS BIGINT) AS b_abs
FROM wins
""".replace("__STOPLIST__", _SQL_STOPLIST)


# S2/M3 stage 0, oracle-checked: the HTML render + byte-identical text
# extraction round trip — the per-row invariant named verbatim in
# BASELINE.json input_hint ("byte-identical extracted text per url";
# ref chunk round-trip contract pelinker/util.py:528-585). The Spark
# side runs the REAL library path: synth.render_html (escape & wrap)
# inside an Arrow-batched pandas UDF, then extract.extract_text_py
# (block-drop, body regex, tag strip, entity unescape, strip). The
# corpus text is markup-free, so both engines first inject deterministic
# markup ('value' -> '<v> & "q" </v>') to make the escape/unescape legs
# non-trivial. The oracle re-derives the exact rendered bytes from
# scratch in SQL (the same &amp;/&lt;/&gt; replace chain html.escape
# performs, the same literal wrapper) and pins md5 + byte length of the
# html plus the extracted text; any drift in either renderer or
# extractor breaks the value hash.
def q54_extract_roundtrip(spark, sf_dir):
    from pyspark.sql import types as T

    from pelinker_spark.extract import extract_text_py
    from pelinker_spark.synth import render_html

    d = rd(spark, sf_dir, "documents")
    docs = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.replace(
            F.col("text"), F.lit("value"), F.lit('<v> & "q" </v>')
        ).alias("text2"),
    )

    @F.pandas_udf(T.BinaryType())
    def render_udf(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            [
                render_html(f"https://example.org/doc/{i}", t)
                for i, t in zip(doc_id, text)
            ]
        )

    @F.pandas_udf(T.StringType())
    def extract_udf(html: pd.Series) -> pd.Series:
        return html.map(extract_text_py)

    pages = docs.select(
        "doc_id", "text2", render_udf("doc_id", "text2").alias("html")
    )
    return pages.select(
        "doc_id",
        F.length("html").cast("long").alias("html_len"),
        F.md5("html").alias("html_md5"),
        extract_udf("html").alias("extracted"),
        (extract_udf("html") == F.col("text2")).alias("roundtrip"),
    )


SQL_Q54 = r"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         replace(text, 'value', '<v> & "q" </v>') AS text2
  FROM documents),
esc AS (
  SELECT doc_id, text2,
    replace(replace(replace(text2, '&', '&amp;'),
                    '<', '&lt;'), '>', '&gt;') AS body
  FROM d),
page AS (
  SELECT doc_id, text2,
    '<!DOCTYPE html><html><head><meta charset="utf-8">'
    || '<link rel="canonical" href="https://example.org/doc/'
    || CAST(doc_id AS VARCHAR)
    || '"><title>synthetic page</title></head><body><article><p>'
    || body || '</p></article></body></html>' AS html
  FROM esc)
SELECT doc_id,
  CAST(octet_length(encode(html)) AS BIGINT) AS html_len,
  md5(html) AS html_md5,
  text2 AS extracted,
  TRUE AS roundtrip
FROM page
"""


# F2, oracle-checked: the greedy char-budget chunk split
# (chunking.split_char_budget — the reference's split_text_into_batches,
# pelinker/util.py:505-525: prefer the last space inside the budget,
# hard-cut only when a window is spaceless; concat(chunks) == text
# byte-for-byte). Spark runs the library's F.aggregate step machine;
# the oracle re-derives the identical greedy split with a DuckDB
# recursive CTE cutting one chunk per iteration — same last-space
# regex, same cut rule, same substr arithmetic.
def q55_char_budget_chunks(spark, sf_dir):
    from pelinker_spark.chunking import split_char_budget

    d = rd(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(split_char_budget(F.col("text"), 48)).alias(
            "ichunk", "chunk"
        ),
    ).select(
        "doc_id", F.col("ichunk").cast("long").alias("ichunk"), "chunk"
    )


SQL_Q55 = r"""
WITH RECURSIVE s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text AS rest,
         CAST(0 AS BIGINT) AS i, CAST(NULL AS VARCHAR) AS chunk
  FROM documents
  UNION ALL
  SELECT doc_id, substr(rest, cut + 1) AS rest, i + 1,
         substr(rest, 1, cut) AS chunk
  FROM (
    SELECT doc_id, rest, i,
      CASE WHEN length(rest) <= 48 THEN length(rest)
           WHEN ls > 0 THEN ls
           ELSE 48 END AS cut
    FROM (
      SELECT doc_id, rest, i,
        length(regexp_extract(substr(rest, 1, 48),
                              '^(.*[ ])[^ ]*$', 1)) AS ls
      FROM s WHERE length(rest) > 0)))
SELECT doc_id, i - 1 AS ichunk, chunk
FROM s WHERE chunk IS NOT NULL
"""


# F3, oracle-checked: the token-budget chunk split
# (chunking.split_token_budget — ref util.py:528-585): <=16 whitespace
# tokens per chunk, separators kept with the preceding chunk so
# concat(chunks) == text exactly. Spark runs the library's
# split-with-lookahead + slice/array_join plan; the oracle re-derives
# each chunk by 1-based list slicing over the token array, re-attaching
# the single-space separator to every non-final chunk (the corpus is
# single-space tokenized, so the lookahead pieces are exactly
# token+space) — byte identity of every chunk is what the hash pins.
def q56_token_budget_chunks(spark, sf_dir):
    from pelinker_spark.chunking import split_token_budget

    d = rd(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(split_token_budget(F.col("text"), 16)).alias(
            "ichunk", "chunk"
        ),
    ).select(
        "doc_id", F.col("ichunk").cast("long").alias("ichunk"), "chunk"
    )


SQL_Q56 = r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(text, ' ') AS toks
  FROM documents),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS j
  FROM t)
SELECT doc_id, CAST(j AS BIGINT) AS ichunk,
  array_to_string(list_slice(toks, j * 16 + 1, (j + 1) * 16), ' ')
  || CASE WHEN (j + 1) * 16 < len(toks) THEN ' ' ELSE '' END AS chunk
FROM idx
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_topk": q02_revenue_topk,
    "q03_rare_parts_filter": q03_rare_parts_filter,
    "q04_topk_per_group": q04_topk_per_group,
    "q05_modal_event_type": q05_modal_event_type,
    "q06_composition": q06_composition,
    "q07_weighted_mass": q07_weighted_mass,
    "q08_quantiles": q08_quantiles,
    "q09_interval_overlap": q09_interval_overlap,
    "q10_semi_join": q10_semi_join,
    "q11_anti_join": q11_anti_join,
    "q12_embed_centroids": q12_embed_centroids,
    "q13_running_sum": q13_running_sum,
    "q14_moving_avg": q14_moving_avg,
    "q15_deterministic_sample": q15_deterministic_sample,
    "q16_doc_fingerprints": q16_doc_fingerprints,
    "q17_token_jaccard": q17_token_jaccard,
    "q18_cosine_topk": q18_cosine_topk,
    "q19_lang_stats": q19_lang_stats,
    "q20_doc_quality": q20_doc_quality,
    "q21_blocking_keys": q21_blocking_keys,
    "q22_minhash_signatures": q22_minhash_signatures,
    "q23_tumbling_daily": q23_tumbling_daily,
    "q24_hash_order_cap": q24_hash_order_cap,
    "q25_negative_sample": q25_negative_sample,
    "q26_simhash": q26_simhash,
    "q27_embed_neardup": q27_embed_neardup,
    "q28_lang_id": q28_lang_id,
    "q29_token_counts": q29_token_counts,
    "q30_grid_agg": q30_grid_agg,
    "q31_fused_centroids": q31_fused_centroids,
    "q32_fold_pooling": q32_fold_pooling,
    "q33_label_simplicity": q33_label_simplicity,
    "q34_grid_aggregate": q34_grid_aggregate,
    "q35_incident_scores": q35_incident_scores,
    "q36_emission_caps": q36_emission_caps,
    "q37_connected_components": q37_connected_components,
    "q38_salted_block_pairs": q38_salted_block_pairs,
    "q39_jw_pair_scores": q39_jw_pair_scores,
    "q40_incremental_cc": q40_incremental_cc,
    "q41_wav_decode_features": q41_wav_decode_features,
    "q42_ppm_decode_features": q42_ppm_decode_features,
    "q43_png_decode_features": q43_png_decode_features,
    "q44_bmp_decode_features": q44_bmp_decode_features,
    "q45_avi_frame_counts": q45_avi_frame_counts,
    "q46_pairwise_prf": q46_pairwise_prf,
    "q47_adjusted_rand": q47_adjusted_rand,
    "q48_overlap_dedup": q48_overlap_dedup,
    "q49_minmax_normalize": q49_minmax_normalize,
    "q50_consensus_labels": q50_consensus_labels,
    "q51_hash_fraction_sample": q51_hash_fraction_sample,
    "q52_fuzzy_match": q52_fuzzy_match,
    "q53_mention_generation": q53_mention_generation,
    "q54_extract_roundtrip": q54_extract_roundtrip,
    "q55_char_budget_chunks": q55_char_budget_chunks,
    "q56_token_budget_chunks": q56_token_budget_chunks,
}

ORACLES: dict[str, str] = {
    "q01_pricing_summary": SQL_Q01,
    "q02_revenue_topk": SQL_Q02,
    "q03_rare_parts_filter": SQL_Q03,
    "q04_topk_per_group": SQL_Q04,
    "q05_modal_event_type": SQL_Q05,
    "q06_composition": SQL_Q06,
    "q07_weighted_mass": SQL_Q07,
    "q08_quantiles": SQL_Q08,
    "q09_interval_overlap": SQL_Q09,
    "q10_semi_join": SQL_Q10,
    "q11_anti_join": SQL_Q11,
    "q12_embed_centroids": SQL_Q12,
    "q13_running_sum": SQL_Q13,
    "q14_moving_avg": SQL_Q14,
    "q15_deterministic_sample": SQL_Q15,
    "q16_doc_fingerprints": SQL_Q16,
    "q17_token_jaccard": SQL_Q17,
    "q18_cosine_topk": SQL_Q18,
    "q19_lang_stats": SQL_Q19,
    "q20_doc_quality": SQL_Q20,
    "q21_blocking_keys": SQL_Q21,
    "q22_minhash_signatures": SQL_Q22,
    "q23_tumbling_daily": SQL_Q23,
    "q24_hash_order_cap": SQL_Q24,
    "q25_negative_sample": SQL_Q25,
    "q26_simhash": SQL_Q26,
    "q27_embed_neardup": SQL_Q27,
    "q28_lang_id": SQL_Q28,
    "q29_token_counts": SQL_Q29,
    "q30_grid_agg": SQL_Q30,
    "q31_fused_centroids": SQL_Q31,
    "q32_fold_pooling": SQL_Q32,
    "q33_label_simplicity": SQL_Q33,
    "q34_grid_aggregate": SQL_Q34,
    "q35_incident_scores": SQL_Q35,
    "q36_emission_caps": SQL_Q36,
    "q37_connected_components": SQL_Q37,
    "q38_salted_block_pairs": SQL_Q38,
    "q39_jw_pair_scores": SQL_Q39,
    "q40_incremental_cc": SQL_Q40,
    "q41_wav_decode_features": SQL_Q41,
    "q42_ppm_decode_features": SQL_Q42,
    "q43_png_decode_features": SQL_Q43,
    "q44_bmp_decode_features": SQL_Q44,
    "q45_avi_frame_counts": SQL_Q45,
    "q46_pairwise_prf": SQL_Q46,
    "q47_adjusted_rand": SQL_Q47,
    "q48_overlap_dedup": SQL_Q48,
    "q49_minmax_normalize": SQL_Q49,
    "q50_consensus_labels": SQL_Q50,
    "q51_hash_fraction_sample": SQL_Q51,
    "q52_fuzzy_match": SQL_Q52,
    "q53_mention_generation": SQL_Q53,
    "q54_extract_roundtrip": SQL_Q54,
    "q55_char_budget_chunks": SQL_Q55,
    "q56_token_budget_chunks": SQL_Q56,
}
