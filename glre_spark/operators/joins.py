"""Join operators (SURVEY.md §2.3).

Scale notes: small dims (region/nation/supplier/part) are broadcast —
`F.broadcast` hints where Catalyst's stats can't see it; the salted join
demonstrates explicit hot-key handling (north_rule) and its oracle is the
plain join; the theta/range join keeps its small side tiny so the
broadcast-nested-loop stays bounded. join_asof is the flagship's own
as-of dedup, pipeline.latest_per_url.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from glre_spark.operators import cents, fround, load, op, staging_dir
from glre_spark.operators.scans import PAGES_CTE, pages_view
from glre_spark.pipeline import latest_per_url

SALT_BUCKETS = 8  # join_salted_skew's fact-side salt range / dim-side replication


@op(
    "join_inner_eq",
    """SELECT o.o_orderkey, c.c_name, o.o_totalprice
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def join_inner_eq(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@op(
    "join_broadcast",
    """SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
              ROUND(SUM(l.l_quantity) + 1e-9, 2) + 0 AS sum_qty
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       GROUP BY p.p_brand""",
)
def join_broadcast(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@op(
    "join_salted_skew",
    """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS n_lines,
              ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) / 100.0
                    + 1e-9, 2) + 0 AS revenue
       FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       GROUP BY s.s_name""",
)
def join_salted_skew(spark, sf_dir):
    """Salted broadcast join: fact side salted by row hash, dim side
    replicated ×SALT_BUCKETS via explode(sequence) — result ≡ the plain
    join (the oracle IS the plain join)."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "_salt",
        F.pmod(
            F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS)
        ).cast("int"),
    )
    sup = (
        load(spark, sf_dir, "supplier")
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))))
    )
    return (
        li.join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey) & (li["_salt"] == sup["_salt"]),
        )
        .groupBy("s_name")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            fround(F.sum(cents(F.col("l_extendedprice"))) / 100.0, 2).alias("revenue"),
        )
    )


@op(
    "join_left_semi",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_left_semi(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@op(
    "join_left_anti",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_left_anti(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@op(
    "join_outer",
    """SELECT c.c_custkey, c.c_name, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
       FROM customer c LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY c.c_custkey, c.c_name""",
)
def join_outer(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )


@op(
    "join_theta_range",
    """SELECT p.p_partkey, CAST(COUNT(*) AS BIGINT) AS n_close
       FROM part p JOIN lineitem l
         ON l.l_extendedprice >= p.p_retailprice * 0.9
        AND l.l_extendedprice <  p.p_retailprice * 1.1
       WHERE p.p_partkey <= 10
       GROUP BY p.p_partkey""",
)
def join_theta_range(spark, sf_dir):
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 10)
    li = load(spark, sf_dir, "lineitem")
    cond = (li.l_extendedprice >= part.p_retailprice * 0.9) & (
        li.l_extendedprice < part.p_retailprice * 1.1
    )
    return (
        F.broadcast(part)
        .join(li, cond)
        .groupBy("p_partkey")
        .agg(F.count("*").cast("bigint").alias("n_close"))
    )


@op(
    "join_asof",
    PAGES_CTE
    + """SELECT url, warc_ts, doc_id FROM (
           SELECT url, warc_ts, doc_id,
                  row_number() OVER (PARTITION BY url
                                     ORDER BY warc_ts DESC, doc_id DESC) AS rn
           FROM pages) WHERE rn = 1""",
)
def join_asof(spark, sf_dir):
    """Latest crawl per url (SURVEY.md §2.3; Spark has no native ASOF
    join): pipeline.latest_per_url, the flagship's max_by over its url
    exchange. That is a SortAggregate: the max_by buffer holds a struct,
    which HashAggregate cannot update in place. The twin's doc_id
    tie-break never fires: a url and warc_ts repeat only for doc_ids
    28,000 apart."""
    return latest_per_url(pages_view(spark, sf_dir).select("url", "warc_ts", "doc_id"))


@op(
    "join_self_block",
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b
       FROM documents a JOIN documents b
         ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id""",
)
def join_self_block(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("blk"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("blk"))
    return a.join(b, "blk").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")


@op(
    "join_cross_small",
    """SELECT r.r_name, s.o_orderstatus
       FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s""",
)
def join_cross_small(spark, sf_dir):
    region = load(spark, sf_dir, "region").select("r_name")
    status = load(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


@op(
    "q3_shipping_priority",
    # TPC-H Q3 shape composed end-to-end: dim-filter → broadcast join →
    # fact join → partial agg → top-10. Revenue kept as the EXACT
    # integer cents×pct sum (rev_x10000) so ranking, tie-breaks, and the
    # cross-engine hash are all float-free; the display value derives
    # from it by one rounded division.
    """SELECT l_orderkey, rev_x10000,
              ROUND(rev_x10000 / 10000.0 + 1e-9, 2) + 0 AS revenue,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
       FROM (
         SELECT l.l_orderkey,
                CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                     AS BIGINT) AS rev_x10000,
                o.o_orderdate, o.o_orderpriority
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1998-06-01'
           AND l.l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority)
       ORDER BY rev_x10000 DESC, l_orderkey LIMIT 10""",
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority) composed from this repo's own
    conventions: the segment-filtered customer dim BROADCASTS into
    orders (date filter pushed to the orders scan), the pre-shrunk
    order set joins lineitem on the natural l_orderkey shuffle key,
    revenue partial-aggregates map-side as exact integer cents×pct, and
    the top-10 runs as TakeOrderedAndProject — per-partition heaps, no
    global sort, no corpus-sized exchange after the agg. The tie-break
    (rev, then l_orderkey) makes the LIMIT deterministic across
    engines and partitionings."""
    cutoff = "1998-06-01"
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("rev_x10000"))
        .orderBy(F.col("rev_x10000").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "rev_x10000",
            fround(F.col("rev_x10000") / 10000.0, 2).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


def bucketed_join_df(spark, sf_dir):
    """Build (lazily) the co-located bucketed join: materialize both
    sides as 8-bucket sortBy tables in fresh staging dirs —
    repartition(8, key) first so every bucket lands in exactly ONE file,
    the precondition for the reader to trust the sortBy metadata — and
    return the merge-hinted join + agg. Caller owns the
    spark.sql.legacy.bucketedTableScan.outputOrdering flag (needed at
    PLAN time for the zero-Sort read)."""
    to, tl = "b_orders", "b_lineitem"
    for table, src, key, val in (
        (to, "orders", "o_orderkey", "o_orderpriority"),
        (tl, "lineitem", "l_orderkey", "l_extendedprice"),
    ):
        (
            load(spark, sf_dir, src)
            .select(key, val)
            .repartition(8, key)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(table, path=staging_dir(spark, table))
        )
    j = spark.table(to).hint("merge").join(
        spark.table(tl), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(cents(F.col("l_extendedprice"))).cast("bigint").alias("sum_price_c"),
    )


_BUCKET_SCAN_FLAG = "spark.sql.legacy.bucketedTableScan.outputOrdering"


@op(
    "join_bucketed_colocated",
    """SELECT o.o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_price_c
       FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       GROUP BY o.o_orderpriority""",
)
def join_bucketed_colocated(spark, sf_dir):
    """The exchange-free co-located join (the brief's 'bucketing for
    co-located joins', demonstrated rather than claimed): pay the
    bucketed write once, join shuffle-free forever after — the shape for
    any repeatedly-joined fact pair at 10^12 docs. Since 3.0 Spark only
    trusts bucket sortBy metadata behind a read-path flag; the op sets
    it, EXECUTES the join under it (localCheckpoint), and restores the
    session's prior value so nothing leaks to later ops (plan shape —
    zero Exchange and zero Sort below the SortMergeJoin — is asserted in
    test_plans via bucketed_join_df, which the caller flags itself)."""
    old = spark.conf.get(_BUCKET_SCAN_FLAG, None)
    spark.conf.set(_BUCKET_SCAN_FLAG, "true")
    try:
        # execute NOW, while the flag is set (5 result rows) — the
        # returned DataFrame is detached from the flag and the tables
        return bucketed_join_df(spark, sf_dir).localCheckpoint(eager=True)
    finally:
        if old is None:
            spark.conf.unset(_BUCKET_SCAN_FLAG)
        else:
            spark.conf.set(_BUCKET_SCAN_FLAG, old)
