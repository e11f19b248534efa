"""Operator-inventory queries over the testdata warehouse, with DuckDB oracles.

Each query exercises one or more operators from SURVEY.md §2 (ids cited per
query) re-expressed Spark-first over the TPC-H-ish tables. Conventions that
keep the driver's order-insensitive value-hash comparison stable:

- every computed column is aliased identically in Spark and SQL;
- money sums cast to DECIMAL per row BEFORE summing (exact, order-independent
  arithmetic in both engines), final result cast back to DOUBLE so schemas
  agree;
- plain double aggregates (avgs of well-scaled values) are rounded, keeping
  results far from representation noise;
- integer-ish outputs are cast to LONG (DuckDB counts/lens are BIGINT);
- timestamps in outputs are formatted as strings (engine-neutral).

Scale notes ride each query: the testdata is small, but every plan is written
the way it must run at 100 TB — filters that reach the parquet scan,
broadcast hints on dimension joins, aggregation pushed before fan-out joins,
blocked candidate generation for anything pairwise.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.taxonomy import update_taxonomy_with_parents
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators.relational import concatenate
from ..operators.upsert import staging_upsert
from ..operators.dedup import dedup_by_keys
from ..operators.windows import latest_per_key, sessionize, top_k_per_group
from ..sources.tables import load_table


class QueryDef(NamedTuple):
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    covers: str  # SURVEY §2 operator ids


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Relational core
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: scan-heavy groupBy with decimal-exact
    money sums (A1/A9, F12). The groupBy key has 6 groups — partial
    aggregation collapses everything map-side; shuffle is a few rows."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(price.cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(18,4)")).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast("decimal(18,6)")).cast("double").alias("sum_charge"),
            # integer-valued doubles sum exactly at any order; 2-dp
            # l_discount needs the decimal-sum mean to be order-free
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
                / F.count("l_discount"),
                4,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q02_filter_project(spark, sf_dir):
    """Projection + predicate (P1/P2/P6): both must reach the parquet scan
    (PushedFilters + 4-column ReadSchema — verified via explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45))
        .select(
            "l_orderkey",
            "l_partkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "l_extendedprice",
        )
    )


Q02_SQL = """
SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 45
"""


def q03_left_join_enrich(spark, sf_dir):
    """J1 half-outer enrichment: orders left-joined to customer, selected
    columns only — the join key is the natural shuffle key; customer is the
    smaller side and AQE will broadcast it when it fits."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


Q03_SQL = """
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def q04_revenue_by_nation(spark, sf_dir):
    """J2 inner-join chain + aggregation: lineitem ⋈ supplier ⋈ nation ⋈
    region, revenue per nation. Dimensions are broadcast (they are tiny at
    any scale); the only shuffle is the final 25-group aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # collapse the snowflake before it touches the fact table: the
    # supplier⋈nation⋈region denormalization is supplier-sized, so the fact
    # side sees ONE broadcast exchange instead of three (one broadcast build
    # job, one executor-resident hash relation)
    dim = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "n_name", "r_name")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q04_SQL = """
SELECT n_name, r_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


def q05_brand_agg(spark, sf_dir):
    """J6 broadcast dimension lookup: part is the dim, lineitem the fact;
    explicit broadcast hint keeps this a map-side join at any fact scale."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("brand_revenue"),
            F.sum("l_quantity").alias("brand_qty"),
        )
    )


Q05_SQL = """
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_revenue,
       sum(l_quantity) AS brand_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q06_upsert_status(spark, sf_dir):
    """§2.10 staging upsert (J3 full-outer + soft-delete status + change
    detection). Current = suppliers with suppkey % 3 != 0; fetched = suppliers
    with positive balance, rebalanced. The operator is the engine's MERGE
    primitive (operators/upsert.py), mirrored by the reference's
    srm_tools/update_table.py:55-108."""
    sup = _t(spark, sf_dir, "supplier")
    current = (
        sup.filter(F.col("s_suppkey") % 3 != 0)
        .select(
            F.col("s_suppkey").cast("string").alias("id"),
            F.col("s_name").alias("name"),
            F.round(F.col("s_acctbal"), 2).alias("bal"),
        )
        .withColumn("source", F.lit("sup"))
        .withColumn("status", F.lit("ACTIVE"))
    )
    fetched = sup.filter(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").cast("string").alias("id"),
        F.col("s_name").alias("name"),
        F.round(F.col("s_acctbal") + 100, 2).alias("bal"),
    )
    out = staging_upsert(current, fetched, key="id", table_fields=["name", "bal"],
                         source_id="sup", only_changed=False)
    return out.select("id", "name", "bal", "source", "status", "_changed")


Q06_SQL = """
WITH current AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS id, s_name AS name, round(s_acctbal, 2) AS bal,
         'sup' AS source, 'ACTIVE' AS status
  FROM supplier WHERE s_suppkey % 3 != 0
), fetched AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS id, s_name AS name, round(s_acctbal + 100, 2) AS bal
  FROM supplier WHERE s_acctbal > 0
)
SELECT coalesce(f.id, c.id) AS id,
       CASE WHEN f.id IS NOT NULL THEN f.name ELSE c.name END AS name,
       CASE WHEN f.id IS NOT NULL THEN f.bal ELSE c.bal END AS bal,
       CASE WHEN f.id IS NOT NULL THEN 'sup' ELSE c.source END AS source,
       CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
       (c.id IS NULL OR f.id IS NULL
        OR f.name IS DISTINCT FROM c.name OR f.bal IS DISTINCT FROM c.bal) AS _changed
FROM fetched f FULL OUTER JOIN current c ON f.id = c.id
"""


def q07_collect_set_join(spark, sf_dir):
    """J4/J5 join-with-set-aggregation: distinct order priorities per
    customer, aggregated BEFORE the join (shuffle size = |customers|, not the
    fanned-out fact), emitted as a sorted joined string so the value is
    engine-neutral."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    per_cust = o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias("priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey", "c_name", "priorities", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


Q07_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, priorities, coalesce(n_orders, 0) AS n_orders
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
"""


def q08_count_per_key(spark, sf_dir):
    """A1 frequency + mean value. The mean is an exact decimal sum divided
    once: ``value`` carries 2-dp data, so the DECIMAL(18,2) cast is a
    lossless round-trip in both engines and the sum is order-free — a plain
    double avg's partial-sum order varies with partitioning and can flip
    the rounded grid on boundary values (the r8 centroid lesson)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count("value"), 4
        ).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


Q08_SQL = """
SELECT event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value), 4) AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q09_two_level_agg(spark, sf_dir):
    """A3 nested two-level aggregation: (segment, priority) frequencies, then
    per-segment stats over those frequencies — two chained groupBys, the
    second over an already-tiny intermediate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lvl1 = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return lvl1.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_priorities"),
        F.max("freq").alias("max_freq"),
        F.sum("freq").alias("total_orders"),
    )


Q09_SQL = """
WITH lvl1 AS (
  SELECT c_mktsegment, o_orderpriority, count(*) AS freq
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
)
SELECT c_mktsegment, count(*) AS n_priorities, max(freq) AS max_freq,
       -- DuckDB sum(BIGINT) is HUGEINT (int128), which some client paths
       -- materialize as double ("123.0" vs Spark's "123") — pin to BIGINT.
       CAST(sum(freq) AS BIGINT) AS total_orders
FROM lvl1 GROUP BY c_mktsegment
"""


def q10_mode_priority(spark, sf_dir):
    """A5 deterministic per-group mode: most frequent order priority per
    market segment, ties broken by priority string — count + ranked window,
    reproducible on any engine (built-in mode() tie-breaks are undefined)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    freq = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("freq"), F.asc("o_orderpriority"))
    return (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("o_orderpriority").alias("mode_priority"), "freq")
    )


Q10_SQL = """
WITH freq AS (
  SELECT c_mktsegment, o_orderpriority, count(*) AS freq
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment ORDER BY freq DESC, o_orderpriority ASC) AS rn
  FROM freq
)
SELECT c_mktsegment, o_orderpriority AS mode_priority, freq FROM ranked WHERE rn = 1
"""


def q11_window_topk(spark, sf_dir):
    """W2/O5 top-k per group: 3 priciest orders per customer, deterministic
    tie-break. Shuffle is keyed by customer; no global sort."""
    o = _t(spark, sf_dir, "orders")
    out = top_k_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], k=3
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))


Q11_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q12_group_count_window(spark, sf_dir):
    """W3 per-group count attached to every member (reference
    organization_branch_count, to_dp.py:275-281)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.withColumn("order_line_count", F.count(F.lit(1)).over(w))
        .filter(F.col("order_line_count") >= 5)
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "order_line_count",
        )
    )


Q12_SQL = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, order_line_count FROM (
  SELECT l_orderkey, l_linenumber, count(*) OVER (PARTITION BY l_orderkey) AS order_line_count
  FROM lineitem
) WHERE order_line_count >= 5
"""


def q13_latest_per_user(spark, sf_dir):
    """O3 latest-per-key (reference sort+last agg): newest event per user,
    event_id tie-break, as a ranked window — one shuffle on the key."""
    ev = _t(spark, sf_dir, "events")
    out = latest_per_key(ev, ["user_id"], "ts", tiebreak=["event_id"])
    return out.select(
        "user_id", "event_id", "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


Q13_SQL = """
SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


def q14_dedup_composite_key(spark, sf_dir):
    """A8 composite-key dedup (reference unique_service_branch seen-set,
    to_dp.py:580-586): first row per (orderkey, partkey) with EXPLICIT
    ordering — Spark has no stream order to lean on."""
    li = _t(spark, sf_dir, "lineitem")
    # The synthetic generator can emit duplicate (orderkey, partkey,
    # linenumber) triples, so the ordering includes value columns — a
    # deterministic keeper needs a total order within the key group.
    out = dedup_by_keys(
        li,
        ["l_orderkey", "l_partkey"],
        order_by=["l_linenumber", "l_quantity", "l_extendedprice"],
    )
    return out.select(
        "l_orderkey", "l_partkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"), "l_quantity",
    )


Q14_SQL = """
SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity FROM (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey
                               ORDER BY l_linenumber ASC, l_quantity ASC, l_extendedprice ASC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q15_union_parties(spark, sf_dir):
    """U1/U3 concatenate with column mapping: customers and suppliers unioned
    into one 'parties' frame with coalesced columns."""
    c = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("c-"), F.col("c_custkey")).alias("party_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s-"), F.col("s_suppkey")).alias("party_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return concatenate([c, s])


Q15_SQL = """
SELECT 'c-' || CAST(c_custkey AS VARCHAR) AS party_id, c_name AS name, c_acctbal AS acctbal,
       'customer' AS kind FROM customer
UNION ALL
SELECT 's-' || CAST(s_suppkey AS VARCHAR) AS party_id, s_name AS name, s_acctbal AS acctbal,
       'supplier' AS kind FROM supplier
"""


def q16_explode_tokens(spark, sf_dir):
    """U4 unwind/explode: part-name words to rows, frequency per word."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q16_SQL = """
SELECT word, count(*) AS n FROM (
  SELECT unnest(string_split(p_name, ' ')) AS word FROM part
) GROUP BY word
"""


def q17_sessionize(spark, sf_dir):
    """Batch sessionization (gap > 30 min ⇒ new session): lag + running sum
    per user — one shuffle on user_id; the streaming twin uses session
    windows (streaming module)."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, gap_minutes=30)
    return s.groupBy("user_id").agg(
        F.max("session_seq").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q17_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, sum(new_session) OVER (PARTITION BY user_id ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM sessions GROUP BY user_id
"""


def q18_date_math(spark, sf_dir):
    """F11 date parse/compare kernels: formatting, day diffs, quarters,
    recency flags — all native JVM expressions."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.datediff(F.lit("2026-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("age_days"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        (F.col("o_orderdate") >= F.lit("2000-01-01")).alias("is_recent"),
    )


Q18_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS order_month,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS BIGINT) AS age_days,
       CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
       o_orderdate >= TIMESTAMP '2000-01-01' AS is_recent
FROM orders
"""


def q19_score_math(spark, sf_dir):
    """F12 scoring math (card_score shape: multiplicative boosts, sqrt/log):
    native pow/log10/greatest, rounded clear of float noise."""
    c = _t(spark, sf_dir, "customer")
    score = F.sqrt(F.greatest(F.col("c_acctbal"), F.lit(0.01))) * F.log10(
        F.col("c_custkey").cast("double") + 10.0
    )
    return c.select("c_custkey", F.round(score, 4).alias("score"))


Q19_SQL = """
SELECT c_custkey, round(sqrt(greatest(c_acctbal, 0.01)) * log10(CAST(c_custkey AS DOUBLE) + 10.0), 4) AS score
FROM customer
"""


def q20_surrogate_ids(spark, sf_dir):
    """F22-shaped deterministic short ids: hash(concat of non-null parts,
    no separator)[:8]. The engine's id kernel uses sha1 for byte-parity with
    the reference (functions/hashing.py); this query uses sha256 because the
    oracle engine lacks sha1 — the construction is identical."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring(
            F.sha2(F.concat_ws("", F.col("c_name"), F.col("c_custkey").cast("string")), 256), 1, 8
        ).alias("surrogate_id"),
    )


Q20_SQL = """
SELECT c_custkey, substring(sha256(c_name || CAST(c_custkey AS VARCHAR)), 1, 8) AS surrogate_id
FROM customer
"""


def q21_taxonomy_parents(spark, sf_dir):
    """F14 hierarchy-in-id parent expansion (reference helpers.py:100-107):
    synthesize colon ids from part attributes, expand every >=2-segment
    prefix, explode, count per tag."""
    p = _t(spark, sf_dir, "part")
    tag = F.concat_ws(":", F.lit("parts"), F.lower("p_type"), F.lower("p_brand"))
    expanded = p.select(update_taxonomy_with_parents(F.array(tag)).alias("tags"))
    return expanded.select(F.explode("tags").alias("tag")).groupBy("tag").agg(
        F.count(F.lit(1)).alias("n")
    )


Q21_SQL = """
WITH tagged AS (
  SELECT 'parts:' || lower(p_type) || ':' || lower(p_brand) AS tag_id FROM part
), exploded AS (
  SELECT unnest(list_transform(range(2, len(string_split(tag_id, ':')) + 1),
                               i -> array_to_string(string_split(tag_id, ':')[1:i], ':'))) AS tag
  FROM tagged
)
SELECT tag, count(*) AS n FROM exploded GROUP BY tag
"""


# --------------------------------------------------------------------------
# Text analysis / LLM-data-pipeline operators (documents table)
# --------------------------------------------------------------------------

# Shared between Spark and the oracle so the two stay in lockstep.
_NORM = "trim(regexp_replace(regexp_replace(lower(coalesce({c}, '')), '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
_STOP_SQL = "['" + "','".join(TXT._STOPWORDS) + "']"


def q22_exact_dedup(spark, sf_dir):
    """Exact dedup via hash-groupBy on normalized text (operators/dedup.py).
    Deterministic keeper (min doc_id) + dup_count — shuffle keyed by content
    hash, no driver state."""
    d = _t(spark, sf_dir, "documents")
    out = DD.exact_dedup(d, "text", "doc_id")
    return out.select("doc_id", F.col("dup_count").cast("long").alias("dup_count"))


Q22_SQL = f"""
SELECT doc_id, CAST(dup_count AS BIGINT) AS dup_count FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY norm ORDER BY doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY norm) AS dup_count
  FROM (SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents)
) WHERE rn = 1
"""


def q23_text_features(spark, sf_dir):
    """Text quality features (token count, punctuation ratio, stopword ratio,
    mean word length, composite quality score) — all whole-stage-codegen
    column expressions, one tokenization pass (functions/text.py)."""
    d = _t(spark, sf_dir, "documents")
    out = TXT.with_text_features(d, "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("mean_word_len", 4).alias("mean_word_len"),
        "quality",
    )


Q23_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(trim(text), ' '), t -> t != '') AS toks0,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), feats AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS punct_ratio_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> list_contains({_STOP_SQL}, lower(t)))) AS DOUBLE)
                   / len(toks) END AS stopword_ratio_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / len(toks) END AS mean_word_len_raw
  FROM base
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(punct_ratio_raw, 4) AS punct_ratio,
       round(stopword_ratio_raw, 4) AS stopword_ratio,
       round(mean_word_len_raw, 4) AS mean_word_len,
       round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + (1.0 - least(punct_ratio_raw * 4.0, 1.0))
              + CASE WHEN mean_word_len_raw >= 2.0 AND mean_word_len_raw <= 12.0 THEN 1.0 ELSE 0.0 END
             ) / 3.0, 4) AS quality
FROM feats
"""


def q24_lang_id(spark, sf_dir):
    """Language-ID heuristic (script ranges + stopword vote) per document."""
    d = _t(spark, sf_dir, "documents")
    return TXT.with_lang_id(d, "text").select("doc_id", "lang_pred")


_MARKER_SQL = {
    lang: "['" + "','".join(m) + "']" for lang, m in TXT._LANG_MARKERS.items()
}
Q24_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) AS zh,
         length(regexp_replace(text, '[^\\x{{0590}}-\\x{{05FF}}]', '', 'g')) AS he,
         length(regexp_replace(text, '[^\\x{{0600}}-\\x{{06FF}}]', '', 'g')) AS ar,
         length(regexp_replace(text, '[^\\x{{0400}}-\\x{{04FF}}]', '', 'g')) AS ru,
         list_distinct(list_filter(string_split(trim(lower(text)), ' '), t -> t != '')) AS toks
  FROM documents
), votes AS (
  SELECT doc_id, zh, he, ar, ru,
         len(list_intersect(toks, {_MARKER_SQL['en']})) AS v_en,
         len(list_intersect(toks, {_MARKER_SQL['de']})) AS v_de,
         len(list_intersect(toks, {_MARKER_SQL['fr']})) AS v_fr,
         len(list_intersect(toks, {_MARKER_SQL['es']})) AS v_es
  FROM scored
)
SELECT doc_id,
       CASE WHEN zh > 0 THEN 'zh' WHEN he > 0 THEN 'he' WHEN ar > 0 THEN 'ar' WHEN ru > 0 THEN 'ru'
            WHEN v_de > v_en AND v_de >= v_fr AND v_de >= v_es THEN 'de'
            WHEN v_fr > v_en AND v_fr >= v_es THEN 'fr'
            WHEN v_es > v_en THEN 'es'
            WHEN v_en > 0 THEN 'en'
            ELSE 'und' END AS lang_pred
FROM votes
"""


def q25_fingerprint(spark, sf_dir):
    """Document fingerprint preimage: sorted distinct normalized tokens
    joined — the order-insensitive content key (the engine hashes it with
    sha1; the preimage is emitted here so the oracle engine, which lacks
    sha1, can verify the construction)."""
    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokens(TXT.normalized_text(F.col("text")))
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(toks)), " ").alias("fingerprint_key"),
    )


Q25_SQL = f"""
SELECT doc_id,
       array_to_string(list_sort(list_distinct(
         list_filter(string_split({_NORM.format(c='text')}, ' '), t -> t != ''))), ' ') AS fingerprint_key
FROM documents
"""


def q26_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup dedup (shingle → signature → banded candidate
    join → exact-Jaccard verify). Candidate generation is an equi-join on
    (band, band_hash) buckets — shuffle is linear in (docs × bands), never
    quadratic. Runs the md5 hash family so the ENTIRE pipeline (signatures,
    banding, verify, survivors) is reproduced by the DuckDB oracle
    byte-for-byte; the production default family is xxhash64 (same code
    path, narrower shuffle), parity-covered in pytest."""
    d = _t(spark, sf_dir, "documents")
    out = DD.minhash_dedup(
        d, "text", "doc_id", num_hashes=16, bands=4, jaccard_threshold=0.7,
        hash_family="md5",
    )
    return out.select("doc_id", "source")


Q26_SQL = f"""
WITH base AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents
), toksrc AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS tok
  FROM base WHERE norm != ''
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tok) - 2, 1)),
           i -> array_to_string(tok[i:i+2], ' '))) AS shingles
  FROM toksrc
), slots AS (
  SELECT s.doc_id, g.i, min(md5(CAST(g.i AS VARCHAR) || ':' || us.shingle)) AS mh
  FROM sh s, UNNEST(s.shingles) AS us(shingle), generate_series(0, 15) AS g(i)
  GROUP BY s.doc_id, g.i
), bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
  FROM slots GROUP BY doc_id, i // 4
), cands AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
), losers AS (
  SELECT DISTINCT c.right_id
  FROM cands c
  JOIN sh a ON a.doc_id = c.left_id
  JOIN sh b ON b.doc_id = c.right_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.7
)
SELECT d.doc_id, d.source
FROM documents d LEFT JOIN losers l ON d.doc_id = l.right_id
WHERE l.right_id IS NULL
"""


def q27_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidate pairs with pigeonhole blocking (segments of
    the 64-bit fingerprint as equi-join keys). Runs the md5 token-hash family
    (60-bit longs from the md5 hex prefix) so the bit-vote fold, fingerprints
    and blocked hamming join are all DuckDB-reproducible; production default
    stays xxhash64 (full 64 bits), parity-covered in pytest."""
    d = _t(spark, sf_dir, "documents")
    fp = DD.simhash(d, "text", "doc_id", hash_family="md5")
    return DD.simhash_near_dup_pairs(fp, "doc_id", max_hamming=3, blocks=4).select(
        "left_id", "right_id", F.col("hamming").cast("long").alias("hamming")
    )


Q27_SQL = f"""
WITH base AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents
), toksrc AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS tok
  FROM base
), th AS (
  SELECT t.doc_id, CAST('0x' || substr(md5(ut.tok), 1, 15) AS BIGINT) AS h
  FROM toksrc t, UNNEST(t.tok) AS ut(tok)
), votes AS (
  SELECT doc_id, g.b,
         sum(CASE WHEN ((h >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
  FROM th, generate_series(0, 63) AS g(b)
  GROUP BY doc_id, g.b
), fp0 AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM votes GROUP BY doc_id
), fp AS (
  SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
  FROM documents d LEFT JOIN fp0 f ON d.doc_id = f.doc_id
), seg AS (
  SELECT doc_id, simhash, g.i AS seg,
         (simhash >> (g.i * 16)) & 65535 AS seg_val
  FROM fp, generate_series(0, 3) AS g(i)
), pairs AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
         bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM seg l JOIN seg r
    ON l.seg = r.seg AND l.seg_val = r.seg_val AND l.doc_id < r.doc_id
  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
)
SELECT left_id, right_id, CAST(hamming AS BIGINT) AS hamming FROM pairs
"""


def q28_jaccard_pairs(spark, sf_dir):
    """N-gram (token-set) Jaccard similarity pairs, blocked by source so the
    pairwise comparison stays within buckets (operators/dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    out = DD.jaccard_near_dup_pairs(d, "text", "doc_id", block_cols=["source"], threshold=0.5)
    return out.select("left_id", "right_id", F.round("jaccard", 4).alias("jaccard"))


Q28_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_distinct(list_filter(string_split({_NORM.format(c='text')}, ' '), t -> t != '')) AS tok
  FROM documents
)
SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       round(CAST(len(list_intersect(l.tok, r.tok)) AS DOUBLE)
             / len(list_distinct(list_concat(l.tok, r.tok))), 4) AS jaccard
FROM toks l JOIN toks r ON l.source = r.source AND l.doc_id < r.doc_id
WHERE CAST(len(list_intersect(l.tok, r.tok)) AS DOUBLE)
      / len(list_distinct(list_concat(l.tok, r.tok))) >= 0.5
"""


# --------------------------------------------------------------------------
# Similarity search (embeddings table)
# --------------------------------------------------------------------------

def q29_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline): queries broadcast,
    corpus streams, per-query ranked window (operators/similarity.py). The
    LSH-bucketed variant is the scale path (rows-only q30)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.brute_force_topk(emb, queries, k=5, vec_col="embedding", id_col="vec_id")
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q29_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  -- cast to DOUBLE[] so the similarity runs in double like the Spark side
  -- (float32 math shifts the 7th decimal and the rounded output)
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS cos_raw
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q30_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k: compare only within the query's
    bucket — the 100 TB path where a query touches 1/2^bits of the corpus.
    The hyperplanes are deterministic (seeded sin-hash, engine-independent
    double math), so the oracle reproduces bucketing + ranking exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.lsh_topk(emb, queries, k=5, num_bits=4, dim=64)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q30_SQL = """
WITH planes AS (
  -- the same seeded sin-hash hyperplanes as operators/similarity.py
  -- _hyperplane_sign: component i of plane `seed` =
  -- frac(sin((i+1)*(seed*12.9898+78.233))*43758.5453) - 0.5
  -- NB: '%' (sign follows dividend, like Spark/Java '%'), NOT DuckDB's
  -- fmod() (floored, always-positive remainder — flips every negative bucket bit)
  SELECT seed,
         list_transform(generate_series(0, 63),
           i -> ((sin((i + 1) * (seed * 12.9898 + 78.233)) * 43758.5453) % 1.0) - 0.5) AS w
  FROM generate_series(1, 4) AS t(seed)
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), buckets AS (
  -- bucket = MSB-first sign bits, seed 1 is the high bit
  SELECT v.vec_id, v.v,
         CAST(sum(CASE WHEN list_dot_product(v.v, p.w) >= 0
                       THEN (CAST(1 AS BIGINT) << (4 - p.seed))
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
  FROM vecs v CROSS JOIN planes p
  GROUP BY v.vec_id, v.v
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM buckets WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(b.v, q.qv) AS cos_raw
  FROM buckets b JOIN q ON b.bucket = q.bucket AND b.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q31_centroids(spark, sf_dir):
    """Per-label centroids via posexplode + the ORDER-FREE sorted-fold mean
    per dimension (similarity.py:orderfree_mean — a plain avg's partial-sum
    order varies with partitioning and flips the rounded grid; r8 sweep).
    Shuffle keyed by (label, dim) — fully partition-parallel."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.centroids(emb, "label", "embedding", round_to=4)
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("pos").cast("long").alias("pos"),
        # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0)
        (F.col("value") + F.lit(0.0)).alias("value"),
    )


Q31_SQL = """
SELECT CAST(label AS BIGINT) AS label,
       CAST(pos AS BIGINT) AS pos,
       -- sorted fold, not avg: order-free float mean, bit-equal to the
       -- engine's centroids() fold (see similarity.py:centroids)
       round(CAST(list_reduce(list_sort(list(CAST(v AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(v), 4) + CAST(0.0 AS DOUBLE) AS value
FROM (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS v
  FROM embeddings
)
GROUP BY label, pos
"""


# --------------------------------------------------------------------------
# Event/time-series (events table)
# --------------------------------------------------------------------------

def q32_tumbling_window(spark, sf_dir):
    """Tumbling-window aggregation (batch twin of the Structured Streaming
    pipeline): per (1h window, event_type) counts + value sums. F.window is
    the same operator streaming uses with a watermark."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


Q32_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q33_filter_with_stats(spark, sf_dir):
    """P7 filter_with_stat reproduced as an auditable aggregate: per-source
    seen/dropped/kept counts for a quality predicate (the pipeline form uses
    df.observe — same numbers, zero extra passes)."""
    d = _t(spark, sf_dir, "documents")
    # NULL-robust split: rows whose predicate is NULL count as dropped, the
    # same thing filter(keep) would do to them.
    keep = F.coalesce(F.col("n_chars") > 200, F.lit(False))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("seen"),
        F.sum(F.when(keep, 0).otherwise(1)).alias("dropped"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("kept"),
    )


Q33_SQL = """
SELECT source, count(*) AS seen,
       -- CASTs pin DuckDB's HUGEINT sums to BIGINT (see Q09)
       CAST(sum(CASE WHEN coalesce(n_chars > 200, false) THEN 0 ELSE 1 END) AS BIGINT) AS dropped,
       CAST(sum(CASE WHEN coalesce(n_chars > 200, false) THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# Derive DAG (the reference's flagship pipeline over staging fixtures)
# --------------------------------------------------------------------------

def q34_derive_flat_branches(spark, sf_dir):
    """Derive stage 1 (reference to_dp.py:288-406): branch ⋈ location ⋈ org
    with deterministic duplicate-branch merge and per-org branch counts."""
    from ..pipelines.derive import run_derive  # noqa: PLC0415

    fb = run_derive(spark, sf_dir)["flat_branches"]
    return fb.select(
        "branch_id",
        "organization",
        "organization_name",
        "organization_kind",
        "location",
        "branch_name",
        "branch_city",
        "lat",
        "lon",
        "national_service",
        F.col("organization_branch_count").cast("long").alias("organization_branch_count"),
    )


# Shared oracle CTE chain mirroring pipelines/staging_fixtures.py + derive.py.


def _parents_sql(col: str) -> str:
    """DuckDB list of all >= 2-segment prefixes of a colon id."""
    return (
        f"list_transform(range(2, len(string_split({col}, ':')) + 1), "
        f"i -> array_to_string(string_split({col}, ':')[1:i], ':'))"
    )


# The derive-chain oracle is assembled from NAMED templates so composed
# queries (q165's cross-entry-point ETL) can rebind the staging sources —
# run the IDENTICAL chain text over post-upsert staging CTEs instead of the
# raw fixtures — without duplicating a single fixture or chain literal.
# {name}/{src} are CTE names; the assembled _DERIVE_CTES below is
# semantically identical to the pre-split monolith (the orgs fixture now
# passes through a staging-shaped orgs_f CTE + an ACTIVE-filtered chain
# projection, and svcs carries an always-ACTIVE status column — both no-ops
# on the all-ACTIVE fixtures, load-bearing for q165's post-merge states).

# staging-shaped Organizations fixture (mirrors staging_fixtures.organizations)
_FIX_ORGS_T = """{name} AS (
  SELECT 'org-' || CAST(s_suppkey AS VARCHAR) AS id,
         s_name AS name,
         'Supplier' AS short_name,
         CASE WHEN s_suppkey % 7 = 0 THEN 'משרד ממשלתי' ELSE 'company' END AS kind,
         CASE WHEN s_suppkey % 4 = 0
              THEN '1' || lpad(CAST(s_suppkey % 800 AS VARCHAR), 3, '0')
              ELSE '0' || CAST((s_suppkey % 6) + 2 AS VARCHAR) || '-'
                       || lpad(CAST(s_suppkey % 9000000 AS VARCHAR), 7, '0')
         END AS phone,
         CASE WHEN s_suppkey % 3 = 0 THEN NULL
              ELSE 'ארגון ' || s_name END AS description,
         'ACTIVE' AS status
  FROM supplier
)"""

# chain projection: staging orgs -> the derive DAG's org dimension (the
# ACTIVE gate is derive.flat_branches' org filter)
_CHAIN_ORGS_T = """orgs AS (
  SELECT id AS organization, name AS organization_name,
         short_name AS organization_short_name, kind AS organization_kind,
         phone AS organization_phone, description AS organization_description
  FROM {src} WHERE upper(trim(status)) = 'ACTIVE'
)"""

_FIX_LOCS_CTE = """locs AS (
  SELECT 'loc-' || CAST(n_nationkey AS VARCHAR) AS location, n_name AS city,
         CAST(29.5 + (n_nationkey % 10) * 0.35
              + CASE WHEN n_nationkey % 11 = 10 THEN 20.0 ELSE 0.0 END AS DOUBLE) AS lat,
         CAST(33.2 + (n_nationkey % 12) * 0.3 AS DOUBLE) AS lon,
         n_nationkey % 7 = 0 AS national_service
  FROM nation
)"""

# staging-shaped Branches fixture (mirrors staging_fixtures.branches)
_FIX_BRS_T = """{name} AS (
  SELECT 'branch-' || CAST(c_custkey AS VARCHAR) AS id,
         'org-' || CAST(c_custkey % (SELECT count(*) FROM supplier) AS VARCHAR) AS organization,
         'loc-' || CAST(c_nationkey AS VARCHAR) AS location,
         c_name AS name,
         'רחוב ' || CAST(c_custkey % 90 + 1 AS VARCHAR) AS address,
         CASE WHEN c_custkey % 5 != 0
              THEN 'יחידת רווחה אזורית מספר ' || CAST(c_nationkey AS VARCHAR)
         END AS operating_unit,
         (c_nationkey % 5 != 2 AND c_custkey % 53 != 0) AS location_accurate,
         CASE WHEN c_custkey % 3 = 0 THEN NULL
              ELSE printf('2024-%02d-%02d', c_custkey % 12 + 1, c_custkey % 28 + 1)
         END AS last_modified,
         CASE WHEN c_acctbal < 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status
  FROM customer
)"""

_CHAIN_FB_T = """fb0 AS (
  SELECT b.id, b.organization, o.organization_name, o.organization_short_name,
         o.organization_kind, o.organization_phone, b.location,
         b.name, l.city, b.address || ' ' || l.city AS branch_address,
         l.lat, l.lon, l.national_service, b.last_modified AS branch_last_modified,
         b.operating_unit AS branch_operating_unit,
         b.location_accurate AS branch_location_accurate
  FROM {brs} b LEFT JOIN locs l ON b.location = l.location
  JOIN orgs o ON b.organization = o.organization
  WHERE upper(trim(b.status)) = 'ACTIVE'
), fb1 AS (
  SELECT *, row_number() OVER (PARTITION BY organization, location ORDER BY id ASC) AS rn
  FROM fb0
), fb AS (
  SELECT id AS branch_id, organization, organization_name, organization_short_name,
         organization_kind, organization_phone, location,
         name AS branch_name, city AS branch_city, branch_address, lat, lon, national_service,
         branch_last_modified, branch_operating_unit, branch_location_accurate,
         count(*) OVER (PARTITION BY organization) AS organization_branch_count
  FROM fb1 WHERE rn = 1
)"""

# staging-shaped Services fixture (mirrors staging_fixtures.services)
_FIX_SVCS_T = """freq AS (
  SELECT l_partkey, l_suppkey, count(*) AS n FROM lineitem GROUP BY 1, 2
), owner AS (
  SELECT l_partkey, l_suppkey FROM (
    SELECT *, row_number() OVER (PARTITION BY l_partkey ORDER BY n DESC, l_suppkey ASC) AS rn
    FROM freq
  ) WHERE rn = 1
), {name} AS (
  SELECT CASE WHEN p_partkey % 6 = 0 THEN 'meser-s-' || CAST(p_partkey AS VARCHAR)
              ELSE 'svc-' || CAST(p_partkey AS VARCHAR) END AS id,
         p_name AS name,
         'org-' || CAST(l_suppkey AS VARCHAR) AS organization,
         'responses:' || lower(p_type) || ':' || lower(p_brand) AS response0,
         'responses:mkt:' || lower(p_brand) AS response1,
         'situations:size:' || CAST(p_size % 5 AS VARCHAR) AS situation0,
         'situations:brand:' || lower(p_brand) AS situation1,
         CASE WHEN p_partkey % 5 = 0 THEN NULL
              WHEN p_partkey % 5 = 1 THEN 'srv'
              ELSE p_name END AS description,
         CAST(p_partkey % 3 AS DOUBLE) * 0.25 AS boost,
         CASE WHEN p_partkey % 4 = 0 THEN NULL
              ELSE printf('2024-%02d-%02d', p_partkey % 12 + 1, p_partkey % 25 + 2)
         END AS last_modified,
         'ACTIVE' AS status
  FROM part JOIN owner ON p_partkey = l_partkey
)"""

_CHAIN_CARDS_T = f"""bpo AS (
  SELECT organization, list_sort(list_distinct(list(branch_id))) AS org_branches
  FROM fb GROUP BY organization
), fs AS (
  SELECT s.id AS service_id, s.name AS service_name, s.organization,
         s.response0, s.response1, s.situation0, s.situation1,
         s.description, s.boost,
         s.last_modified AS service_last_modified,
         unnest(b.org_branches) AS branch_id
  FROM {{svcs}} s JOIN bpo b ON s.organization = b.organization
  WHERE upper(trim(s.status)) = 'ACTIVE'
), cards AS (
  SELECT f.branch_id || f.service_id AS card_key,
         f.service_id, f.service_name, f.branch_id,
         fb.branch_name, fb.branch_city, f.organization, fb.organization_name,
         fb.organization_branch_count, fb.national_service,
         array_to_string(list_sort(list_distinct(list_concat(
           {_parents_sql('f.response0')}, {_parents_sql('f.response1')}))), ',') AS response_ids,
         array_to_string(list_sort(list_distinct(list_concat(
           {_parents_sql('f.situation0')}, {_parents_sql('f.situation1')}))), ',') AS situation_ids
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
)"""

# The assembled chain every derive-family oracle shares: fixture staging
# tables feeding the fb/fs/cards chain under the canonical CTE names.
_DERIVE_CTES = (
    "WITH "
    + _FIX_ORGS_T.format(name="orgs_f") + ", "
    + _CHAIN_ORGS_T.format(src="orgs_f") + ", "
    + _FIX_LOCS_CTE + ", "
    + _FIX_BRS_T.format(name="brs") + ", "
    + _CHAIN_FB_T.format(brs="brs") + ", "
    + _FIX_SVCS_T.format(name="svcs") + ", "
    + _CHAIN_CARDS_T.format(svcs="svcs")
    + "\n"
)

Q34_SQL = _DERIVE_CTES + """
SELECT branch_id, organization, organization_name, organization_kind, location,
       branch_name, branch_city, lat, lon, national_service,
       CAST(organization_branch_count AS BIGINT) AS organization_branch_count
FROM fb
"""


def q35_derive_cards(spark, sf_dir):
    """Full derive DAG to card_data (reference to_dp.py:756-920): service ×
    branch with merged, parent-expanded taxonomy ids. card_id (sha1 short
    hash, byte-compatible with the reference) is excluded here because the
    oracle engine lacks sha1 — its determinism is pinned by unit tests; the
    preimage card_key is verified instead."""
    from ..pipelines.derive import card_data, run_derive  # noqa: PLC0415

    cards = card_data(run_derive(spark, sf_dir)["flat_table"])
    return cards.drop("card_id").withColumn(
        "organization_branch_count", F.col("organization_branch_count").cast("long")
    )


Q35_SQL = _DERIVE_CTES + """
SELECT card_key, service_id, service_name, branch_id, branch_name, branch_city,
       organization, organization_name,
       CAST(organization_branch_count AS BIGINT) AS organization_branch_count,
       national_service, response_ids, situation_ids
FROM cards
"""


def q36_card_search(spark, sf_dir):
    """The reference's "one real query": cards for response X in city Y
    (SURVEY §7.1). The filters are applied BELOW the derive DAG
    (pipelines/derive.py:card_search): the city predicate reaches the nation
    scan as a pushed filter and prunes branches via a broadcast semi-join
    before the dedup window; the response predicate prunes services before
    the service × branch fan-out — the cards fan-out is never materialized
    for out-of-scope rows (the round-3 shape filtered ABOVE the window, so
    the whole fan-out ran to return ~100 rows)."""
    from ..pipelines.derive import card_search  # noqa: PLC0415

    cards = card_search(spark, sf_dir, "NATION_3", "responses:economy")
    return cards.filter(F.col("response_ids").contains("responses:economy")).select(
        "card_key", "service_id", "branch_id", "organization_name", "response_ids"
    )


Q36_SQL = _DERIVE_CTES + """
SELECT card_key, service_id, branch_id, organization_name, response_ids
FROM cards
WHERE branch_city = 'NATION_3' AND response_ids LIKE '%responses:economy%'
"""


REGISTRY: dict[str, QueryDef] = {
    "q01_pricing_summary": QueryDef(q01_pricing_summary, Q01_SQL, "A1 A9 F12 P6"),
    "q02_filter_project": QueryDef(q02_filter_project, Q02_SQL, "P1 P2 P6"),
    "q03_left_join_enrich": QueryDef(q03_left_join_enrich, Q03_SQL, "J1"),
    "q04_revenue_by_nation": QueryDef(q04_revenue_by_nation, Q04_SQL, "J2 J6 A1"),
    "q05_brand_agg": QueryDef(q05_brand_agg, Q05_SQL, "J6 A1"),
    "q06_upsert_status": QueryDef(q06_upsert_status, Q06_SQL, "J3 K6 §2.10"),
    "q07_collect_set_join": QueryDef(q07_collect_set_join, Q07_SQL, "J4 J5 A2"),
    "q08_count_per_key": QueryDef(q08_count_per_key, Q08_SQL, "A1"),
    "q09_two_level_agg": QueryDef(q09_two_level_agg, Q09_SQL, "A3"),
    "q10_mode_priority": QueryDef(q10_mode_priority, Q10_SQL, "A5 O5"),
    "q11_window_topk": QueryDef(q11_window_topk, Q11_SQL, "W2 O5"),
    "q12_group_count_window": QueryDef(q12_group_count_window, Q12_SQL, "W3"),
    "q13_latest_per_user": QueryDef(q13_latest_per_user, Q13_SQL, "O3"),
    "q14_dedup_composite_key": QueryDef(q14_dedup_composite_key, Q14_SQL, "A8"),
    "q15_union_parties": QueryDef(q15_union_parties, Q15_SQL, "U1 U3"),
    "q16_explode_tokens": QueryDef(q16_explode_tokens, Q16_SQL, "U4"),
    "q17_sessionize": QueryDef(q17_sessionize, Q17_SQL, "W4 §2.12-ext"),
    "q18_date_math": QueryDef(q18_date_math, Q18_SQL, "F11"),
    "q19_score_math": QueryDef(q19_score_math, Q19_SQL, "F12"),
    "q20_surrogate_ids": QueryDef(q20_surrogate_ids, Q20_SQL, "F22 F23"),
    "q21_taxonomy_parents": QueryDef(q21_taxonomy_parents, Q21_SQL, "F14 U4"),
    "q22_exact_dedup": QueryDef(q22_exact_dedup, Q22_SQL, "dedup-exact A6"),
    "q23_text_features": QueryDef(q23_text_features, Q23_SQL, "text-quality F24"),
    "q24_lang_id": QueryDef(q24_lang_id, Q24_SQL, "text-langid F25"),
    "q25_fingerprint": QueryDef(q25_fingerprint, Q25_SQL, "text-fingerprint F22"),
    "q26_minhash_dedup": QueryDef(q26_minhash_dedup, Q26_SQL, "dedup-minhash-lsh"),
    "q27_simhash_pairs": QueryDef(q27_simhash_pairs, Q27_SQL, "dedup-simhash"),
    "q28_jaccard_pairs": QueryDef(q28_jaccard_pairs, Q28_SQL, "dedup-jaccard J7"),
    "q29_topk_cosine": QueryDef(q29_topk_cosine, Q29_SQL, "similarity-bruteforce"),
    "q30_lsh_topk": QueryDef(q30_lsh_topk, Q30_SQL, "similarity-lsh"),
    "q31_centroids": QueryDef(q31_centroids, Q31_SQL, "similarity-ivf-centroids"),
    "q32_tumbling_window": QueryDef(q32_tumbling_window, Q32_SQL, "streaming-batch-twin"),
    "q33_filter_with_stats": QueryDef(q33_filter_with_stats, Q33_SQL, "P7 A9"),
    "q34_derive_flat_branches": QueryDef(q34_derive_flat_branches, Q34_SQL, "J1 J2 A6 W3 P9 §3.1"),
    "q35_derive_cards": QueryDef(q35_derive_cards, Q35_SQL, "J2 J4 U4 A8 F13 F14 F22 §3.1"),
    "q36_card_search": QueryDef(q36_card_search, Q36_SQL, "§7.1 flagship"),
}
