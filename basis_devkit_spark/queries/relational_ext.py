"""Extended §2.B coverage: subqueries (decorrelation), HAVING, additional
scalar-function families, median, multi-distinct — plus the SQL-node
execution path itself (spark.sql over registered views), proving the
delegated-SQL surface end-to-end."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_devkit_spark.queries import load, register, scratch_root
from basis_devkit_spark.queries.relational import drev, dsum_expr


def _views(spark: SparkSession, sf: str, *tables: str) -> None:
    for t in tables:
        load(spark, sf, t).createOrReplaceTempView(t)


@register(
    "b14b_in_subquery",
    """
    select o_orderkey, o_totalprice from orders
    where o_custkey in (select c_custkey from customer where c_acctbal > 9000)
    """,
    doc="IN-subquery → semi join (Catalyst decorrelation), via the SQL-node path",
)
def b14b(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "orders", "customer")
    return spark.sql(
        """
        select o_orderkey, o_totalprice from orders
        where o_custkey in (select c_custkey from customer where c_acctbal > 9000)
        """
    )


@register(
    "b14c_scalar_subquery",
    """
    select c_custkey, c_acctbal from customer
    where c_acctbal > (select avg(c_acctbal) from customer)
    """,
    doc="scalar subquery in predicate",
)
def b14c(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "customer")
    return spark.sql(
        """
        select c_custkey, c_acctbal from customer
        where c_acctbal > (select avg(c_acctbal) from customer)
        """
    )


@register(
    "b14d_not_exists",
    """
    select c_custkey from customer c
    where not exists (select 1 from orders o
                      where o.o_custkey = c.c_custkey and o.o_totalprice > 100000)
    """,
    doc="correlated NOT EXISTS → anti join",
)
def b14d(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "customer", "orders")
    return spark.sql(
        """
        select c_custkey from customer c
        where not exists (select 1 from orders o
                          where o.o_custkey = c.c_custkey and o.o_totalprice > 100000)
        """
    )


@register(
    "b20b_having",
    """
    select o_custkey, count(*) as n_orders
    from orders group by o_custkey having count(*) >= 12
    """,
)
def b20b(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "b21b_multi_distinct",
    """
    select l_returnflag,
           count(distinct l_suppkey) as n_supp,
           count(distinct l_partkey) as n_part,
           count(*) as n
    from lineitem group by l_returnflag
    """,
    doc="two distinct aggregates in one group-by (expand-based plan)",
)
def b21b(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count("*").alias("n"),
        )
    )


@register(
    "b24b_median",
    """
    select l_returnflag, median(l_quantity) as med_qty from lineitem
    group by l_returnflag
    """,
)
def b24b(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.median("l_quantity").alias("med_qty"))
    )


@register(
    "b39b_string_funcs2",
    """
    select p_partkey,
           instr(p_name, 'a') as first_a,
           translate(p_type, 'AEIOU', 'aeiou') as type_tr,
           levenshtein(p_brand, 'Brand#1') as brand_dist,
           repeat(p_brand, 2) as brand2,
           ltrim(rtrim(concat(' ', p_name, ' '))) as name_trim,
           split_part(p_type, ' ', 1) as type_head
    from part
    """,
)
def b39b(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.instr("p_name", "a").alias("first_a"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_tr"),
        F.levenshtein("p_brand", F.lit("Brand#1")).alias("brand_dist"),
        F.repeat("p_brand", 2).alias("brand2"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_head"),
    )


@register(
    "b40b_date_trunc_variants",
    """
    select o_orderkey,
           cast(date_trunc('week', o_orderdate) as timestamp) as wk,
           cast(date_trunc('quarter', o_orderdate) as timestamp) as qtr,
           cast(date_trunc('year', o_orderdate) as timestamp) as yr_start,
           cast(last_day(cast(o_orderdate as date)) as date) as month_end,
           cast(quarter(o_orderdate) as int) as q
    from orders
    """,
)
def b40b(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("week", "o_orderdate").alias("wk"),
        F.date_trunc("quarter", "o_orderdate").alias("qtr"),
        F.date_trunc("year", "o_orderdate").alias("yr_start"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.quarter("o_orderdate").alias("q"),
    )


@register(
    "b42c_sequence_ops",
    """
    select n_nationkey,
           array_to_string(generate_series(1, 3), ',') as seq3,
           len(generate_series(0, n_nationkey, 5)) as n_steps
    from nation
    """,
    doc="sequence generation + array length over it",
)
def b42c(spark: SparkSession, sf: str) -> DataFrame:
    n = load(spark, sf, "nation")
    return n.select(
        "n_nationkey",
        F.concat_ws(",", F.sequence(F.lit(1), F.lit(3))).alias("seq3"),
        F.size(F.sequence(F.lit(0), F.col("n_nationkey"), F.lit(5))).alias("n_steps"),
    )


@register(
    "b36b_union_all",
    """
    select k, src from (
      select o_custkey as k, 'orders' as src from orders where o_totalprice > 400000
      union all
      select c_custkey as k, 'customer' as src from customer where c_acctbal > 9900
    ) t
    """,
)
def b36b(spark: SparkSession, sf: str) -> DataFrame:
    a = (
        load(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("k"), F.lit("orders").alias("src"))
    )
    b = (
        load(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_custkey").alias("k"), F.lit("customer").alias("src"))
    )
    return a.unionByName(b)


@register(
    "d01b_text_exact_dedup",
    """
    select doc_id from (
      select doc_id, row_number() over (partition by md5(text) order by doc_id) rn
      from documents) t
    where rn = 1
    """,
    doc="exact-content dedup via hash-groupBy (keep lowest id)",
)
def d01b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import exact_dedup

    d = load(spark, sf, "documents").withColumn("__h", F.md5("text"))
    return exact_dedup(d, ["__h"], order_by="doc_id", keep="first").select("doc_id")


@register(
    "b28b_pivot_sum",
    """
    select l_linestatus,
           cast(sum(cast(case when l_returnflag = 'A' then l_quantity else 0 end
                as decimal(18,2))) as double) as A,
           cast(sum(cast(case when l_returnflag = 'N' then l_quantity else 0 end
                as decimal(18,2))) as double) as N,
           cast(sum(cast(case when l_returnflag = 'R' then l_quantity else 0 end
                as decimal(18,2))) as double) as R
    from lineitem group by l_linestatus
    """,
)
def b28b(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .na.fill(0.0, ["A", "N", "R"])
    )


@register(
    "b26c_grouping_sets",
    """
    select coalesce(l_returnflag, 'ALL') as l_returnflag,
           coalesce(l_linestatus, 'ALL') as l_linestatus,
           count(*) as n
    from lineitem
    group by grouping sets ((l_returnflag), (l_linestatus), ())
    """,
    doc="explicit GROUPING SETS through the SQL surface",
)
def b26c(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "lineitem")
    return spark.sql(
        """
        select coalesce(l_returnflag, 'ALL') as l_returnflag,
               coalesce(l_linestatus, 'ALL') as l_linestatus,
               count(*) as n
        from lineitem
        group by grouping sets ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "b41b_trig_funcs",
    """
    select l_orderkey, l_linenumber,
           round(sin(l_discount), 6) as s,
           round(cos(l_tax), 6) as c,
           round(atan2(l_discount, l_tax + 0.01), 6) as a2,
           round(degrees(l_discount), 6) as deg,
           round(radians(l_quantity), 6) as rad
    from lineitem
    """,
)
def b41b(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin("l_discount"), 6).alias("s"),
        F.round(F.cos("l_tax"), 6).alias("c"),
        F.round(F.atan2(F.col("l_discount"), F.col("l_tax") + 0.01), 6).alias("a2"),
        F.round(F.degrees("l_discount"), 6).alias("deg"),
        F.round(F.radians("l_quantity"), 6).alias("rad"),
    )


@register(
    "b40c_extract",
    """
    select o_orderkey,
           cast(extract(year from o_orderdate) as int) as y,
           cast(extract(month from o_orderdate) as int) as m,
           cast(extract(day from o_orderdate) as int) as d,
           cast(extract(hour from o_orderdate) as int) as h
    from orders
    """,
)
def b40c(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "orders")
    return spark.sql(
        """
        select o_orderkey,
               cast(extract(year from o_orderdate) as int) as y,
               cast(extract(month from o_orderdate) as int) as m,
               cast(extract(day from o_orderdate) as int) as d,
               cast(extract(hour from o_orderdate) as int) as h
        from orders
        """
    )


_B51_SQL = """
    with recursive months(m) as (
      select cast('1995-01-01' as date)
      union all
      select cast(m + interval 1 month as date) from months
      where m < cast('2001-12-01' as date)
    )
    select m as month, count(o.o_orderkey) as n_orders
    from months
    left join orders o on cast(date_trunc('month', o.o_orderdate) as date) = m
    group by m
"""


@register(
    "b51_recursive_cte",
    """
    with recursive months(m) as (
      select cast('1995-01-01' as date)
      union all
      select cast(m + interval 1 month as date) from months
      where m < cast('2001-12-01' as date)
    )
    select m as month, count(o.o_orderkey) as n_orders
    from months
    left join orders o on cast(date_trunc('month', o.o_orderdate) as date) = m
    group by m
    """,
    doc="recursive CTE (Spark 4 WITH RECURSIVE): month series spanning the "
    "order-date range, gap-filling left join — months with zero orders "
    "appear with n_orders=0; identical SQL runs on both engines",
)
def b51(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "orders")
    return spark.sql(_B51_SQL)


@register(
    "b52_ntile_ignore_nulls",
    """
    with src as (
      select o_orderkey, o_custkey,
             case when o_orderkey % 7 = 0 then null else o_totalprice end
               as price
      from orders where o_orderkey < 2000
    )
    select o_orderkey,
           ntile(4) over (order by o_orderkey) as quartile,
           lag(price ignore nulls) over (order by o_orderkey)
             as prev_price,
           last_value(price ignore nulls) over (
             order by o_orderkey
             rows between unbounded preceding and current row)
             as last_seen_price
    from src
    """,
    doc="ntile bucketing + IGNORE NULLS lag/last_value (gap-carry-forward) "
    "— the null-skipping window variants b29-b32 don't cover",
)
def b52(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "orders")
    return spark.sql(
        """
        with src as (
          select o_orderkey, o_custkey,
                 case when o_orderkey % 7 = 0 then null else o_totalprice end
                   as price
          from orders where o_orderkey < 2000
        )
        select o_orderkey,
               ntile(4) over (order by o_orderkey) as quartile,
               lag(price) ignore nulls over (order by o_orderkey)
                 as prev_price,
               last_value(price) ignore nulls over (
                 order by o_orderkey
                 rows between unbounded preceding and current row)
                 as last_seen_price
        from src
        """
    )


@register(
    "b53_unpivot",
    """
    with src as (
      select o_orderkey,
             cast(o_totalprice as double) as price,
             cast(o_custkey as double) as custkey_v
      from orders where o_orderkey < 1000
    )
    select o_orderkey, kind, val
    from src unpivot (val for kind in (price, custkey_v))
    """,
    doc="UNPIVOT (wide->long, the dual of b28's pivot) — identical "
    "SQL-standard syntax on both engines",
)
def b53(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_custkey").cast("double").alias("custkey_v"),
    ).unpivot(
        ids=["o_orderkey"],
        values=["price", "custkey_v"],
        variableColumnName="kind",
        valueColumnName="val",
    )


@register(
    "b54_lateral_join",
    """
    select c.c_custkey, t.n_orders, t.max_price
    from customer c, lateral (
      select count(*) as n_orders,
             coalesce(max(o_totalprice), 0.0) as max_price
      from orders where o_custkey = c.c_custkey
    ) t
    where c.c_custkey < 300
    """,
    doc="correlated LATERAL subquery in FROM (per-row derived table) — "
    "identical SQL on both engines; Catalyst decorrelates to a join",
)
def b54(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "customer", "orders")
    return spark.sql(
        """
        select c.c_custkey, t.n_orders, t.max_price
        from customer c, lateral (
          select count(*) as n_orders,
                 coalesce(max(o_totalprice), 0.0) as max_price
          from orders where o_custkey = c.c_custkey
        ) t
        where c.c_custkey < 300
        """
    )


@register(
    "b55_try_functions",
    """
    select l_orderkey, l_linenumber,
           l_extendedprice / nullif(l_quantity - l_quantity, 0) as safe_div0,
           floor((l_extendedprice / nullif(l_quantity, 0)) * 10000) / 10000
             as unit_price,
           try_cast(l_returnflag as integer) as flag_as_int,
           try_cast(cast(l_linenumber as varchar) as integer) as qty_int
    from lineitem where l_orderkey < 500
    """,
    doc="ANSI-safe arithmetic idioms: try_divide/try_cast return NULL "
    "where ANSI mode would raise (the driver's session is ANSI-on) — "
    "division by zero, bad casts; DuckDB mirrors with nullif + try_cast",
)
def b55(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity")
        ).alias("safe_div0"),
        (
            F.floor(
                F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
                * 10000
            )
            / 10000
        ).alias("unit_price"),  # floor-truncate: round() half-way ties differ across engines
        F.expr("try_cast(l_returnflag as int)").alias("flag_as_int"),
        F.expr("try_cast(cast(l_linenumber as string) as int)").alias("qty_int"),
    )


@register(
    "b39c_edit_distance",
    """
    select a.doc_id as doc_id,
           levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) as edit_dist,
           levenshtein(a.lang, b.lang) as lang_dist
    from documents a join documents b on b.doc_id = a.doc_id + 1
    """,
    doc="Levenshtein edit distance between consecutive docs' prefixes — "
    "the classic fuzzy-match primitive (identical DP semantics in Spark "
    "and DuckDB)",
)
def b39c(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    a = d.select(
        F.col("doc_id"), F.substring("text", 1, 40).alias("pa"), F.col("lang").alias("la")
    )
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.substring("text", 1, 40).alias("pb"),
        F.col("lang").alias("lb"),
    )
    return a.join(b, "doc_id").select(
        "doc_id",
        F.levenshtein("pa", "pb").alias("edit_dist"),
        F.levenshtein("la", "lb").alias("lang_dist"),
    )


@register(
    "b56_bitwise_ops",
    """
    select l_orderkey, l_partkey,
           l_orderkey & 255 as and_v,
           l_orderkey | 15 as or_v,
           xor(l_orderkey, l_partkey) as xor_v,
           l_orderkey >> 2 as shr_v,
           cast(bit_count(l_orderkey) as int) as bits
    from lineitem where l_orderkey < 200
    """,
    doc="bitwise AND/OR/XOR/shift/popcount — partition-bucketing and "
    "bitmap-index arithmetic on int keys",
)
def b56(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_partkey",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("and_v"),
        F.col("l_orderkey").bitwiseOR(F.lit(15)).alias("or_v"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).alias("xor_v"),
        F.shiftright("l_orderkey", 2).alias("shr_v"),
        F.bit_count("l_orderkey").alias("bits"),
    )


@register(
    "b57_orc_roundtrip",
    """
    select n_nationkey, n_name, n_regionkey from nation
    """,
    doc="ORC source/sink round-trip: write the nation table to ORC, scan "
    "it back — content must equal the parquet relation exactly (Spark "
    "ships the ORC reader natively; pushdown/pruning apply as on parquet)",
)
def b57(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.sources import read_orc, write_orc

    n = load(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = scratch_root("bds_orc_") + "/nation.orc"
    write_orc(n, path)
    return read_orc(spark, path)


@register(
    "b58_url_funcs",
    r"""
    with u as (
      select doc_id,
             'https://' || source || '.example.com/docs/' ||
               cast(doc_id as varchar) || '?lang=' || lang as url
      from documents
    )
    select doc_id,
           regexp_extract(url, '^([a-z]+)://', 1) as proto,
           regexp_extract(url, '://([^/]+)/', 1) as host,
           regexp_extract(url, '://[^/]+(/[^?]*)', 1) as path,
           regexp_extract(url, '\?(.*)$', 1) as query
    from u
    """,
    doc="URL parsing (protocol/host/path/query) via Spark's parse_url — "
    "the per-domain-stats primitive for web-crawl corpora; DuckDB oracle "
    "recomputes the components with regexes",
)
def b58(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
    )


@register(
    "b59_tpch_q5_regional_revenue",
    """
    select n_name,
           cast(sum((cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4))))
                as double) as revenue
    from customer, orders, lineitem, supplier, nation, region
    where c_custkey = o_custkey
      and l_orderkey = o_orderkey
      and l_suppkey = s_suppkey
      and c_nationkey = s_nationkey
      and s_nationkey = n_nationkey
      and n_regionkey = r_regionkey
      and r_name = 'ASIA'
      and o_orderdate >= '1996-01-01' and o_orderdate < '1997-01-01'
    group by n_name
    """,
    doc="TPC-H Q5-style 6-way join (region->nation->supplier dims "
    "broadcast; customer><orders and ><lineitem are the only two "
    "shuffles — the plan that survives a 100TB fact table)",
)
def b59(spark: SparkSession, sf: str) -> DataFrame:
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load(spark, sf, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    co = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    facts = li.join(co, F.col("l_orderkey") == F.col("o_orderkey"))
    joined = facts.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")).filter(
        F.col("c_nationkey") == F.col("s_nationkey")
    )
    return joined.groupBy("n_name").agg(
        F.sum(drev()).cast("double").alias(
            "revenue"
        )
    )


@register(
    "b60_tpch_q10_returned_items",
    """
    select c_custkey, c_name, n_name,
           cast(sum((cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4))))
                as double) as revenue
    from customer, orders, lineitem, nation
    where c_custkey = o_custkey
      and l_orderkey = o_orderkey
      and o_orderdate >= '1996-07-01' and o_orderdate < '1996-10-01'
      and l_returnflag = 'R'
      and c_nationkey = n_nationkey
    group by c_custkey, c_name, n_name
    order by revenue desc, c_custkey
    limit 20
    """,
    doc="TPC-H Q10-style returned-item revenue: fact-fact shuffle join + "
    "broadcast customer-nation dim, decimal-exact revenue, "
    "deterministic top-20 (revenue desc, custkey tie-break)",
)
def b60(spark: SparkSession, sf: str) -> DataFrame:
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    c = load(spark, sf, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "n_name")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    facts = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        facts.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(drev()).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "b61_tpch_q18_large_orders",
    """
    with big as (
      select l_orderkey
      from lineitem group by l_orderkey
      having sum(l_quantity) > 300
    )
    select c_custkey, o_orderkey, o_orderdate,
           cast(sum(cast(l_quantity as decimal(18,2))) as double) as total_qty
    from customer, orders, lineitem
    where o_orderkey in (select l_orderkey from big)
      and c_custkey = o_custkey
      and o_orderkey = l_orderkey
    group by c_custkey, o_orderkey, o_orderdate
    order by total_qty desc, o_orderkey
    limit 20
    """,
    doc="TPC-H Q18-style: aggregate-derived key set (HAVING sum>300) "
    "semi-joined back to the fact chain, top-20 by total quantity — the "
    "agg-subquery composite; lineitem aggregates map-side before either "
    "join",
)
def b61(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 300)
        .select("l_orderkey")
    )
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load(spark, sf, "customer").select("c_custkey")
    flt = li.join(big.withColumnRenamed("l_orderkey", "__bk"),
                  F.col("l_orderkey") == F.col("__bk"), "left_semi")
    joined = flt.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        joined.groupBy("c_custkey", "o_orderkey", "o_orderdate")
        .agg(dsum_expr(F.col("l_quantity")).alias("total_qty"))
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "b62_tpch_q14_type_revenue_share",
    """
    select round(
      100.0 * cast(sum(case when p_type = 'ECONOMY'
                   then (cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4)))
                   else cast(0 as decimal(18,2)) end) as double)
            / cast(sum((cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4))))
                   as double), 6) as economy_share
    from lineitem, part
    where l_partkey = p_partkey
      and l_shipdate >= '1997-01-01' and l_shipdate < '1997-02-01'
    """,
    doc="TPC-H Q14-style conditional revenue share: broadcast part dim, "
    "single-pass conditional decimal sums, scalar ratio output",
)
def b62(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-02-01")
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load(spark, sf, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    rev = drev()  # exact decimal product — no .005-boundary rounding
    eco = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0).cast("decimal(18,2)"))
    return j.agg(
        F.round(
            100.0 * F.sum(eco).cast("double") / F.sum(rev).cast("double"), 6
        ).alias("economy_share")
    )


@register(
    "b63_tpch_q7_nation_trade",
    """
    select n1.n_name as supp_nation, n2.n_name as cust_nation,
           cast(year(l_shipdate) as int) as l_year,
           cast(sum((cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4))))
                as double) as volume
    from supplier, lineitem, orders, customer, nation n1, nation n2
    where s_suppkey = l_suppkey
      and o_orderkey = l_orderkey
      and c_custkey = o_custkey
      and s_nationkey = n1.n_nationkey
      and c_nationkey = n2.n_nationkey
      and ((n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
        or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1'))
      and l_shipdate >= '1996-01-01' and l_shipdate < '1998-01-01'
    group by supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7-style bilateral trade volume: both nation dims broadcast "
    "onto their fact side, cross-filter on the name pair, per-year decimal "
    "volume — the two-sided-dim composite",
)
def b63(spark: SparkSession, sf: str) -> DataFrame:
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    s = load(spark, sf, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = load(spark, sf, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        F.sum(drev()).cast("double").alias("volume")
    )


@register(
    "b64_tpch_q19_disjunctive_filter",
    """
    select cast(sum((cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4))))
                as double) as revenue,
           count(*) as n_rows
    from lineitem, part
    where l_partkey = p_partkey
      and ((p_type = 'ECONOMY' and p_size between 1 and 15
            and l_quantity between 1 and 20)
        or (p_type = 'SMALL' and p_size between 10 and 30
            and l_quantity between 10 and 40))
    """,
    doc="TPC-H Q19-style disjunctive join filter: OR of conjunct groups "
    "over both sides — Catalyst pushes the per-side disjunction residuals "
    "into the scans; broadcast part dim",
)
def b64(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf, "part").select("p_partkey", "p_type", "p_size")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (F.col("p_type") == "ECONOMY")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_type") == "SMALL")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return j.filter(cond).agg(
        F.sum(drev()).cast("double").alias("revenue"),
        F.count("*").alias("n_rows"),
    )


@register(
    "b65_tpch_q4_priority_check",
    """
    select o_orderpriority, count(*) as order_count
    from orders
    where o_orderdate >= '1997-01-01' and o_orderdate < '1997-04-01'
      and exists (select 1 from lineitem
                  where l_orderkey = o_orderkey
                    and l_shipdate > o_orderdate + interval 30 day)
    group by o_orderpriority
    """,
    doc="TPC-H Q4-style order-priority check: correlated EXISTS with a "
    "non-equi date condition (line shipped >30 days after order) → "
    "left-semi hash join with residual condition; the orders date filter "
    "is pushed into the scan (adapted: testdata has no l_commitdate/"
    "l_receiptdate, so 'late' = shipped >30 days after o_orderdate)",
)
def b65(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 30 days")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "b66_tpch_q13_order_distribution",
    """
    select c_count, count(*) as custdist
    from (select c_custkey, count(o_orderkey) as c_count
          from customer left outer join orders
            on c_custkey = o_custkey and o_orderpriority <> '1-URGENT'
          group by c_custkey) t
    group by c_count
    """,
    doc="TPC-H Q13-style customer order-count distribution: left outer "
    "join with a compound join condition (priority filter lives IN the "
    "join, preserving zero-order customers), count(non-null) per customer, "
    "then a second agg over the counts — the join-preserving-histogram "
    "composite",
)
def b66(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select("c_custkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "b67_tpch_q17_small_qty_revenue",
    """
    select cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / 7.0
           as avg_yearly
    from lineitem, part
    where p_partkey = l_partkey
      and p_brand = (select min(p_brand) from part)
      and p_size < 15
      and l_quantity < (select 0.5 * avg(l_quantity)
                        from lineitem l2 where l2.l_partkey = p_partkey)
    """,
    doc="TPC-H Q17-style small-quantity revenue: per-part correlated AVG "
    "subquery decorrelated into a pre-aggregated broadcast dim (one hash "
    "agg over lineitem grouped by partkey, then broadcast-joined back — "
    "lineitem itself never shuffles); the brand is itself a scalar "
    "subquery so the query is SF-independent",
)
def b67(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    min_brand = p.agg(F.min("p_brand").alias("__mb"))
    psel = (
        p.join(F.broadcast(min_brand))
        .filter((F.col("p_brand") == F.col("__mb")) & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("__thresh")
    ).withColumnRenamed("l_partkey", "__pk")
    j = (
        li.join(F.broadcast(psel), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(part_avg.join(
            F.broadcast(psel), F.col("__pk") == F.col("p_partkey"), "left_semi"
        )), F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__thresh"))
    )
    return j.agg(
        (dsum_expr(F.col("l_extendedprice")) / 7.0).alias("avg_yearly")
    )


@register(
    "b68_tpch_q22_dormant_customers",
    """
    select c_nationkey, count(*) as numcust,
           cast(sum(cast(c_acctbal as decimal(18,2))) as double) as totacctbal
    from customer
    where c_acctbal > (select avg(c_acctbal) from customer where c_acctbal > 0)
      and not exists (select 1 from orders
                      where o_custkey = c_custkey
                        and o_orderpriority = '1-URGENT')
    group by c_nationkey
    """,
    doc="TPC-H Q22-style dormant-customer roll-up: scalar AVG subquery as "
    "a broadcast filter + NOT EXISTS anti-join against urgent orders, "
    "grouped by nation (adapted: testdata has no c_phone, so the TPC-H "
    "country-code substring becomes c_nationkey; 'no orders at all' is "
    "empty here, so dormant = no 1-URGENT orders)",
)
def b68(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    urgent = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("__avg"))
    dormant = rich.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        dsum_expr(F.col("c_acctbal")).alias("totacctbal"),
    )


@register(
    "b69_tpch_q15_top_supplier",
    """
    with rev as (
      select l_suppkey,
             cast(sum((cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4))))
                  as double) as total_revenue
      from lineitem
      where l_shipdate >= '1997-01-01' and l_shipdate < '1997-04-01'
      group by l_suppkey
    )
    select s_suppkey, s_name, total_revenue
    from supplier, rev
    where s_suppkey = l_suppkey
      and total_revenue = (select max(total_revenue) from rev)
    """,
    doc="TPC-H Q15-style top supplier: revenue view reused twice (per-"
    "supplier agg + its own MAX as a scalar broadcast) — the self-"
    "referencing-view composite; exact equality on the decimal-summed "
    "revenue is sound in both engines",
)
def b69(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(drev()).cast("double").alias(
            "total_revenue"
        )
    )
    rev = rev.persist()
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "b70_tpch_q21_waiting_supplier",
    """
    select s_name, count(*) as numwait
    from supplier, lineitem l1, orders
    where s_suppkey = l1.l_suppkey
      and o_orderkey = l1.l_orderkey
      and o_orderstatus = 'F'
      and l1.l_shipdate > o_orderdate + interval 60 day
      and exists (select 1 from lineitem l2
                  where l2.l_orderkey = l1.l_orderkey
                    and l2.l_suppkey <> l1.l_suppkey)
      and not exists (select 1 from lineitem l3
                      where l3.l_orderkey = l1.l_orderkey
                        and l3.l_suppkey <> l1.l_suppkey
                        and l3.l_shipdate > o_orderdate + interval 60 day)
    group by s_name
    """,
    doc="TPC-H Q21-style waiting supplier: EXISTS (another supplier in the "
    "order) + NOT EXISTS (no OTHER supplier was also late) — the double-"
    "correlated-quantifier composite; both quantifiers become one hash "
    "semi/anti join pair on l_orderkey with residual suppkey/date "
    "conditions (adapted: 'late' = shipped >60 days after o_orderdate)",
)
def b70(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l1 = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days"))
    )
    l2 = li.select(
        F.col("l_orderkey").alias("__k2"), F.col("l_suppkey").alias("__s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("__k3"),
        F.col("l_suppkey").alias("__s3"),
        F.col("l_shipdate").alias("__d3"),
    )
    waiting = l1.join(
        l2,
        (F.col("__k2") == F.col("l_orderkey")) & (F.col("__s2") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("__k3") == F.col("l_orderkey"))
        & (F.col("__s3") != F.col("l_suppkey"))
        & (F.col("__d3") > F.col("o_orderdate") + F.expr("interval 60 days")),
        "left_anti",
    )
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "b71_tpch_q6_forecast_revenue",
    """
    select cast(sum(cast(l_extendedprice * l_discount as decimal(18,4)))
                as double) as revenue
    from lineitem
    where l_shipdate >= '1997-01-01' and l_shipdate < '1998-01-01'
      and l_discount between 0.05 and 0.07 and l_quantity < 24
    """,
    doc="TPC-H Q6: pure scan-filter-aggregate — every predicate pushes "
    "into the parquet scan, one partial+final agg, zero joins; the "
    "whole-stage-codegen sanity row",
)
def b71(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
        )
        .cast("double")
        .alias("revenue")
    )


@register(
    "b72_tpch_q8_market_share",
    """
    select o_year,
      floor(cast(sum(case when nation = 'NATION_1' then volume
                     else cast(0 as decimal(18,2)) end) as double)
            / cast(sum(volume) as double) * 1000000.0 + 0.5) / 1000000.0
        as mkt_share
    from (select cast(year(o_orderdate) as int) as o_year,
                 (cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4)))
                   as volume,
                 n2.n_name as nation
          from part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
          where p_partkey = l_partkey and s_suppkey = l_suppkey
            and l_orderkey = o_orderkey and o_custkey = c_custkey
            and c_nationkey = n1.n_nationkey
            and n1.n_regionkey = r_regionkey and r_name = 'ASIA'
            and s_nationkey = n2.n_nationkey
            and o_orderdate >= '1996-01-01' and o_orderdate < '1998-01-01'
            and p_type = 'ECONOMY') t
    group by o_year
    """,
    doc="TPC-H Q8-style national market share: seven-table snowflake — "
    "every dim chain (part; supplier→nation; customer→nation→region) "
    "broadcasts onto the fact spine lineitem→orders, which shuffles only "
    "for the orders key join; conditional decimal share with explicit "
    "IEEE rounding",
)
def b72(spark: SparkSession, sf: str) -> DataFrame:
    n = load(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    cust = (
        load(spark, sf, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                n.join(F.broadcast(r), n.n_regionkey == F.col("r_regionkey"))
                .select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
    )
    supp = load(spark, sf, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("__snk"),
                             F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("__snk"),
    ).select("s_suppkey", "nation")
    p = load(spark, sf, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    vol = drev()  # exact decimal product — no .005-boundary rounding
    nat_vol = F.when(F.col("nation") == "NATION_1", vol).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    share = (
        F.sum(nat_vol).cast("double") / F.sum(vol).cast("double") * 1000000.0
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((F.floor(share + 0.5) / 1000000.0).alias("mkt_share"))
    )


@register(
    "b73_intersect_except_all",
    """
    with i as (
      select o_custkey as k from orders where o_orderstatus = 'F'
      intersect all
      select o_custkey as k from orders where o_orderstatus = 'O'
    ), e as (
      select o_custkey as k from orders where o_orderstatus = 'F'
      except all
      select o_custkey as k from orders where o_orderstatus = 'O'
    )
    select 'intersect_all' as op, k, count(*) as n from i group by k
    union all
    select 'except_all', k, count(*) from e group by k
    """,
    doc="INTERSECT ALL / EXCEPT ALL multiset semantics (duplicate "
    "multiplicities min'd / subtracted, not collapsed) — "
    "df.intersectAll/exceptAll; counts grouped so the multiplicities "
    "themselves are what the oracle checks",
)
def b73(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    i = f.intersectAll(op).groupBy("k").agg(F.count("*").alias("n")).select(
        F.lit("intersect_all").alias("op"), "k", "n"
    )
    e = f.exceptAll(op).groupBy("k").agg(F.count("*").alias("n")).select(
        F.lit("except_all").alias("op"), "k", "n"
    )
    return i.unionByName(e)


@register(
    "b74_tpch_q9_profit",
    """
    select nation, o_year,
           cast(sum((cast(l_extendedprice as decimal(12,2))
                     * cast(1 - l_discount as decimal(6,4)))
                    - (cast(p_retailprice as decimal(12,2))
                       * cast(l_quantity as decimal(8,0))
                       * cast(0.6 as decimal(2,1)))) as double) as profit
    from (select n_name as nation, cast(year(o_orderdate) as int) as o_year,
                 l_extendedprice, l_discount, p_retailprice, l_quantity
          from lineitem, part, supplier, orders, nation
          where s_suppkey = l_suppkey and p_partkey = l_partkey
            and o_orderkey = l_orderkey and s_nationkey = n_nationkey
            and p_name like '%a%') t
    group by nation, o_year
    """,
    doc="TPC-H Q9-style product-type profit by nation and year (adapted: "
    "no partsupp in testdata, so supply cost = 0.6 * p_retailprice * "
    "qty): the scan-heaviest join tree in the suite — part (LIKE-"
    "filtered) and supplier→nation broadcast onto the lineitem→orders "
    "spine; single decimal agg by nation×year",
)
def b74(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = load(spark, sf, "part").filter(F.col("p_name").like("%a%")).select(
        "p_partkey", "p_retailprice"
    )
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    s = load(spark, sf, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    # fully-decimal profit: revenue via drev(); supply cost multiplied in
    # decimal too (retailprice 2dp × integral qty × 0.6) so no double
    # product is ever rounded to a coarser decimal scale (b75 hazard class)
    amount = drev() - (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(8,0)")
        * F.lit(0.6).cast("decimal(2,1)")
    )
    return j.groupBy(
        "nation", F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(F.sum(amount).cast("double").alias("profit"))


@register(
    "b75_tpch_q3_bench_flagship",
    """
    select o_orderkey, o_orderdate,
           cast(sum((cast(l_extendedprice as decimal(12,2))
                 * cast(1 - l_discount as decimal(6,4))))
                as double) as revenue
    from customer, orders, lineitem
    where c_mktsegment = 'BUILDING'
      and c_custkey = o_custkey and l_orderkey = o_orderkey
    group by o_orderkey, o_orderdate
    order by revenue desc, o_orderkey
    limit 10
    """,
    doc="the bench.py q3 flagship, correctness-gated: same double-"
    "broadcast dim-chain plan (lineitem never shuffles), decimal-exact "
    "revenue so the oracle hash matches bit-for-bit; ties broken by "
    "o_orderkey",
)
def b75(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    dim = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    return (
        li.join(F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(drev()).cast("double").alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "b76_topk_algebraic_rewrite",
    """
    with r as (
      select o_custkey, o_orderkey, o_totalprice,
             row_number() over (partition by o_custkey
                                order by o_totalprice desc, o_orderkey desc)
               as rn
      from orders
    )
    select o_custkey, o_orderkey, o_totalprice, cast(rn as int) as rn
    from r where rn <= 3
    """,
    doc="the bench.py window flagship's ALGEBRAIC REWRITE, correctness-"
    "gated: collect_list + sort_array(desc) + slice top-3 per customer "
    "must equal the row_number window form (struct sort orders by "
    "(o_totalprice, o_orderkey) desc — the oracle mirrors that tiebreak)",
)
def b76(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    packed = o.groupBy("o_custkey").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct("o_totalprice", "o_orderkey")), False
            ),
            1,
            3,
        ).alias("top3")
    )
    return packed.select(
        "o_custkey", F.posexplode("top3").alias("pos", "t")
    ).select(
        "o_custkey",
        F.col("t.o_orderkey").alias("o_orderkey"),
        F.col("t.o_totalprice").alias("o_totalprice"),
        (F.col("pos") + 1).cast("int").alias("rn"),
    )


@register(
    "b77_group_by_all",
    """
    select o_orderstatus, o_orderpriority,
           count(*) as n,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total
    from orders
    group by all
    """,
    doc="GROUP BY ALL (group on every non-aggregate select item — the "
    "modern SQL ergonomic both Spark 4 and DuckDB support), via the "
    "SQL-node path",
)
def b77(spark: SparkSession, sf: str) -> DataFrame:
    load(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        select o_orderstatus, o_orderpriority,
               count(*) as n,
               cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total
        from orders
        group by all
        """
    )


@register(
    "b78_numeric_profile",
    """
    select 'l_quantity' as column, count(*) as n_rows,
           cast(sum(cast(l_quantity is null as bigint)) as bigint) as n_nulls,
           count(distinct l_quantity) as n_distinct,
           cast(min(l_quantity) as double) as min_v,
           cast(max(l_quantity) as double) as max_v,
           cast(sum(cast(l_quantity as decimal(27,6))) as double) as sum_v
    from lineitem
    union all
    select 'l_extendedprice', count(*),
           cast(sum(cast(l_extendedprice is null as bigint)) as bigint),
           count(distinct l_extendedprice),
           cast(min(l_extendedprice) as double),
           cast(max(l_extendedprice) as double),
           cast(sum(cast(l_extendedprice as decimal(27,6))) as double)
    from lineitem
    union all
    select 'l_discount', count(*),
           cast(sum(cast(l_discount is null as bigint)) as bigint),
           count(distinct l_discount),
           cast(min(l_discount) as double),
           cast(max(l_discount) as double),
           cast(sum(cast(l_discount as decimal(27,6))) as double)
    from lineitem
    """,
    doc="numeric column profiling (table-health snapshot): null count, "
    "exact distinct, min/max, decimal-exact sum per column — the "
    "dbt-style profile as one unioned aggregate plan",
)
def b78(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import profile_numeric

    li = load(spark, sf, "lineitem")
    return profile_numeric(li, ["l_quantity", "l_extendedprice", "l_discount"])


@register(
    "b79_scd2_dimension_merge",
    """
    with dim as (
      select c_custkey, c_acctbal,
             timestamp '2024-01-01 00:00:00' as valid_from,
             cast(null as timestamp) as valid_to,
             true as is_current
      from customer
    ), upd as (
      select c_custkey, c_acctbal + 100.0 as c_acctbal,
             timestamp '2024-06-01 00:00:00' as effective_ts
      from customer where c_custkey % 4 = 0
    )
    select c_custkey, c_acctbal, valid_from,
           case when c_custkey % 4 = 0
                then timestamp '2024-06-01 00:00:00' end as valid_to,
           (c_custkey % 4 <> 0) as is_current
    from dim
    union all
    select c_custkey, c_acctbal, effective_ts, cast(null as timestamp), true
    from upd
    """,
    doc="SCD Type 2 dimension merge: updated keys' current rows expire at "
    "the update's effective time, updates insert as new current rows, "
    "untouched keys pass through — the warehouse dimension-maintenance "
    "pattern as one declarative plan",
)
def b79(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.joins import scd2_merge

    c = load(spark, sf, "customer").select("c_custkey", "c_acctbal")
    dim = c.select(
        "c_custkey", "c_acctbal",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = c.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("effective_ts"),
    )
    return scd2_merge(dim, upd, ["c_custkey"], "effective_ts")


@register(
    "b80_scd2_point_in_time_lookup",
    """
    with dim as (
      select c_custkey, c_acctbal,
             timestamp '1995-01-01 00:00:00' as valid_from,
             case when c_custkey % 4 = 0
                  then timestamp '1997-01-01 00:00:00' end as valid_to,
             (c_custkey % 4 <> 0) as is_current
      from customer
      union all
      select c_custkey, c_acctbal + 100.0,
             timestamp '1997-01-01 00:00:00', cast(null as timestamp), true
      from customer where c_custkey % 4 = 0
    )
    select o.o_orderkey, d.c_acctbal
    from orders o join dim d
      on o.o_custkey = d.c_custkey
     and o.o_orderdate >= d.valid_from
     and (d.valid_to is null or o.o_orderdate < d.valid_to)
    """,
    doc="point-in-time correct dimension lookup (the SCD2 consumer): "
    "each fact joins the dimension row whose validity interval contains "
    "the fact timestamp — broadcast dim, half-open [from, to) semantics "
    "so interval boundaries never double-match",
)
def b80(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select("c_custkey", "c_acctbal")
    old = c.select(
        "c_custkey", "c_acctbal",
        F.lit("1995-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.when(F.col("c_custkey") % 4 == 0,
               F.lit("1997-01-01 00:00:00").cast("timestamp")).alias("valid_to"),
        (F.col("c_custkey") % 4 != 0).alias("is_current"),
    )
    new = c.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("1997-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim = old.unionByName(new)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    return o.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
    ).select("o_orderkey", "c_acctbal")
