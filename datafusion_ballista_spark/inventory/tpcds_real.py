"""Verbatim TPC-DS queries over the real star schema.

This module and tpcds_real2..9.py are the registry's TPC-DS tier: all 99
of the reference's own TPC-DS texts (reference:
benchmarks/queries-tpcds/q1.sql..q99.sql, the suite its CI runs at SF1 —
.github/workflows/tpcds.yml:55-74), executed against the real table
names, calendar date_dim, decimal(7,2) money columns, and nullable fact
foreign keys of a committed deterministic star fixture
(tools/gen_tpcds_star.py, fixtures/tpcds_star/). The DataFrame
analogues left in inventory/tpcds.py run operators these plans do not
reach, or more nodes of one. This module holds q3/q7/q13/q19/q42/q52/q55/q88/q96/q98.

Fidelity contract: ONE SQL body per query, byte-identical on both engines
— Spark runs it over temp views, DuckDB over read_parquet CTEs — so the
correctness gate compares two engines parsing the *same verbatim text*.
The only deviations from the published queries, each forced by the
cross-engine typing rules (docs/TYPE_COMPAT.md):
- every aggregate is aliased (the driver's compare matches columns by
  name) and decimal sums/avgs are pinned to DOUBLE via the repo-standard
  ``CAST(SUM(decimal) AS DOUBLE)`` / ``ROUND(.../COUNT(*), 6)`` forms
  (Spark keeps DECIMAL where DuckDB returns DOUBLE otherwise);
- q98's ``+ INTERVAL '30 days'`` endpoint is precomputed ('2001-02-11'):
  Spark types date+interval as TIMESTAMP, DuckDB as DATE-overlapping
  semantics — the literal keeps one text valid and identical in both;
- bare DECIMAL *passthrough* output columns are pinned to DOUBLE too
  (``CAST(i_current_price AS DOUBLE)`` in q12/q20/q37/q82/q98, plus
  ``i_wholesale_cost`` in q65): round 6 proved the driver's value hash
  diverges on decimal(7,2) representation even when both engines return
  bit-identical values (CORRECTNESS_r06 q12/q20/q37 rows+schema green,
  hash red). The values are exact 2dp, so the double cast is lossless.
  The local gate now also rejects any bare DecimalType output column
  (compare.py decimal_output_columns + tests/test_inventory.py audit).

Scale: every query is fact-side shuffle + bounded dims. date_dim (1826
rows/5 years), item, store, promotion are broadcast-eligible at any SF —
at SF1000 these plans are one shuffle for the aggregate, zero for joins.
Catalyst picks broadcast automatically (no hints needed: the dims are
statically small files); pushed filters reach the store_sales scan
(tests/test_plans.py discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.sources.registry import load_table

FIXTURE_TABLES = (
    "date_dim",
    "item",
    "store_sales",
    "customer",
    "customer_address",
    "store",
    "customer_demographics",
    "household_demographics",
    "time_dim",
    "promotion",
    # v4: full-schema expansion (tools/gen_tpcds_star.py) — catalog/web
    # channels, returns, inventory, small dims
    "store_returns",
    "catalog_sales",
    "catalog_returns",
    "web_sales",
    "web_returns",
    "inventory",
    "warehouse",
    "call_center",
    "catalog_page",
    "web_site",
    "web_page",
    "ship_mode",
    "reason",
    "income_band",
)


def fixture_dir() -> str:
    """Committed star fixture; regenerated deterministically if absent
    (splitmix64-derived, bit-identical — tools/gen_tpcds_star.py).
    SPARK_GRAFT_STAR_DIR overrides the location (scratch-gate testing)."""
    d = os.environ.get("SPARK_GRAFT_STAR_DIR") or os.path.join(
        os.path.dirname(__file__), "..", "..", "fixtures", "tpcds_star"
    )
    d = os.path.abspath(d)
    if not all(
        os.path.exists(os.path.join(d, f"{t}.parquet")) for t in FIXTURE_TABLES
    ):
        import sys

        tools = os.path.join(d, "..", "..", "tools")
        sys.path.insert(0, os.path.abspath(tools))
        try:
            from gen_tpcds_star import ensure_fixture

            ensure_fixture(d)
        finally:
            sys.path.pop(0)
    return d


def _register(spark: SparkSession) -> None:
    """(Re)register the 24 fixture views on every call: other inventory
    queries legitimately bind the same names (TPC-H's ``customer``/``orders``
    vs this schema's) and view registration is a cheap catalog-only
    operation. The DataFrames come from the fixture-table cache
    (sources.registry.load_table), so each parquet schema is read once."""
    d = fixture_dir()
    for t in FIXTURE_TABLES:
        load_table(spark, d, t).createOrReplaceTempView(t)


def _oracle(body: str) -> str:
    d = fixture_dir()
    ctes = ",\n".join(
        f"{t} AS (SELECT * FROM read_parquet('{d}/{t}.parquet'))"
        for t in FIXTURE_TABLES
    )
    # A body that opens with its own WITH (q47/q59) merges into the
    # fixture CTE list — SQL allows one WITH clause per query level.
    stripped = body.lstrip()
    if stripped.lower().startswith("with "):
        return f"WITH {ctes},\n{stripped[5:]}"
    return f"WITH {ctes}\n{body}"


def _spark_runner(body: str):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        # sf is ignored by design: the real-schema fixture is its own
        # (committed, deterministic) scale point.
        _register(spark)
        return spark.sql(body)

    return run


# -- q3 (benchmarks/queries-tpcds/q3.sql, verbatim body) ---------------------
Q3_BODY = """
select  dt.d_year
       ,item.i_brand_id brand_id
       ,item.i_brand brand
       ,cast(sum(ss_ext_sales_price) as double) sum_agg
 from  date_dim dt
      ,store_sales
      ,item
 where dt.d_date_sk = store_sales.ss_sold_date_sk
   and store_sales.ss_item_sk = item.i_item_sk
   and item.i_manufact_id = 436
   and dt.d_moy=12
 group by dt.d_year
      ,item.i_brand
      ,item.i_brand_id
 order by dt.d_year
         ,sum_agg desc
         ,brand_id
 limit 100
"""

# -- q7 (q7.sql; avgs in the repo-standard exact-decimal-then-double form) ---
Q7_BODY = """
select  i_item_id,
        round(cast(sum(cast(ss_quantity as decimal(18,2))) as double) / count(*), 6) agg1,
        round(cast(sum(ss_list_price) as double) / count(*), 6) agg2,
        round(cast(sum(ss_coupon_amt) as double) / count(*), 6) agg3,
        round(cast(sum(ss_sales_price) as double) / count(*), 6) agg4
 from store_sales, customer_demographics, date_dim, item, promotion
 where ss_sold_date_sk = d_date_sk and
       ss_item_sk = i_item_sk and
       ss_cdemo_sk = cd_demo_sk and
       ss_promo_sk = p_promo_sk and
       cd_gender = 'F' and
       cd_marital_status = 'W' and
       cd_education_status = 'Primary' and
       (p_channel_email = 'N' or p_channel_event = 'N') and
       d_year = 1998
 group by i_item_id
 order by i_item_id
 limit 100
"""

# -- q19 (q19.sql) -----------------------------------------------------------
Q19_BODY = """
select  i_brand_id brand_id, i_brand brand, i_manufact_id, i_manufact,
        cast(sum(ss_ext_sales_price) as double) ext_price
 from date_dim, store_sales, item,customer,customer_address,store
 where d_date_sk = ss_sold_date_sk
   and ss_item_sk = i_item_sk
   and i_manager_id=7
   and d_moy=11
   and d_year=1999
   and ss_customer_sk = c_customer_sk
   and c_current_addr_sk = ca_address_sk
   and substr(ca_zip,1,5) <> substr(s_zip,1,5)
   and ss_store_sk = s_store_sk
 group by i_brand
      ,i_brand_id
      ,i_manufact_id
      ,i_manufact
 order by ext_price desc
         ,i_brand
         ,i_brand_id
         ,i_manufact_id
         ,i_manufact
limit 100
"""

# -- q42 (q42.sql; the unnamed sum aliased sum_ext) --------------------------
Q42_BODY = """
select  dt.d_year
        ,item.i_category_id
        ,item.i_category
        ,cast(sum(ss_ext_sales_price) as double) sum_ext
 from   date_dim dt
        ,store_sales
        ,item
 where dt.d_date_sk = store_sales.ss_sold_date_sk
        and store_sales.ss_item_sk = item.i_item_sk
        and item.i_manager_id = 1
        and dt.d_moy=12
        and dt.d_year=1998
 group by       dt.d_year
                ,item.i_category_id
                ,item.i_category
 order by       sum_ext desc,dt.d_year
                ,item.i_category_id
                ,item.i_category
limit 100
"""

# -- q52 (q52.sql) -----------------------------------------------------------
Q52_BODY = """
select  dt.d_year
        ,item.i_brand_id brand_id
        ,item.i_brand brand
        ,cast(sum(ss_ext_sales_price) as double) ext_price
 from date_dim dt
     ,store_sales
     ,item
 where dt.d_date_sk = store_sales.ss_sold_date_sk
    and store_sales.ss_item_sk = item.i_item_sk
    and item.i_manager_id = 1
    and dt.d_moy=12
    and dt.d_year=1998
 group by dt.d_year
        ,item.i_brand
        ,item.i_brand_id
 order by dt.d_year
        ,ext_price desc
        ,brand_id
limit 100
"""

# -- q55 (q55.sql) -----------------------------------------------------------
Q55_BODY = """
select  i_brand_id brand_id, i_brand brand,
        cast(sum(ss_ext_sales_price) as double) ext_price
 from date_dim, store_sales, item
 where d_date_sk = ss_sold_date_sk
        and ss_item_sk = i_item_sk
        and i_manager_id=36
        and d_moy=12
        and d_year=2001
 group by i_brand, i_brand_id
 order by ext_price desc, i_brand_id
limit 100
"""

# -- q98 (q98.sql; interval endpoint precomputed, ratio in double) -----------
Q98_BODY = """
select i_item_id
      ,i_item_desc
      ,i_category
      ,i_class
      ,cast(i_current_price as double) as i_current_price
      ,cast(sum(ss_ext_sales_price) as double) as itemrevenue
      ,round(cast(sum(ss_ext_sales_price) as double)*100/
          cast(sum(sum(ss_ext_sales_price)) over (partition by i_class) as double), 6)
          as revenueratio
from
        store_sales
        ,item
        ,date_dim
where
        ss_item_sk = i_item_sk
        and i_category in ('Jewelry', 'Sports', 'Books')
        and ss_sold_date_sk = d_date_sk
        and d_date between cast('2001-01-12' as date)
                                and cast('2001-02-11' as date)
group by
        i_item_id
        ,i_item_desc
        ,i_category
        ,i_class
        ,i_current_price
order by
        i_category
        ,i_class
        ,i_item_id
        ,i_item_desc
        ,revenueratio
"""

# -- q13 (q13.sql; disjunctive demographic/geo join branches; avgs in the
#    repo-standard exact-decimal-then-double form, outputs aliased) ----------
Q13_BODY = """
select round(cast(sum(cast(ss_quantity as decimal(18,2))) as double) / count(*), 6) avg_qty
       ,round(cast(sum(ss_ext_sales_price) as double) / count(*), 6) avg_ext_sales
       ,round(cast(sum(ss_ext_wholesale_cost) as double) / count(*), 6) avg_wholesale
       ,cast(sum(ss_ext_wholesale_cost) as double) sum_wholesale
 from store_sales
     ,store
     ,customer_demographics
     ,household_demographics
     ,customer_address
     ,date_dim
 where s_store_sk = ss_store_sk
 and  ss_sold_date_sk = d_date_sk and d_year = 2001
 and((ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'D'
  and cd_education_status = '2 yr Degree'
  and ss_sales_price between 100.00 and 150.00
  and hd_dep_count = 3
     )or
     (ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'S'
  and cd_education_status = 'Secondary'
  and ss_sales_price between 50.00 and 100.00
  and hd_dep_count = 1
     ) or
     (ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'W'
  and cd_education_status = 'Advanced Degree'
  and ss_sales_price between 150.00 and 200.00
  and hd_dep_count = 1
     ))
 and((ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('CO', 'IL', 'MN')
  and ss_net_profit between 100 and 200
     ) or
     (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('OH', 'MT', 'NM')
  and ss_net_profit between 150 and 300
     ) or
     (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('TX', 'MO', 'MI')
  and ss_net_profit between 50 and 250
     ))
"""

# -- q96 (q96.sql; count(*) aliased for name-matched compare) ----------------
Q96_BODY = """
select  count(*) cnt
from store_sales
    ,household_demographics
    ,time_dim, store
where ss_sold_time_sk = time_dim.t_time_sk
    and ss_hdemo_sk = household_demographics.hd_demo_sk
    and ss_store_sk = s_store_sk
    and time_dim.t_hour = 8
    and time_dim.t_minute >= 30
    and household_demographics.hd_dep_count = 5
    and store.s_store_name = 'ese'
order by cnt
limit 100
"""

# -- q88 (q88.sql verbatim: 8 one-row time-band counts cross-joined) ---------


def _q88_band(alias: str, hour: int, minute_pred: str) -> str:
    return f"""
 (select count(*) {alias}
 from store_sales, household_demographics , time_dim, store
 where ss_sold_time_sk = time_dim.t_time_sk
     and ss_hdemo_sk = household_demographics.hd_demo_sk
     and ss_store_sk = s_store_sk
     and time_dim.t_hour = {hour}
     and time_dim.t_minute {minute_pred}
     and ((household_demographics.hd_dep_count = 3 and household_demographics.hd_vehicle_count<=3+2) or
          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
     and store.s_store_name = 'ese')"""


Q88_BODY = "select  *\nfrom\n" + ",\n".join(
    _q88_band(alias, hour, pred)
    for alias, hour, pred in [
        ("h8_30_to_9", 8, ">= 30"),
        ("h9_to_9_30", 9, "< 30"),
        ("h9_30_to_10", 9, ">= 30"),
        ("h10_to_10_30", 10, "< 30"),
        ("h10_30_to_11", 10, ">= 30"),
        ("h11_to_11_30", 11, "< 30"),
        ("h11_30_to_12", 11, ">= 30"),
        ("h12_to_12_30", 12, "< 30"),
    ]
) + "\n"

_BODIES = {
    "tpcds_real_q3": Q3_BODY,
    "tpcds_real_q7": Q7_BODY,
    "tpcds_real_q13": Q13_BODY,
    "tpcds_real_q19": Q19_BODY,
    "tpcds_real_q42": Q42_BODY,
    "tpcds_real_q52": Q52_BODY,
    "tpcds_real_q55": Q55_BODY,
    "tpcds_real_q88": Q88_BODY,
    "tpcds_real_q96": Q96_BODY,
    "tpcds_real_q98": Q98_BODY,
}

QUERIES: dict[str, QuerySpec] = {
    name: QuerySpec(_spark_runner(body), _oracle(body))
    for name, body in _BODIES.items()
}
