"""Oracle-parity tests for the general relational surface (SURVEY §2.3-§2.6)."""

from __future__ import annotations

import pytest

from tests.oracle import check_registered

STAR_QUERIES = [
    "star_pricing_summary",
    "star_top_revenue_orders",
    "star_region_revenue",
    "star_orders_with_lineitems_semi",
    "star_customers_without_orders_anti",
    "star_customer_order_counts_left",
    "star_supplier_part_distinct",
    "star_cube_quantity",
    "star_rollup_orderpriority",
    "star_top3_parts_per_supplier",
    "star_running_quantity",
    "star_order_gap_lag",
    "star_setops",
    "star_setops_except",
    "star_pivot_linestatus",
    "star_shipping_priority",
    "star_nation_volume",
]


@pytest.mark.parametrize("name", STAR_QUERIES)
def test_star_query_matches_oracle(spark, duck, name):
    check_registered(spark, duck, name)


def test_nation_volume_broadcasts_all_dims(spark):
    """Every dimension hop is a broadcast join; no nested loop and no
    cartesian anywhere in the five-way plan."""
    from insight_de_smart_grid_spark.plans.registry import QUERIES
    from tests.conftest import SF_ORACLE

    plan = (QUERIES["star_nation_volume"].fn(spark, SF_ORACLE)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# sf0.01 customer 1500 and 1501 do not exist; neither gets an order
PLANTED_CUSTOMERS = [
    {"c_custkey": 1500, "c_name": "Customer#000001500", "c_nationkey": 2,
     "c_acctbal": 9000.0, "c_mktsegment": "BUILDING"},
    {"c_custkey": 1501, "c_name": "Customer#000001501", "c_nationkey": 3,
     "c_acctbal": 100.0, "c_mktsegment": "MACHINERY"},
]


@pytest.fixture(scope="module")
def planted_star_dir(tmp_path_factory):
    """The sf0.01 ``customer`` and ``orders`` tables plus two customers
    without orders: 1500 far above the average positive balance, 1501
    below it."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_ORACLE

    d = tmp_path_factory.mktemp("planted_star")
    cust = pq.read_table(f"{SF_ORACLE}/customer.parquet")
    planted = pa.Table.from_pylist(PLANTED_CUSTOMERS, schema=cust.schema)
    pq.write_table(pa.concat_tables([cust, planted]), d / "customer.parquet")
    shutil.copy(f"{SF_ORACLE}/orders.parquet", d / "orders.parquet")
    return str(d)


@pytest.mark.parametrize("name, want", [
    ("star_customers_without_orders_anti",
     {("BUILDING", 1), ("MACHINERY", 1)}),
    ("star_setops_except", {(1500,), (1501,)}),
    ("star_sales_opportunity", {("BUILDING", 1, 9000.0)}),
])
def test_orderless_customer_oracles_on_planted_rows(spark, planted_star_dir,
                                                    name, want):
    """Every sf0.01 customer has an order, so these oracles are empty
    there; on planted order-less customers the query returns exactly them
    and equals its oracle."""
    import duckdb

    from insight_de_smart_grid_spark.plans.registry import QUERIES
    from tests.oracle import compare

    q = QUERIES[name]
    got = q.fn(spark, planted_star_dir)
    assert {tuple(r) for r in got.collect()} == want
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{planted_star_dir}/{t}.parquet'")
    compare(got, con, q.sql)
    con.close()
