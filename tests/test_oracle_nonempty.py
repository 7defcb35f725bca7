"""Every registered oracle returns rows on the sf0.01 tables, so the value
check of its query compares something. An oracle that returns no rows
turns that check into a comparison of two empty sets; each such query is
named in ``EMPTY_AT_SF001`` with the test that value-checks its behaviour
on planted rows."""

from __future__ import annotations

from insight_de_smart_grid_spark.plans.registry import QUERIES

ORDERLESS = ("every sf0.01 customer has an order; tests/test_star_queries.py"
             "::test_orderless_customer_oracles_on_planted_rows plants two")
EMPTY_AT_SF001 = {
    "star_customers_without_orders_anti": ORDERLESS,
    "star_setops_except": ORDERLESS,
    "star_sales_opportunity": ORDERLESS,
    "dedup_embedding_cosine":
        "no sf0.01 pair reaches cosine 0.95; tests/test_extensions.py::"
        "test_embedding_cosine_pairs_find_planted_dups checks the blocked "
        "pairs and their cosines on planted near-duplicates",
    "sim_ann_index_cosine_pairs":
        "no sf0.01 pair reaches cosine 0.95; tests/test_planted_rows.py::"
        "test_ann_index_pairs_on_planted_near_duplicates plants three",
    "sim_ann_index_deleted":
        "no sf0.01 pair reaches cosine 0.95; tests/test_planted_rows.py::"
        "test_ann_index_pairs_on_planted_near_duplicates plants three, one "
        "with an endpoint in the deleted slice",
    "events_seasonal_anomaly":
        "no sf0.01 reading lies 2.5 sd off its calendar cell; "
        "tests/test_planted_rows.py::test_seasonal_anomaly_on_planted_cell",
    "events_sequence_detect":
        "the sf0.01 events hold no click-view-purchase chain; "
        "tests/test_sketch_topn.py::test_sequence_detect_on_planted_chain",
    "streaming_sequence_detect":
        "the sf0.01 events hold no click-view-purchase chain; "
        "tests/test_keyed_state.py::test_state_carries_across_batches_"
        "and_restart[streaming_sequence_detect] plants one across a restart",
}


def test_registered_oracles_return_rows(duck):
    """The oracles that return no rows at sf0.01 are exactly the named
    ones: a new empty oracle fails, and so does a named one that gains
    rows (its entry is then stale)."""
    empty = sorted(
        name for name, q in QUERIES.items() if q.sql is not None
        and duck.execute(f"SELECT count(*) FROM ({q.sql})").fetchone()[0]
        == 0)
    assert empty == sorted(EMPTY_AT_SF001)
