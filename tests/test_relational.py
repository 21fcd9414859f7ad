"""S6 relational/dlt source: FK edges between row documents
(reference: extract_dlt_fk_edges.py)."""

from __future__ import annotations

from cognee_spark.sources.relational import fk_row_edges


def _orders(spark):
    return spark.createDataFrame(
        [(1, 10, 99.5), (2, 10, 12.0), (3, 20, 7.25)],
        ["o_orderkey", "o_custkey", "o_total"],
    )


def _customers(spark):
    return spark.createDataFrame([(10, "alice"), (20, "bo b")], ["c_custkey", "c_name"])


def test_fk_row_edges(spark):
    edges = {
        (r.subj, r.pred, r.obj)
        for r in fk_row_edges(
            _orders(spark), "orders", "o_orderkey", "o_custkey",
            _customers(spark), "customer", "c_custkey",
        ).collect()
    }
    assert edges == {
        ("db/orders:orders/1.row", "references_customer", "db/customer:customer/10.row"),
        ("db/orders:orders/2.row", "references_customer", "db/customer:customer/10.row"),
        ("db/orders:orders/3.row", "references_customer", "db/customer:customer/20.row"),
    }
