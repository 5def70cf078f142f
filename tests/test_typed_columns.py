"""Typed-column lookup for the catalog-typed dialect rewrites
(``Engine._typed_columns``): scoped to the tables a statement references,
read from their temp views so every DDL is seen by the very next
statement; and the temp-view refresh after ``ManagedTable.compact()``."""

from __future__ import annotations

import datetime

import pytest

from tests.conftest import SF_TEST_DIR


@pytest.fixture()
def engine(spark, tmp_path):
    from phoenix_spark.engine import Engine

    return Engine(spark, sf_dir=SF_TEST_DIR, warehouse=str(tmp_path / "wh"))


def test_typed_columns_scoped_to_referenced_tables(engine):
    engine.sql(
        "CREATE TABLE ft (k BIGINT NOT NULL, f FLOAT, ts BIGINT, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    # orders and ft are not referenced → none of their columns are typed
    typed = engine._typed_columns("SELECT l_quantity FROM lineitem")
    assert "l_shipdate" in typed["ts_columns"]
    assert "o_orderdate" not in typed["ts_columns"]
    assert "l_orderkey" in typed["int_columns"]
    assert "o_custkey" not in typed["int_columns"]
    assert "l_returnflag" in typed["str_columns"]
    assert "o_orderstatus" not in typed["str_columns"]
    assert "f" not in typed["float_columns"]
    # table names match case-insensitively
    typed = engine._typed_columns("SELECT o_orderdate - 3 FROM ORDERS")
    assert "o_orderdate" in typed["ts_columns"]
    assert "l_shipdate" not in typed["ts_columns"]
    typed = engine._typed_columns("SELECT f FROM ft")
    assert typed["float_columns"] == {"f"}
    # a column sharing a ts column's NAME but numeric in the queried table
    # is not a ts column: only referenced tables contribute
    assert "ts" not in typed["ts_columns"] and "ts" in typed["int_columns"]
    assert "ts" in engine._typed_columns("SELECT ts FROM events")["ts_columns"]


def test_alter_add_column_typed_in_next_statement(engine):
    engine.sql(
        "CREATE TABLE al (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO al VALUES (1, 'a')")
    assert engine.sql("SELECT k FROM al").collect()[0].k == 1
    engine.sql("ALTER TABLE al ADD d DATE")
    assert "d" in engine._typed_columns("SELECT d FROM al")["ts_columns"]
    engine.sql("UPSERT INTO al (k, d) VALUES (2, TO_DATE('2020-01-31'))")
    # date + int is day arithmetic only when d is known to be a date
    row = engine.sql("SELECT d + 1 AS n FROM al WHERE k = 2").collect()[0]
    assert row.n == datetime.datetime(2020, 2, 1)


def test_new_view_typed_in_next_statement(engine):
    engine.sql(
        "CREATE TABLE vb (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("SELECT k FROM vb").collect()
    engine.sql("CREATE VIEW vv (extra DATE) AS SELECT * FROM vb WHERE k > 0")
    typed = engine._typed_columns("SELECT extra FROM vv")
    assert typed["ts_columns"] == {"extra"}
    assert typed["str_columns"] == {"v"}


def test_temp_view_dropped_by_another_connection_is_skipped(engine):
    from phoenix_spark.engine import Engine

    engine.sql(
        "CREATE TABLE gone (k BIGINT NOT NULL, g FLOAT, CONSTRAINT pk PRIMARY KEY (k))"
    )
    assert "g" in engine._typed_columns("SELECT g FROM gone")["float_columns"]
    other = Engine(engine.spark, sf_dir=SF_TEST_DIR, warehouse=engine.warehouse)
    other.sql("DROP TABLE gone")
    typed = engine._typed_columns("SELECT g FROM gone")
    assert "g" not in typed["float_columns"]
    assert "gone" not in engine._registered


def test_managed_table_shadowing_catalog_name_contributes_its_types(engine):
    engine.sql(
        "CREATE TABLE orders (o_orderkey BIGINT NOT NULL, o_orderdate VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    try:
        typed = engine._typed_columns("SELECT o_orderdate FROM orders")
        assert "o_orderdate" in typed["str_columns"]
        assert "o_orderdate" not in typed["ts_columns"]
        assert typed["int_columns"] == {"o_orderkey"}
    finally:
        # the temp-view namespace is session-global: restore the fixture
        engine.catalog.register_all()


def test_select_after_compact_or_truncate_reads_current_segments(engine):
    engine.sql(
        "CREATE TABLE cmp (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO cmp VALUES (1, 'a'), (2, 'b')")
    engine.sql("UPSERT INTO cmp VALUES (2, 'b2'), (3, 'c')")
    engine.sql("DELETE FROM cmp WHERE k = 1")
    engine.sql("CREATE VIEW cmpv AS SELECT * FROM cmp WHERE k > 2")
    engine.managed("cmp").compact()
    # through the view first: its temp view pins the base's old segments too
    assert [tuple(r) for r in engine.sql("SELECT k, v FROM cmpv").collect()] == [
        (3, "c")
    ]
    got = {r.k: r.v for r in engine.sql("SELECT k, v FROM cmp").collect()}
    assert got == {2: "b2", 3: "c"}
    # TRUNCATE deletes the segments the same way
    engine.sql("TRUNCATE TABLE cmp")
    assert engine.sql("SELECT k FROM cmp").collect() == []
