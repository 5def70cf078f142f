"""The warehouse catalog (``phoenix_spark/metastore.py``): one state shared
by every connection, crash-safe writes, and warehouses written before the
view owner joined the view record."""

from __future__ import annotations

import json
import os

import pytest

from phoenix_spark import metastore as MS
from phoenix_spark.engine import Engine

_MT = (
    "CREATE TABLE mt (tenant VARCHAR NOT NULL, k BIGINT NOT NULL, v VARCHAR, "
    "CONSTRAINT pk PRIMARY KEY (tenant, k)) MULTI_TENANT=true"
)


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "wh")


def _torn_dump(obj, f, **kw):
    """A serializer that dies after writing part of the document."""
    f.write('{"torn": [')
    raise OSError("disk full")


def test_connection_sees_index_and_cdc_created_after_it(spark, wh):
    g = Engine(spark, warehouse=wh)
    g.sql(_MT)
    g.sql("UPSERT INTO mt VALUES ('t1', 1, 'a')")
    t1 = g.with_tenant("t1")
    g.sql("CREATE INDEX ix_v ON mt (v)")
    g.sql("CREATE CDC cdc_mt ON mt")
    # the tenant connection, opened before CREATE INDEX, maintains the index
    t1.sql("UPSERT INTO mt VALUES (2, 'zz')")
    query = "SELECT k FROM mt WHERE v = 'zz'"
    assert "ix_v" in g._maybe_use_index(query)  # answered from the index
    assert [r.k for r in g.sql(query).collect()] == [2]
    # ... and resolves the CDC created after it was opened
    assert 2 in {r.k for r in t1.sql("SELECT k FROM cdc_mt").collect()}


def test_sequences_shared_by_independent_engines(spark, wh):
    a, b = Engine(spark, warehouse=wh), Engine(spark, warehouse=wh)
    a.create_sequence("s", start=1, cache=1)
    assert b.next_value_block("s", 1) == 1
    assert a.next_value_block("s", 1) == 2


def test_failed_views_write_keeps_previous_document(spark, wh, monkeypatch):
    e = Engine(spark, warehouse=wh)
    e.sql("CREATE TABLE t (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    e.sql("UPSERT INTO t VALUES (1, 'a'), (2, 'b')")
    e.sql("CREATE VIEW v1 AS SELECT * FROM t WHERE k > 1")
    monkeypatch.setattr(json, "dump", _torn_dump)
    with pytest.raises(OSError, match="disk full"):
        e.sql("CREATE VIEW v2 AS SELECT * FROM t WHERE k > 0")
    monkeypatch.undo()
    with open(os.path.join(wh, "_views.json")) as f:
        assert set(json.load(f)) == {"v1"}
    assert not [p for p in os.listdir(wh) if p.endswith(".tmp")]
    fresh = Engine(spark, warehouse=wh)
    assert [r.k for r in fresh.table("v1").collect()] == [2]
    assert "v2" not in fresh.metastore.views


def test_failed_meta_write_keeps_previous_schema(spark, wh, monkeypatch):
    e = Engine(spark, warehouse=wh)
    e.sql("CREATE TABLE t (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    e.sql("UPSERT INTO t VALUES (1, 'a')")
    meta = os.path.join(wh, "t", "meta.json")
    monkeypatch.setattr(json, "dump", _torn_dump)
    with pytest.raises(OSError, match="disk full"):
        e.sql("ALTER TABLE t ADD w VARCHAR")
    monkeypatch.undo()
    with open(meta) as f:
        assert json.load(f)["pk"] == ["k"]
    assert not [p for p in os.listdir(os.path.dirname(meta)) if p.endswith(".tmp")]
    fresh = Engine(spark, warehouse=wh)
    assert fresh.table("t").columns == ["k", "v"]
    assert [(r.k, r.v) for r in fresh.table("t").collect()] == [(1, "a")]


def test_parent_format_warehouse(spark, wh, monkeypatch):
    """A warehouse as older versions wrote it: view owners in their own
    file, 2- and 3-element view records."""
    g = Engine(spark, warehouse=wh)
    g.sql(_MT)
    g.sql("UPSERT INTO mt VALUES ('t1', 1, 'a'), ('t2', 2, 'b')")
    g.sql("CREATE INDEX ix_v ON mt (v)")  # builds the index table
    docs = {
        "_views.json": {"tv": ["mt", "k > 0", {}], "gv": ["mt", None]},
        "_view_owners.json": {"tv": "t1"},
        "_indexes.json": {
            "ix_v": {
                "name": "ix_v", "table": "mt", "key": ["v"],
                "sort_orders": {}, "include": [], "local": False,
                "uncovered": False, "where": None, "exprs": {},
                "state": "ACTIVE",
            }
        },
        "_cdcs.json": {"cdc_mt": ["mt", "CHANGE"]},
    }
    for name, doc in docs.items():
        with open(os.path.join(wh, name), "w") as f:
            json.dump(doc, f)

    old = Engine(spark, warehouse=wh)
    views = old.metastore.views
    assert views["tv"] == MS.View("mt", "k > 0", {}, "t1")
    assert views["gv"] == MS.View("mt", None, {}, None)
    assert old.metastore.cdcs == {"cdc_mt": ("mt", "CHANGE")}
    assert "ix_v" in old._maybe_use_index("SELECT k FROM mt WHERE v = 'b'")
    t1 = old.with_tenant("t1")
    assert [r.k for r in t1.table("tv").collect()] == [1]
    for other in (old, old.with_tenant("t2")):
        with pytest.raises(ValueError, match="Table undefined"):
            other.table("tv")

    # a tenant DROP VIEW / CREATE VIEW is one write of one document
    written = []
    write_json = MS.write_json
    monkeypatch.setattr(
        MS, "write_json", lambda p, o: (written.append(p), write_json(p, o))
    )
    t1.sql("DROP VIEW tv")
    t1.sql("CREATE VIEW tv2 AS SELECT * FROM mt WHERE k = 1")
    assert [os.path.basename(p) for p in written] == ["_views.json"] * 2
    # the legacy owner file no longer speaks for a record written since
    old.sql("CREATE VIEW tv AS SELECT * FROM mt WHERE k > 1")
    fresh = Engine(spark, warehouse=wh)
    assert fresh.metastore.views["tv"].owner is None
    assert fresh.metastore.views["tv2"].owner == "t1"
    assert [r.k for r in fresh.table("tv").collect()] == [2]


def test_view_chain_base_outward(tmp_path):
    ms = MS.Metastore(str(tmp_path))
    ms.views.update(
        v1=MS.View("t", "a > 0", {}, None),
        v2=MS.View("v1", "b > 0", {"c": "INTEGER"}, None),
    )

    def qualify(name):
        return {"t": "s.t"}.get(name, name)

    base, chain = ms.view_chain("v2", qualify)
    assert base == "s.t"
    assert [v.where for v in chain] == ["a > 0", "b > 0"]
    assert ms.view_chain("t", qualify) == ("s.t", [])
    assert sorted(ms.views_over("s.t", qualify)) == ["v1", "v2"]
    ms.save_views()
    assert MS.Metastore(str(tmp_path)).views == ms.views
