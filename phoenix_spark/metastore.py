"""The warehouse catalog (SYSTEM.CATALOG; MetaDataEndpointImpl maintains it
in the reference): ``_views.json``, ``_indexes.json``, ``_cdcs.json``,
``_sequences.json``, ``_tasks.json`` and each managed table's ``meta.json``
(format owned by ManagedTable).  ``write_json`` is their only writer: one
atomic rename publishes a complete file, so a crash mid-write leaves the
previous document intact.  Every connection an Engine derives shares one
``Metastore``: views, indexes and CDCs load once and change in place;
sequences and tasks are re-read per call, so two engines over one warehouse
see each other's sequence allocations."""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable, NamedTuple

from phoenix_spark.indexes import IndexDef


def write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` serialized as JSON."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _read_json(path: str, default):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


class View(NamedTuple):
    """A view, recompiled into every read (QueryCompiler.java:803-806).
    ``columns`` are view-defined; a None type marks a parent column
    EXCLUDED by ALTER VIEW DROP COLUMN (LinkType.EXCLUDED_COLUMN).
    ``owner`` is the tenant whose connection created it (None: global)."""

    parent: str
    where: str | None
    columns: dict[str, str | None]
    owner: str | None


class Metastore:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        # older warehouses stored 2-tuples (no columns), and 3-tuples whose
        # tenant owner sits in _view_owners.json
        owners = _read_json(self._path("_view_owners.json"), {})
        self.views: dict[str, View] = {
            k: View(
                v[0],
                v[1],
                v[2] if len(v) > 2 else {},
                v[3] if len(v) > 3 else owners.get(k),
            )
            for k, v in _read_json(self._path("_views.json"), {}).items()
        }
        self.indexes: dict[str, IndexDef] = {
            k: IndexDef.from_json(v)
            for k, v in _read_json(self._path("_indexes.json"), {}).items()
        }
        # CREATE CDC (grammar :593-616): name -> (table, scope)
        self.cdcs: dict[str, tuple[str, str]] = {
            k: tuple(v) for k, v in _read_json(self._path("_cdcs.json"), {}).items()
        }

    def _path(self, doc: str) -> str:
        return os.path.join(self.warehouse, doc)

    def save_views(self) -> None:
        write_json(self._path("_views.json"), self.views)

    def save_indexes(self) -> None:
        write_json(
            self._path("_indexes.json"),
            {k: v.to_json() for k, v in self.indexes.items()},
        )

    def save_cdcs(self) -> None:
        write_json(self._path("_cdcs.json"), self.cdcs)

    def view_chain(
        self, name: str, qualify: Callable[[str], str]
    ) -> tuple[str, list[View]]:
        """``(base, chain)``: the non-view name the chain of views from
        ``name`` bottoms out at (``qualify`` resolves it against the
        connection's schema), and the views on the way, base-outward."""
        node = name if name in self.views else qualify(name)
        chain: list[View] = []
        while node in self.views:
            v = self.views[node]
            chain.append(v)
            node = v.parent if v.parent in self.views else qualify(v.parent)
        chain.reverse()
        return node, chain

    def views_over(self, table: str, qualify: Callable[[str], str]) -> list[str]:
        """Every view whose chain bottoms out at ``table`` (matched on the
        last name segment), views of views included."""
        leaf = table.split(".")[-1].lower()
        return [
            v
            for v in self.views
            if self.view_chain(v, qualify)[0].split(".")[-1].lower() == leaf
        ]

    def sequences(self) -> dict:
        return _read_json(self._path("_sequences.json"), {})

    def save_sequences(self, seqs: dict) -> None:
        write_json(self._path("_sequences.json"), seqs)

    # SYSTEM.TASK rows (PTable.TaskType; Task.java), in append order
    def tasks(self) -> list[dict]:
        return _read_json(self._path("_tasks.json"), [])

    def add_task(self, **task) -> None:
        write_json(self._path("_tasks.json"), [*self.tasks(), task])
