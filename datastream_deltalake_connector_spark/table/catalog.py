"""Warehouse catalog: named icepack tables under one root.

The reference's catalog surface is ``CREATE DATABASE IF NOT EXISTS ...
LOCATION path`` plus Delta's ``saveAsTable``/``DeltaTable.forName``
(reference: delta/DeltaSchemaMigration.scala:17-22, datastream/
DataStreamSchema.scala:9-10). icepack tables are directories, so the catalog
is a directory of directories with the same if-not-exists semantics; names
are sanitized the way the reference sanitizes Datastream table names
(``replace('.', '_')``, reference: delta/DatastreamDeltaTable.scala:9-10).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .icepack import IcepackTable

__all__ = ["Catalog", "sanitize_table_name"]


def sanitize_table_name(name: str) -> str:
    """Datastream table ids may contain dots (``inventory.voters``)."""
    return name.replace(".", "_").replace("/", "_")


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, sanitize_table_name(name))

    def table_names(self) -> list[str]:
        return sorted(
            n
            for n in os.listdir(self.warehouse)
            if os.path.exists(os.path.join(self.warehouse, n, "metadata", "HEAD"))
        )

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "metadata", "HEAD"))

    _RESERVED = ("_views",)

    def _check_reserved(self, name: str) -> None:
        if sanitize_table_name(name) in self._RESERVED:
            raise ValueError(
                f"{name!r} is a reserved catalog name (view store directory)"
            )

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        stats_cols: list[str] | None = None,
        if_not_exists: bool = True,
    ) -> IcepackTable:
        """CREATE TABLE [IF NOT EXISTS] semantics (D1 analogue)."""
        self._check_reserved(name)
        if self.exists(name):
            if if_not_exists:
                return self.load_table(name)
            raise FileExistsError(f"table exists: {name}")
        if self.view_exists(name):
            raise FileExistsError(f"a view named {name!r} already exists")
        return IcepackTable.create(self.spark, self._path(name), schema, stats_cols)

    def load_table(self, name: str) -> IcepackTable:
        return IcepackTable.load(self.spark, self._path(name))

    def drop_table(self, name: str) -> bool:
        self._check_reserved(name)
        p = self._path(name)
        if not os.path.exists(p):
            return False
        shutil.rmtree(p)
        return True

    # ------------------------------------------------------------- views
    # SQL views live beside the tables as one JSON file each (name +
    # SELECT text), matching Delta/HMS behavior of storing view TEXT, not
    # a materialization — each read re-plans against current table state.
    def _view_path(self, name: str) -> str:
        return os.path.join(
            self.warehouse, "_views", sanitize_table_name(name) + ".json"
        )

    def view_names(self) -> list[str]:
        d = os.path.join(self.warehouse, "_views")
        if not os.path.isdir(d):
            return []
        out = []
        for n in sorted(os.listdir(d)):
            if not n.endswith(".json"):
                continue
            # report the name the user created, not the sanitized filename
            with open(os.path.join(d, n)) as f:
                out.append(json.load(f)["name"])
        return sorted(out)

    def _read_view(self, name: str) -> dict | None:
        """The stored view named exactly ``name``, or None. Distinct names
        can share one file (``a.b`` and ``a_b`` both sanitize to ``a_b``),
        so the file only counts when its recorded name matches."""
        try:
            with open(self._view_path(name)) as f:
                view = json.load(f)
        except FileNotFoundError:
            return None
        return view if view["name"] == name else None

    def view_exists(self, name: str) -> bool:
        return self._read_view(name) is not None

    def create_view(self, name: str, sql: str, or_replace: bool = False) -> None:
        if self.exists(name):
            raise FileExistsError(f"a table named {name!r} already exists")
        p = self._view_path(name)
        if os.path.exists(p):
            if not self.view_exists(name):
                raise FileExistsError(
                    f"view name {name!r} collides with an existing view "
                    f"stored as {os.path.basename(p)!r}"
                )
            if not or_replace:
                raise FileExistsError(f"view exists: {name}")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        # unique tmp + fsync: concurrent CREATE OR REPLACE must never
        # interleave truncated writes or race each other's os.replace
        tmp = f"{p}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({"name": name, "sql": sql}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)

    def view_sql(self, name: str) -> str:
        view = self._read_view(name)
        if view is None:
            raise FileNotFoundError(f"no view named {name!r}")
        return view["sql"]

    def drop_view(self, name: str) -> bool:
        if not self.view_exists(name):
            return False
        os.remove(self._view_path(name))
        return True
