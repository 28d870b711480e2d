"""Snapshot catalog — crawl rounds as atomic table commits with lineage.

The north_star requires each crawl round to be a snapshot commit carrying
per-partition lineage (urls_seen, fetched, deferred-by-politeness) so a
killed job resumes from the last frontier checkpoint with identical crawl
ordering and URL-seen set. The reference's only persistence is its stash
directory (lib/upton/downloader.rb:122-150); the engine generalizes that to
versioned table state.

The catalog owns table history, as Iceberg does (SURVEY.md §7.4): a
snapshot maps each table name to its data files, the writer's schema and
its row count. A commit names what changed and nothing else. Each value of
its ``tables`` dict is a DataFrame (replace the table), an :class:`Append`
(add its rows as new files; earlier files stay listed) or ``None`` (remove
the table); tables it does not name carry forward from the parent. Row
counts come from an ``Observation`` on the write itself, so neither a
commit nor a reader spends a Spark job on counting, and reads pass the
recorded schema, so none spends one on inferring it.

Two implementations behind one seam:

* :class:`ManifestCatalog` — Parquet data files + one JSON manifest per
  snapshot (files, schema, rows, metrics, parent pointer), atomic via
  write-to-temp+rename. Used everywhere in this sandbox: the local Spark
  distribution ships no Iceberg runtime jars.
* :class:`IcebergCatalog` — thin adapter that issues real Iceberg
  ``writeTo(...)`` commits (``createOrReplace`` or ``append``) when
  ``org.apache.iceberg.spark.SparkCatalog`` is on the classpath; raises a
  clear error otherwise.

Both are also a catalog crawl's only checkpoint: the crawler commits its
built frontier and each round's state and continues from the committed
tables, so the commit is the one write that materializes that state, and
re-reading it truncates the Catalyst lineage that would otherwise grow
without bound across the iterative loop's rounds.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T


@dataclass
class Snapshot:
    snapshot_id: int
    round: int
    parent: int | None
    # name -> {"files": [data paths], "schema": StructType json, "rows": int}
    tables: dict[str, dict] = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Append:
    """A commit value that adds ``df``'s rows to a table instead of
    replacing it (a table the parent lacks is created)."""

    df: DataFrame


class _Catalog:
    """The commit logic both catalogs share; subclasses write one table
    (``_write``) and publish a snapshot (``_publish``)."""

    def commit(
        self,
        round_no: int,
        tables: dict[str, DataFrame | Append | None],
        metrics: dict | None = None,
    ) -> Snapshot:
        parent = self.latest()
        sid = (parent.snapshot_id + 1) if parent else 1
        entries = dict(parent.tables) if parent else {}
        for name, value in tables.items():
            if value is None:
                entries.pop(name, None)
                continue
            append = isinstance(value, Append)
            df = value.df if append else value
            old = entries.get(name) if append else None
            obs = Observation()
            files = self._write(
                name, df.observe(obs, F.count(F.lit(1)).alias("rows")), sid, old
            )
            rows = obs.get["rows"]
            entries[name] = (
                {"files": files, "schema": old["schema"], "rows": old["rows"] + rows}
                if old
                else {"files": files, "schema": df.schema.jsonValue(), "rows": rows}
            )
        snap = Snapshot(
            sid, round_no, parent.snapshot_id if parent else None, entries, metrics or {}
        )
        self._publish(snap)
        return snap

    def rows(self, snap: Snapshot, name: str) -> int:
        """The table's row count at ``snap``, from the manifest."""
        return snap.tables[name]["rows"]


class ManifestCatalog(_Catalog):
    """Parquet + JSON-manifest snapshot catalog (Iceberg-style, jar-free).
    Data paths are absolute, so a manifest copied into another catalog root
    still reads its files."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        os.makedirs(os.path.join(self.root, "snapshots"), exist_ok=True)

    # -- write -------------------------------------------------------------
    def _write(self, name: str, df: DataFrame, sid: int, old: dict | None) -> list[str]:
        path = os.path.join(self.root, "data", name, f"snap={sid:08d}")
        df.write.mode("overwrite").parquet(path)
        return (old["files"] if old else []) + [path]

    def _publish(self, snap: Snapshot) -> None:
        payload = {
            "snapshot_id": snap.snapshot_id,
            "round": snap.round,
            "parent": snap.parent,
            "tables": snap.tables,
            "metrics": snap.metrics,
        }
        snapdir = os.path.join(self.root, "snapshots")
        fd, tmp = tempfile.mkstemp(dir=snapdir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, indent=1)
        os.replace(tmp, os.path.join(snapdir, f"{snap.snapshot_id:08d}.json"))

    # -- read --------------------------------------------------------------
    def snapshots(self) -> list[int]:
        snapdir = os.path.join(self.root, "snapshots")
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(snapdir) if f.endswith(".json")
        )

    def load(self, snapshot_id: int) -> Snapshot:
        with open(os.path.join(self.root, "snapshots", f"{snapshot_id:08d}.json")) as f:
            payload = json.load(f)
        return Snapshot(
            payload["snapshot_id"],
            payload["round"],
            payload["parent"],
            payload["tables"],
            payload["metrics"],
        )

    def latest(self) -> Snapshot | None:
        ids = self.snapshots()
        return self.load(ids[-1]) if ids else None

    def table(self, snap: Snapshot, name: str) -> DataFrame:
        entry = snap.tables[name]
        schema = T.StructType.fromJson(entry["schema"])
        return self.spark.read.schema(schema).parquet(*entry["files"])


def iceberg_on_classpath(spark: SparkSession) -> bool:
    """Whether the Iceberg Spark runtime jar is loadable (module-level seam
    so the contract test can exercise IcebergCatalog without the jar)."""
    try:
        spark._jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")  # type: ignore[union-attr]
        return True
    except Exception:
        return False


class IcebergCatalog(_Catalog):
    """Real Iceberg snapshot commits — requires the Iceberg Spark runtime jar.

    Same ``commit``/``latest``/``table``/``rows`` contract as
    ManifestCatalog (one shared contract test pins it:
    tests/test_multimodal_and_streaming.py), so engine code is
    catalog-agnostic. Physical differences: a replaced table is an Iceberg
    ``createOrReplace`` commit and an appended one an Iceberg ``append``
    commit (Iceberg's own metadata tree lists the data files, so an entry's
    ``files`` is the table identifier); metrics are additionally set as
    table properties on the snapshot's first table; ``table`` reads back
    through the catalog identifier, which always holds the table's current
    state. The snapshot LIST is tracked in-process for interface parity — a
    restarting driver should resume from Iceberg's snapshot log, which this
    sandbox (jar-less) can't exercise."""

    def __init__(self, spark: SparkSession, namespace: str = "upton"):
        if not iceberg_on_classpath(spark):
            raise RuntimeError(
                "Iceberg runtime not on the Spark classpath; use ManifestCatalog "
                "(add iceberg-spark-runtime to spark.jars to enable)"
            )
        self.spark = spark
        self.namespace = namespace
        self._snapshots: list[Snapshot] = []

    def _write(self, name: str, df: DataFrame, sid: int, old: dict | None) -> list[str]:
        ident = f"{self.namespace}.{name}"
        if old:
            df.writeTo(ident).append()
        else:
            df.writeTo(ident).using("iceberg").createOrReplace()
        return [ident]

    def _publish(self, snap: Snapshot) -> None:
        if snap.metrics and snap.tables:
            first = next(iter(snap.tables.values()))["files"][0]
            props = ", ".join(
                f"'upton.metrics.{k}'='{v}'" for k, v in snap.metrics.items()
            )
            try:
                self.spark.sql(f"ALTER TABLE {first} SET TBLPROPERTIES ({props})")
            except Exception:
                pass  # metrics are advisory; the snapshot object carries them
        self._snapshots.append(snap)

    def snapshots(self) -> list[int]:
        return [s.snapshot_id for s in self._snapshots]

    def latest(self) -> Snapshot | None:
        return self._snapshots[-1] if self._snapshots else None

    def load(self, snapshot_id: int) -> Snapshot:
        for s in self._snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(snapshot_id)

    def table(self, snap: Snapshot, name: str) -> DataFrame:
        return self.spark.read.table(snap.tables[name]["files"][0])
