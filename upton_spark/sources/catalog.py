"""Snapshot catalog — crawl rounds as atomic table commits with lineage.

The north_star requires each crawl round to be a snapshot commit carrying
per-partition lineage (urls_seen, fetched, deferred-by-politeness) so a
killed job resumes from the last frontier checkpoint with identical crawl
ordering and URL-seen set. The reference's only persistence is its stash
directory (lib/upton/downloader.rb:122-150); the engine generalizes that to
versioned table state.

Two implementations behind one seam (SURVEY.md §7.4):

* :class:`ManifestCatalog` — Parquet data files + one JSON manifest per
  snapshot (files, metrics, parent pointer), atomic via write-to-temp+rename.
  Used everywhere in this sandbox: the local Spark distribution ships no
  Iceberg runtime jars.
* :class:`IcebergCatalog` — thin adapter that issues real Iceberg
  ``writeTo(...).createOrReplace()`` commits when
  ``org.apache.iceberg.spark.SparkCatalog`` is on the classpath; raises a
  clear error otherwise.

Both also serve the side purpose that makes the iterative crawl loop viable
at all: committing a round materializes the DataFrames to Parquet and
re-reads them, truncating Catalyst lineage that would otherwise grow without
bound across rounds.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    round: int
    parent: int | None
    tables: dict[str, str] = field(default_factory=dict)  # name -> data path
    metrics: dict = field(default_factory=dict)


class ManifestCatalog:
    """Parquet + JSON-manifest snapshot catalog (Iceberg-style, jar-free)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- write -------------------------------------------------------------
    def commit(
        self,
        round_no: int,
        tables: dict[str, DataFrame],
        metrics: dict | None = None,
        drop_prefixes: tuple[str, ...] = (),
    ) -> Snapshot:
        """Commit a snapshot. ``drop_prefixes`` stops carrying forward parent
        tables whose name matches — used when a full-table compaction commit
        supersedes the per-round delta tables (``frontier_delta_r*``,
        ``urls_seen_delta_r*``) accumulated since the last full commit."""
        parent = self.latest()
        sid = (parent.snapshot_id + 1) if parent else 1
        snap = Snapshot(sid, round_no, parent.snapshot_id if parent else None, {}, metrics or {})
        for name, df in tables.items():
            path = os.path.join(self.root, "data", name, f"snap={sid:08d}")
            df.write.mode("overwrite").parquet(path)
            snap.tables[name] = path
        # carry forward tables not rewritten this round
        if parent:
            for name, path in parent.tables.items():
                if any(name.startswith(p) for p in drop_prefixes):
                    continue
                snap.tables.setdefault(name, path)
        self._write_manifest(snap)
        return snap

    def _write_manifest(self, snap: Snapshot) -> None:
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
        return self.spark.read.parquet(snap.tables[name])


def iceberg_on_classpath(spark: SparkSession) -> bool:
    """Whether the Iceberg Spark runtime jar is loadable (module-level seam
    so the contract test can exercise IcebergCatalog without the jar)."""
    try:
        spark._jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")  # type: ignore[union-attr]
        return True
    except Exception:
        return False


class IcebergCatalog:
    """Real Iceberg snapshot commits — requires the Iceberg Spark runtime jar.

    Same ``commit``/``latest``/``table`` contract as ManifestCatalog (one
    shared contract test pins it: tests/test_sinks_and_evict.py): commit
    returns a Snapshot carrying metrics and the carried-forward table map
    (drop_prefixes honored), so engine code is catalog-agnostic. Physical
    differences: data lands as Iceberg ``createOrReplace`` table commits
    (Iceberg's own metadata tree supersedes the JSON manifest; metrics are
    additionally set as table properties on the first table committed), and
    ``table`` reads back through the catalog identifier. The snapshot LIST
    is tracked in-process for interface parity — a restarting driver should
    resume from Iceberg's snapshot log, which this sandbox (jar-less) can't
    exercise."""

    def __init__(self, spark: SparkSession, namespace: str = "upton"):
        if not iceberg_on_classpath(spark):
            raise RuntimeError(
                "Iceberg runtime not on the Spark classpath; use ManifestCatalog "
                "(add iceberg-spark-runtime to spark.jars to enable)"
            )
        self.spark = spark
        self.namespace = namespace
        self._snapshots: list[Snapshot] = []

    def commit(
        self,
        round_no: int,
        tables: dict[str, DataFrame],
        metrics: dict | None = None,
        drop_prefixes: tuple[str, ...] = (),
    ) -> Snapshot:
        parent = self.latest()
        sid = (parent.snapshot_id + 1) if parent else 1
        snap = Snapshot(sid, round_no, parent.snapshot_id if parent else None, {}, metrics or {})
        for name, df in tables.items():
            ident = f"{self.namespace}.{name}"
            df.writeTo(ident).using("iceberg").createOrReplace()
            snap.tables[name] = ident
        if metrics and tables:
            first = next(iter(snap.tables.values()))
            props = ", ".join(
                f"'upton.metrics.{k}'='{v}'" for k, v in metrics.items()
            )
            try:
                self.spark.sql(f"ALTER TABLE {first} SET TBLPROPERTIES ({props})")
            except Exception:
                pass  # metrics are advisory; the snapshot object carries them
        if parent:
            for name, ident in parent.tables.items():
                if any(name.startswith(p) for p in drop_prefixes):
                    continue
                snap.tables.setdefault(name, ident)
        self._snapshots.append(snap)
        return snap

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
        return self.spark.read.table(snap.tables[name])
