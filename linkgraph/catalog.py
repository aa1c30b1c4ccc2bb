"""Table catalog seam (SURVEY §1.3).

BASELINE requires Iceberg tables for the corpus input and the
per-superstep checkpoint/lineage state. This sandbox's Spark build has
no Iceberg runtime jar (verified; no network to fetch one), so the
seam has two providers with one interface:

- `IcebergCatalog` — the production path: identifiers resolve through
  a configured Spark catalog (`spark.sql.catalog.<name>` set at
  spark-submit time with the iceberg-spark-runtime jar). Snapshot
  commit/read/time-travel are Iceberg's own.
- `ParquetManifestCatalog` — the in-sandbox emulation: one directory
  per table of Parquet snapshot dirs plus an append-only
  `_manifest.json`, giving the two Iceberg properties the engine
  depends on: ATOMIC snapshot commit (write to tmp dir → fsync →
  os.rename, then manifest rewrite via tmp+rename) and "find latest /
  specific snapshot" for mid-iteration resume.

Engine code (checkpoint.py, run.py) talks only to this interface.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: str
    table: str
    path: str
    meta: dict


class ParquetManifestCatalog:
    """Parquet-dir-per-snapshot + JSON manifest emulation of an
    Iceberg table. Safe under the engine's single-writer-per-run use."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- internals ---------------------------------------------------
    def _tdir(self, table: str) -> str:
        d = os.path.join(self.root, table)
        os.makedirs(d, exist_ok=True)
        return d

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_manifest.json")

    def _read_manifest(self, table: str) -> list[dict]:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, entries: list[dict]) -> None:
        p = self._manifest_path(table)
        tmp = p + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, p)  # atomic commit point

    # -- interface ---------------------------------------------------
    def write_snapshot(self, table: str, df: DataFrame, meta: dict | None = None) -> Snapshot:
        sid = uuid.uuid4().hex[:16]
        tdir = self._tdir(table)
        tmp = os.path.join(tdir, f"_tmp_{sid}")
        final = os.path.join(tdir, f"snap_{sid}")
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, final)
        entries = self._read_manifest(table)
        entry = {"snapshot_id": sid, "path": final, "meta": meta or {}}
        entries.append(entry)
        self._commit_manifest(table, entries)
        return Snapshot(sid, table, final, meta or {})

    def append(self, table: str, df: DataFrame, meta: dict | None = None) -> Snapshot:
        """Append rows as a new snapshot; `read_all` unions snapshots."""
        return self.write_snapshot(table, df, {**(meta or {}), "mode": "append"})

    def snapshots(self, table: str) -> list[Snapshot]:
        return [
            Snapshot(e["snapshot_id"], table, e["path"], e.get("meta", {}))
            for e in self._read_manifest(table)
        ]

    def latest(self, table: str, predicate=None) -> Snapshot | None:
        snaps = self.snapshots(table)
        if predicate is not None:
            snaps = [s for s in snaps if predicate(s.meta)]
        return snaps[-1] if snaps else None

    def update_latest_meta(self, table: str, extra: dict, predicate=None) -> Snapshot:
        """Merge `extra` into the newest (matching) snapshot's meta —
        an atomic manifest rewrite, no data movement. Lets finish()
        tag an existing checkpoint final instead of rewriting it."""
        entries = self._read_manifest(table)
        for e in reversed(entries):
            meta = e.get("meta", {})
            if predicate is None or predicate(meta):
                e["meta"] = {**meta, **extra}
                self._commit_manifest(table, entries)
                return Snapshot(e["snapshot_id"], table, e["path"], e["meta"])
        raise FileNotFoundError(f"no matching snapshot to retag in {table}")

    def read_snapshot(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table}")
        if snapshot_id is None:
            return self.spark.read.parquet(snaps[-1].path)
        for s in snaps:
            if s.snapshot_id == snapshot_id:
                return self.spark.read.parquet(s.path)
        raise KeyError(f"{table}@{snapshot_id}")

    def read_all(self, table: str) -> DataFrame:
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table}")
        return self.spark.read.parquet(*[s.path for s in snaps])


class IcebergCatalog:
    """Production provider: requires iceberg-spark-runtime on the
    classpath and a configured catalog name. Mirrors the full emulation
    interface used by CheckpointManager (write/append/snapshots/latest/
    read_snapshot/update_latest_meta); snapshot ids are Iceberg's own.

    Engine meta (run_id, superstep, final, …) is persisted in a side
    table `<table>__meta` (snapshot_id, meta JSON, seq) appended in the
    same logical commit sequence — Iceberg snapshot summary properties
    are not settable through the DataFrame API, and a queryable side
    table also gives cheap predicate scans for try_resume. NOTE: this
    provider has never executed against a real Iceberg runtime in this
    sandbox (no runtime jar; documented in the module docstring)."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "linkgraph"):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.prefix}")

    def _ident(self, table: str) -> str:
        return f"{self.prefix}.{table}"

    def _meta_ident(self, table: str) -> str:
        return f"{self.prefix}.{table}__meta"

    def _append_meta(self, table: str, snapshot_id: str, meta: dict) -> None:
        import time as _time

        row = self.spark.createDataFrame(
            [(snapshot_id, json.dumps(meta), float(_time.time()))],
            "snapshot_id string, meta string, seq double",
        )
        ident = self._meta_ident(table)
        # explicit existence check, not try/except-create: a genuine
        # append failure (schema mismatch, permissions) must surface
        # as itself, not as a confusing "table already exists"
        if self.spark.catalog.tableExists(ident):
            row.writeTo(ident).append()
        else:
            row.writeTo(ident).create()

    def write_snapshot(self, table: str, df: DataFrame, meta: dict | None = None) -> Snapshot:
        ident = self._ident(table)
        df.writeTo(ident).createOrReplace()
        sid = str(
            self.spark.sql(
                f"SELECT snapshot_id FROM {ident}.snapshots ORDER BY committed_at DESC LIMIT 1"
            ).first()[0]
        )
        self._append_meta(table, sid, meta or {})
        return Snapshot(sid, table, ident, meta or {})

    def append(self, table: str, df: DataFrame, meta: dict | None = None) -> Snapshot:
        ident = self._ident(table)
        if self.spark.catalog.tableExists(ident):
            df.writeTo(ident).append()
        else:
            df.writeTo(ident).create()
        sid = str(
            self.spark.sql(
                f"SELECT snapshot_id FROM {ident}.snapshots ORDER BY committed_at DESC LIMIT 1"
            ).first()[0]
        )
        self._append_meta(table, sid, {**(meta or {}), "mode": "append"})
        return Snapshot(sid, table, ident, meta or {})

    def snapshots(self, table: str) -> list[Snapshot]:
        """Committed snapshots in Iceberg commit order, meta joined from
        the side table (last meta row per snapshot_id wins — retags
        append). The data commit and the meta append are two
        non-atomic writes; driving the listing from the DATA table's
        own `.snapshots` metadata makes a crash between them yield a
        visible snapshot with empty meta instead of an invisible one
        (meta-less snapshots simply match no run_id predicate)."""
        from pyspark.errors import AnalysisException

        ident = self._ident(table)
        try:
            committed = [
                (r["committed_at"], str(r["snapshot_id"]))
                for r in self.spark.sql(
                    f"SELECT committed_at, snapshot_id FROM {ident}.snapshots"
                ).collect()
            ]
        except AnalysisException as e:  # data table missing → no snapshots
            raise FileNotFoundError(f"no snapshots for table {table}") from e
        by_sid: dict[str, dict] = {}
        seq_of: dict[str, float] = {}
        if self.spark.catalog.tableExists(self._meta_ident(table)):
            for r in (
                self.spark.read.table(self._meta_ident(table))
                .orderBy("seq")
                .collect()
            ):
                sid = str(r["snapshot_id"])
                by_sid[sid] = json.loads(r["meta"])
                seq_of.setdefault(sid, float(r["seq"]))  # first append wins
        # committed_at has millisecond resolution — two fast commits can
        # tie, and latest()/update_latest_meta must not pick arbitrarily.
        # The meta seq (driver-monotonic) breaks ties for engine-written
        # snapshots; snapshot_id last for full determinism.
        committed.sort(key=lambda ts: (ts[0], seq_of.get(ts[1], float("inf")), ts[1]))
        return [
            Snapshot(s, table, ident, by_sid.get(s, {})) for _, s in committed
        ]

    def latest(self, table: str, predicate=None) -> Snapshot | None:
        snaps = self.snapshots(table)
        if predicate is not None:
            snaps = [s for s in snaps if predicate(s.meta)]
        return snaps[-1] if snaps else None

    def update_latest_meta(self, table: str, extra: dict, predicate=None) -> Snapshot:
        for s in reversed(self.snapshots(table)):
            if predicate is None or predicate(s.meta):
                merged = {**s.meta, **extra}
                self._append_meta(table, s.snapshot_id, merged)
                return Snapshot(s.snapshot_id, table, s.path, merged)
        raise FileNotFoundError(f"no matching snapshot to retag in {table}")

    def read_snapshot(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        ident = self._ident(table)
        if snapshot_id is None:
            return self.spark.read.table(ident)
        return (
            self.spark.read.option("snapshot-id", snapshot_id).table(ident)
        )

    def read_all(self, table: str) -> DataFrame:
        return self.spark.read.table(self._ident(table))


def iceberg_available(spark: SparkSession) -> bool:
    """Whether the Iceberg Spark runtime is on the JVM classpath. Only
    the ClassNotFoundException (a Py4JJavaError) means "absent"; any
    other failure, a dead gateway included, propagates."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Py4JJavaError:
        return False


def get_catalog(spark: SparkSession, root_or_catalog: str):
    """Provider selection: an Iceberg catalog name if the runtime is on
    the classpath and the name is configured, else parquet emulation
    rooted at a local/DFS path."""
    if iceberg_available(spark) and not root_or_catalog.startswith(("/", "file:", "hdfs:", "s3:")):
        return IcebergCatalog(spark, root_or_catalog)
    return ParquetManifestCatalog(spark, root_or_catalog)
