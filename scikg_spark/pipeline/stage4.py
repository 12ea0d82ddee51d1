"""Stage 4: table materialization with snapshots, per-file lineage and
resumable restarts.

On a production cluster these tables are Iceberg (``df.writeTo(catalog.table)
.createOrReplace()`` — snapshot isolation, partition pruning, time travel).
This sandbox has no Iceberg runtime jar, so ``SnapshotCatalog`` provides the
same contract on plain parquet directories:

  * atomic snapshot commit: data lands in ``<table>/snap-<id>/`` and the
    table-level ``manifest.json`` flips to the new snapshot last (readers
    always see a complete snapshot);
  * one Spark job per commit: the write job itself observes the table's
    ``rows`` and ``checksum`` (xor of per-row hashes), the per-file lineage
    ``{"file", "rows"}`` comes from the parquet footers on the driver, and
    the committed schema is stored in the manifest so a read infers nothing
    — the resume/metrics record the north rule asks for;
  * resume: ``is_complete(table)`` lets a rerun skip finished stages and
    ``read`` serves the committed snapshot, so a killed pipeline restarts
    from its last snapshot without recomputing completed work;
    :func:`verify_snapshot` re-derives the record on demand.

The writer API is deliberately Iceberg-shaped so swapping the backend is a
one-module change.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType


def _row_hash(columns: list[str]):
    """Per-row xxhash64 over ``columns`` cast to string; xor-folded into the
    table checksum, so neither row order nor file layout changes it."""
    return F.xxhash64(*[F.col(c).cast("string") for c in columns])


def _file_rows(snap_dir: str) -> dict[str, int]:
    """Rows per data file from the parquet footers, read on the driver (no
    Spark job), keyed by the path under the snapshot dir, e.g.
    ``kind=f/url_bucket=3/part-....parquet``."""
    import pyarrow.parquet as pq

    out = {}
    for dirpath, _, files in os.walk(snap_dir):
        for name in files:
            if name.startswith((".", "_")):  # .crc sidecars, _SUCCESS
                continue
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, snap_dir)] = pq.read_metadata(path).num_rows
    return out


def _write_json(path: str, obj: dict):
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(path + ".tmp", path)


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _snap_dir(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._table_dir(table), f"snap-{snapshot_id}")

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "manifest.json")

    def _history_path(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._table_dir(table), f"manifest-{snapshot_id}.json")

    def manifest(self, table: str) -> dict | None:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _snapshot_manifest(self, table: str, snapshot_id: int) -> dict:
        """The immutable history record of one committed snapshot."""
        path = self._history_path(table, snapshot_id)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"table {table!r} has no committed snapshot {snapshot_id}")
        with open(path) as f:
            return json.load(f)

    def is_complete(self, table: str) -> bool:
        m = self.manifest(table)
        return bool(m and m.get("status") == "committed")

    # -- write / read -----------------------------------------------------
    def _snapshot_ids(self, table: str) -> list[int]:
        """Committed snapshot ids, from the per-snapshot manifest history."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        ids = []
        for name in os.listdir(tdir):
            if name.startswith("manifest-") and name.endswith(".json"):
                try:
                    ids.append(int(name[len("manifest-"):-len(".json")]))
                except ValueError:
                    pass
        return sorted(ids)

    def write(self, df: DataFrame, table: str, partition_by=()) -> dict:
        """Commit ``df`` as the table's next snapshot in ONE Spark job: the
        write observes ``rows`` and ``checksum`` as it goes, and the per-file
        lineage is read from the footers afterwards. Raises before the
        pointer flips if the footers disagree with the observed count."""
        t0 = time.time()
        prev = self.manifest(table)
        # next id = max over ALL committed snapshots (not just the current
        # pointer) so a write after rollback() never overwrites history
        existing = self._snapshot_ids(table)
        snap_id = max([prev["snapshot_id"] if prev else 0] + existing) + 1
        snap_dir = self._snap_dir(table, snap_id)
        # committed column order: a parquet read puts partition columns last
        schema = StructType(
            [f for f in df.schema if f.name not in partition_by]
            + [df.schema[c] for c in partition_by])
        obs = Observation()
        writer = df.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.bit_xor(_row_hash(schema.names)).alias("checksum"),
        ).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap_dir)
        observed = obs.get
        lineage = [{"file": name, "rows": n}
                   for name, n in sorted(_file_rows(snap_dir).items())]
        in_files = sum(p["rows"] for p in lineage)
        if in_files != observed["rows"]:
            raise RuntimeError(
                f"snapshot {snap_dir}: data files hold {in_files} rows, the "
                f"write observed {observed['rows']}; not committed")
        manifest = {
            "table": table,
            "snapshot_id": snap_id,
            "status": "committed",
            "rows": observed["rows"],
            "checksum": str(observed["checksum"] or 0),
            "schema": schema.jsonValue(),
            "partition_by": list(partition_by),
            "lineage": lineage,
            "wall_ms": int((time.time() - t0) * 1000),
            "parent": prev["snapshot_id"] if prev else None,
        }
        # immutable per-snapshot manifest first (the history record), then
        # the current pointer — the pointer replace is the atomic commit
        _write_json(self._history_path(table, snap_id), manifest)
        _write_json(self._manifest_path(table), manifest)
        return manifest

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read the current snapshot, or TIME TRAVEL to ``snapshot_id``
        (any snapshot in the history — old snap dirs are immutable). The
        snapshot's own manifest supplies the schema, so no Spark job runs."""
        if snapshot_id is None:
            m = self.manifest(table)
            if not m or m.get("status") != "committed":
                raise FileNotFoundError(
                    f"table {table!r} has no committed snapshot")
        else:
            m = self._snapshot_manifest(table, snapshot_id)
        reader = self.spark.read
        if "schema" in m:  # absent in manifests written before it was stored
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(self._snap_dir(table, m["snapshot_id"]))

    def history(self, table: str) -> list[dict]:
        """All committed snapshot manifests, oldest first (Iceberg
        ``table.history()`` shape: id, parent, rows, lineage)."""
        return [self._snapshot_manifest(table, sid)
                for sid in self._snapshot_ids(table)]

    def incremental_read(self, table: str, from_snapshot: int,
                         to_snapshot: int | None = None):
        """Iceberg incremental-consumption surface (``incremental read`` /
        changelog scan): the rows ADDED and REMOVED between two committed
        snapshots — what a downstream consumer processes to catch up from
        ``from_snapshot`` without rescanning the table. Returns
        ``(added_df, removed_df)``; ``to_snapshot`` defaults to the current
        pointer. Both snapshots stay immutable on disk, so the diff is two
        ``exceptAll`` scans (multiset semantics: duplicate rows diff by
        count) — at 10^12 docs a real Iceberg changelog avoids the scans via
        per-file manifests, which is the swap-note path."""
        new = self.read(table, to_snapshot)
        old = self.read(table, from_snapshot)
        return new.exceptAll(old), old.exceptAll(new)

    def rollback(self, table: str, snapshot_id: int) -> dict:
        """Repoint the table to an older snapshot (atomic pointer swap; no
        data is rewritten, and later writes get fresh ids — history keeps
        the abandoned snapshots)."""
        manifest = self._snapshot_manifest(table, snapshot_id)
        _write_json(self._manifest_path(table), manifest)
        return manifest

    def expire_snapshots(self, table: str, keep_last: int = 2) -> list[int]:
        """Iceberg-style snapshot expiry (``expireSnapshots`` maintenance):
        delete snapshot data dirs + history manifests older than the
        ``keep_last`` most recent, ALWAYS keeping the current pointer's
        snapshot (a rolled-back table never loses its live data). Returns
        the removed snapshot ids; time travel to them raises afterwards."""
        import shutil

        current = self.manifest(table)
        ids = self._snapshot_ids(table)
        keep = set(ids[-keep_last:] if keep_last > 0 else [])
        if current:
            keep.add(current["snapshot_id"])
        removed = []
        for sid in ids:
            if sid in keep:
                continue
            shutil.rmtree(self._snap_dir(table, sid), ignore_errors=True)
            # idempotent like the rmtree: a concurrently-expired or manually
            # deleted manifest must not abort the loop mid-expiry
            with contextlib.suppress(FileNotFoundError):
                os.remove(self._history_path(table, sid))
            removed.append(sid)
        return removed

    def write_metrics(self, stage: str, payload: dict):
        """Append a stage-level metrics record (the `_metrics` table)."""
        path = os.path.join(self.base_dir, "_metrics.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps({"stage": stage, **payload}) + "\n")


def verify_snapshot(catalog: SnapshotCatalog, table: str) -> dict:
    """On-demand check of the current snapshot: re-read it, recompute
    ``(rows, checksum)`` and compare them with the values the write job
    observed, then compare every data file's footer rows with its lineage
    entry. Detects on-disk corruption or a manifest out of sync with its
    data; ``files`` names each data file that is missing, unexpected or
    holds a different row count."""
    manifest = catalog.manifest(table)
    if not manifest or manifest.get("status") != "committed":
        return {"ok": False, "error": "no committed snapshot"}
    df = catalog.read(table)
    got = df.select(F.count(F.lit(1)).alias("rows"),
                    F.bit_xor(_row_hash(df.columns)).alias("checksum")).first()
    checksum = str(got["checksum"] or 0)
    expected = {p["file"]: p["rows"] for p in manifest["lineage"]}
    on_disk = _file_rows(catalog._snap_dir(table, manifest["snapshot_id"]))
    files = sorted(f for f in expected.keys() | on_disk.keys()
                   if expected.get(f) != on_disk.get(f))
    return {"ok": (got["rows"] == manifest["rows"]
                   and checksum == manifest["checksum"] and not files),
            "rows_expected": manifest["rows"], "rows_actual": got["rows"],
            "checksum_expected": manifest["checksum"],
            "checksum_actual": checksum, "files": files}
