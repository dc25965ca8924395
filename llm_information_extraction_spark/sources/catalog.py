"""Table catalog: Iceberg when the runtime jar is present, else
parquet + JSON manifest with the same snapshot/commit semantics.

The north rule materializes ``triples`` / ``entities`` / ``metrics`` /
``lineage`` into Iceberg tables and resumes from the last committed
snapshot. This sandbox has no Iceberg jar on the classpath, so the shim
detects availability at session build and falls back to a
parquet-directory layout with an atomically-written ``_manifest.json``
recording committed snapshots:

    <warehouse>/<table>/snap_<NNNN>/part-*.parquet   write: Spark output
    <warehouse>/<table>/snap_<NNNN>.parquet          append: one driver file
    <warehouse>/<table>/_manifest.json   {"snapshots": [...], "current": k}

Readers always read the *current committed* snapshot, so a killed writer
(dead snapshot dir, manifest not updated) is invisible — exactly the
Iceberg commit contract the resume test relies on.

A commit starts no Spark job beyond the write itself. Each manifest
entry records the written schema (``df.schema.json()``, so a read skips
schema inference) and the rows of each data file it added, read from the
parquet footers. An append snapshot holds only its own file and names
its ``parent``; a read takes the whole chain, so appending costs O(1)
I/O. Entries from before these fields existed read as before: schema
inferred, rows unknown.
"""

from __future__ import annotations

import json
import os
import posixpath
import tempfile
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..session import local_frame


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg SparkCatalog class is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[attr-defined]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


@dataclass(frozen=True)
class Commit:
    """One committed snapshot: its id and the rows of each data file it
    wrote (file name -> rows, in file-name order), or ``None`` when the
    snapshot was committed without per-file rows."""

    snapshot_id: int
    file_rows: dict[str, int] | None

    @property
    def rows(self) -> int | None:
        return None if self.file_rows is None else sum(self.file_rows.values())


def _footer_rows(directory: str) -> dict[str, int]:
    """Rows per ``part-*`` file of a Spark parquet write (footers only)."""
    return {
        p.name: pq.read_metadata(p).num_rows
        for p in sorted(Path(directory).glob("part-*"))
    }


@dataclass
class Catalog:
    """Snapshot-committing table store (Iceberg-or-parquet)."""

    spark: SparkSession
    warehouse: str
    use_iceberg: bool | None = None
    _iceberg: bool = field(init=False)

    def __post_init__(self) -> None:
        os.makedirs(self.warehouse, exist_ok=True)
        self._iceberg = (
            iceberg_available(self.spark)
            if self.use_iceberg is None
            else self.use_iceberg
        )

    # -- manifest helpers (parquet fallback) -------------------------------
    def _manifest_path(self, table: str) -> Path:
        return Path(self.warehouse) / table / "_manifest.json"

    def _read_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not p.exists():
            return {"snapshots": [], "current": None}
        return json.loads(p.read_text())

    def _write_manifest(self, table: str, manifest: dict) -> None:
        p = self._manifest_path(table)
        p.parent.mkdir(parents=True, exist_ok=True)
        # atomic rename = the "commit" (same guarantee Iceberg's metadata
        # pointer swap provides)
        fd, tmp = tempfile.mkstemp(dir=str(p.parent), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, p)

    def _commit_meta(
        self, table: str, path: str, meta: dict | None, **entry
    ) -> int:
        """Append + point the manifest at a new snapshot id (the commit).

        ``entry`` adds fields to the snapshot record: ``schema``,
        ``rows`` (file name -> rows) and, for appends, ``parent``.
        """
        m = self._read_manifest(table)
        snap_id = (m["current"] + 1) if m["current"] is not None else 0
        m["snapshots"].append(
            {"id": snap_id, "path": path, "meta": meta or {}, **entry}
        )
        m["current"] = snap_id
        self._write_manifest(table, m)
        return snap_id

    @staticmethod
    def _snapshot(m: dict, sid: int) -> dict:
        return next(s for s in m["snapshots"] if s["id"] == sid)

    def _next_path(self, table: str, suffix: str = "") -> tuple[Path, int | None]:
        """Path for the next snapshot's data, and the current snapshot id."""
        current = self._read_manifest(table)["current"]
        snap_id = 0 if current is None else current + 1
        return Path(self.warehouse) / table / f"snap_{snap_id:06d}{suffix}", current

    def _iceberg_file_rows(self, table: str) -> dict[str, int]:
        files = self.spark.table(f"{table}.files").select(
            "file_path", "record_count"
        )
        return {
            posixpath.basename(path): int(rows)
            for path, rows in sorted(files.collect())
        }

    # -- public API ---------------------------------------------------------
    def write(self, table: str, df: DataFrame, meta: dict | None = None) -> Commit:
        """Write a new snapshot of ``table``; returns its :class:`Commit`.

        The snapshot only becomes visible once the manifest commit lands;
        a crash mid-write leaves the previous snapshot current. The
        Iceberg branch keeps the SAME side manifest for meta/snapshot-id
        bookkeeping (Iceberg holds the data, the manifest holds the
        pipeline's config fingerprints), so snapshot_meta()/exists() see
        one consistent view on both branches and resume works under
        Iceberg too. A crash between the Iceberg commit and the manifest
        commit re-runs the stage — the safe direction (idempotent
        createOrReplace). Per-file rows come from the table's ``files``
        metadata there (one metadata job), from the footers here.
        """
        if self._iceberg:
            df.writeTo(f"{table}").createOrReplace()
            rows = self._iceberg_file_rows(table)
            sid = self._commit_meta(table, f"iceberg:{table}", meta, rows=rows)
            return Commit(sid, rows)
        path, _ = self._next_path(table)
        df.write.mode("overwrite").parquet(str(path))
        rows = _footer_rows(str(path))
        sid = self._commit_meta(
            table, str(path), meta, schema=df.schema.json(), rows=rows
        )
        return Commit(sid, rows)

    def append(self, table: str, rows: list[dict], schema: StructType) -> int:
        """Append driver-built ``rows`` to ``table`` as one new file;
        returns the snapshot id. Both branches build one Arrow table: the
        parquet branch writes it with pyarrow and starts no Spark job;
        Iceberg appends it as a local frame with ``writeTo(...).append()``."""
        arrow = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        if self._iceberg:
            writer = local_frame(self.spark, arrow, schema).writeTo(table)
            if self.spark.catalog.tableExists(table):
                writer.append()
            else:
                writer.create()
            return self._commit_meta(table, f"iceberg:{table}", None)
        path, parent = self._next_path(table, ".parquet")
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(arrow, path)
        return self._commit_meta(
            table, str(path), None, schema=schema.json(),
            rows={path.name: len(rows)}, parent=parent,
        )

    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        if self._iceberg:
            if snapshot is not None:
                raise NotImplementedError(
                    "per-snapshot reads under Iceberg need time-travel "
                    "(VERSION AS OF); only the current table is wired"
                )
            return self.spark.table(table)
        m = self._read_manifest(table)
        sid = m["current"] if snapshot is None else snapshot
        if sid is None:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        chain = [self._snapshot(m, sid)]
        while chain[-1].get("parent") is not None:
            chain.append(self._snapshot(m, chain[-1]["parent"]))
        reader = self.spark.read
        if "schema" in chain[0]:
            reader = reader.schema(StructType.fromJson(json.loads(chain[0]["schema"])))
        return reader.parquet(*(s["path"] for s in reversed(chain)))

    def exists(self, table: str) -> bool:
        if self._iceberg:
            # both the Iceberg table AND the manifest commit must exist —
            # a crash between them must read as "not committed"
            return (
                self.spark.catalog.tableExists(table)
                and self._read_manifest(table)["current"] is not None
            )
        return self._read_manifest(table)["current"] is not None

    def current_snapshot(self, table: str) -> int | None:
        return self._read_manifest(table)["current"]

    def last_commit(self, table: str) -> Commit | None:
        """The current snapshot's :class:`Commit` (``None`` if none)."""
        m = self._read_manifest(table)
        if m["current"] is None:
            return None
        snap = self._snapshot(m, m["current"])
        return Commit(snap["id"], snap.get("rows"))

    def snapshot_meta(self, table: str) -> dict:
        m = self._read_manifest(table)
        if m["current"] is None:
            return {}
        return self._snapshot(m, m["current"])["meta"]
