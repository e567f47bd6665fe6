"""Atomic, snapshot-versioned parquet tables (Iceberg-like semantics).

The sandbox image ships no Iceberg/Delta jars, so resumable state
(SURVEY.md §7.1: frontier / url_seen / documents / lineage) is kept in
a minimal snapshot layer with the same *semantics* the design needs
from Iceberg:

* **atomic commit** — data files land first, then a single JSON
  manifest is published via ``os.replace`` (atomic on POSIX). Readers
  only ever see the table as-of a published manifest; a killed writer
  leaves garbage data files but never a torn table.
* **append / overwrite / merge-insert** — append adds a data dir to
  the manifest's cumulative list; MERGE INTO (insert-if-absent, the
  reference's sink-side dedup D5/D6, ``suricata.py:126-195``) is an
  anti-join + append.
* **time travel / rollback** — every manifest is retained; resume
  after a kill re-pins each state table to the snapshot ids recorded
  in the last complete lineage row (SURVEY.md §7.2 M5).

Every commit goes through one private step, ``SnapshotTable._publish``
(next manifest = parent's dirs + new dirs, or new dirs alone for an
overwrite; then the ``CURRENT`` pointer write that ``rollback`` also
uses). The exactly-once protocol over several tables lives here too,
as two functions that the crawl engine and both ingest states call:

* :func:`commit_lineage` — after a round's / batch's data appends,
  append one lineage row carrying each state table's current snapshot
  id (a ``{column: table}`` pin map) plus the caller's counters;
* :func:`resume_lineage` — re-pin every mapped table to the last
  lineage row by the owner's order column (``round`` / ``seq``), or to
  empty when none committed, so a torn append is rolled back.

On a real cluster this module is swapped for Iceberg catalog tables.
State code uses seven methods of :class:`SnapshotTable` — ``read``,
``append``, ``append_dir``, ``append_rows``, ``overwrite``,
``current_snapshot`` and ``rollback`` (the last three through the
lineage functions) — plus ``merge_insert`` (an anti-join + append) and
the ``data_dir`` path the crawl stages into, so the swap is mechanical.

Layout::

    <root>/<name>/data/snap-<id>-<uuid>/part-*.parquet
    <root>/<name>/_manifest/<id:08d>.json   # {"id", "parent", "dirs": [...]}
    <root>/<name>/_manifest/CURRENT         # text: latest id
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, name: str, schema: T.StructType):
        self.spark = spark
        self.name = name
        self.schema = schema
        self.dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.dir, "data")
        self.manifest_dir = os.path.join(self.dir, "_manifest")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------
    def current_snapshot(self) -> int:
        """Latest committed snapshot id; -1 for an empty table."""
        cur = os.path.join(self.manifest_dir, "CURRENT")
        if not os.path.exists(cur):
            return -1
        with open(cur) as f:
            return int(f.read().strip())

    def _manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.manifest_dir, f"{snapshot_id:08d}.json")) as f:
            return json.load(f)

    def _new_dir(self) -> str:
        """Data dir for the next snapshot's files."""
        return os.path.join(self.data_dir, f"snap-{self.current_snapshot() + 1:08d}"
                                           f"-{uuid.uuid4().hex[:8]}")

    def _write_data(self, df: DataFrame) -> str:
        d = self._new_dir()
        df.write.mode("overwrite").parquet(d)
        return d

    def _publish(self, dirs: list[str], replace: bool = False) -> int:
        """The one commit step: build the next manifest (the parent's
        dirs plus ``dirs``, or ``dirs`` alone when ``replace``), publish
        it atomically and advance CURRENT. Returns the new snapshot id."""
        parent = self.current_snapshot()
        sid = parent + 1
        kept = [] if replace or parent < 0 else self._manifest(parent)["dirs"]
        path = os.path.join(self.manifest_dir, f"{sid:08d}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"id": sid, "parent": parent, "dirs": [*kept, *dirs]}, f)
        os.replace(tmp, path)
        self.rollback(sid)
        return sid

    # -- operations ------------------------------------------------------
    def append(self, df: DataFrame) -> int:
        """Atomic append; returns the new snapshot id."""
        return self._publish([self._write_data(df)])

    def append_dir(self, path: str | list[str]) -> int:
        """Adopt one or more already-written parquet directories as a
        single append — zero-copy commit (the round's staging write IS
        the data file; Iceberg's add_files analog). Files may carry
        extra columns; reads project this table's schema."""
        return self._publish([path] if isinstance(path, str) else list(path))

    _PA_TYPES = {
        "integer": "int32", "long": "int64", "string": "string",
        "double": "float64", "boolean": "bool_",
    }

    def append_rows(self, rows: list[tuple]) -> int:
        """Atomic append of a handful of driver-local rows WITHOUT a
        Spark job: the data file is written by pyarrow on the driver,
        then the manifest publishes as usual. This is what a real
        Iceberg driver does for metadata-sized commits — a lineage row
        per crawl round is one record, and scheduling a distributed
        write for it costs more than the write (one full job + task
        round trip per round, pure fixed overhead at any cluster
        size). Readers see the same table: ``read()`` projects the
        declared schema over the parquet file regardless of writer.
        Only flat int/long/string/double/bool schemas supported (the
        lineage shapes)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = []
        for f in self.schema.fields:
            tname = f.dataType.typeName()
            if tname not in self._PA_TYPES:
                raise TypeError(
                    f"append_rows supports flat scalar schemas only; "
                    f"{f.name} is {tname}")
            fields.append(pa.field(f.name, getattr(pa, self._PA_TYPES[tname])()))
        pa_schema = pa.schema(fields)
        for r in rows:
            if len(r) != len(fields):
                raise ValueError(
                    f"append_rows row arity {len(r)} != schema arity "
                    f"{len(fields)} (extra values would be silently "
                    f"dropped)")
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table = pa.table(
            {f.name: list(c) for f, c in zip(pa_schema, cols)},
            schema=pa_schema)
        d = self._new_dir()
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        return self._publish([d])

    def overwrite(self, df: DataFrame) -> int:
        """Atomic replace of the whole row set; returns the new snapshot id."""
        return self._publish([self._write_data(df)], replace=True)

    def merge_insert(self, df: DataFrame, key: str | list[str]) -> int:
        """MERGE INTO ... WHEN NOT MATCHED THEN INSERT (reference D5/D6).

        Rows of ``df`` whose key is absent from the current snapshot are
        appended; existing rows are untouched. Key-dup rows within
        ``df`` itself are first-wins-deduplicated by the caller.
        """
        keys = [key] if isinstance(key, str) else list(key)
        existing = self.read()
        novel = df.join(existing.select(*keys), on=keys, how="left_anti")
        return self.append(novel)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Table as-of a snapshot (default: current). Empty DF if none."""
        sid = self.current_snapshot() if snapshot_id is None else snapshot_id
        if sid < 0:
            return self.spark.createDataFrame([], self.schema)
        dirs = self._manifest(sid)["dirs"]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def rollback(self, snapshot_id: int) -> None:
        """Atomically point CURRENT at ``snapshot_id`` (-1: empty
        table). Resume re-pins with it; :meth:`_publish` advances with
        it."""
        cur = os.path.join(self.manifest_dir, "CURRENT")
        if snapshot_id < 0:
            if os.path.exists(cur):
                os.remove(cur)
            return
        tmp = f"{cur}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, cur)


# -- lineage: the commit marker over a set of state tables ----------------
def commit_lineage(lineage: SnapshotTable, pins: dict[str, SnapshotTable],
                   **values) -> int:
    """Append one lineage row — the commit marker, written after every
    data append it covers. Each ``pins`` column (``{column: table}``)
    gets its table's current snapshot id; ``values`` fill the other
    columns. Driver-side (:meth:`SnapshotTable.append_rows`), no Spark
    job. Returns the lineage snapshot id."""
    row = {**values, **{col: t.current_snapshot() for col, t in pins.items()}}
    names = lineage.schema.fieldNames()
    if set(row) != set(names):
        raise ValueError(f"lineage row columns {sorted(row)} != schema {names}")
    return lineage.append_rows([tuple(row[n] for n in names)])


def resume_lineage(lineage: SnapshotTable, pins: dict[str, SnapshotTable],
                   order_col: str) -> Row | None:
    """Re-pin every ``pins`` table to the snapshot id its column holds
    in the last lineage row by ``order_col`` — or to empty when no row
    ever committed. Appends whose lineage row never landed are rolled
    back, never replayed partially. Returns that row, or None."""
    rows = lineage.read().orderBy(F.col(order_col).desc()).limit(1).collect()
    last = rows[0] if rows else None
    for col, t in pins.items():
        t.rollback(last[col] if last is not None else -1)
    return last
