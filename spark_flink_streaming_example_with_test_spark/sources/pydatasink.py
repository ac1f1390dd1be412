"""Custom sink via Spark 4's Python DataSource API: a
manifest-committing parquet directory sink —
``df.write.format("manifest_parquet")`` and
``df.writeStream.format("manifest_parquet")`` — the pure-Python analog
of a DataSourceV2 writer with a commit protocol (SURVEY §2.1's JDBC
sink is the JVM instance of the same extension point).

Commit protocol (the point of this module — the file IO is plain
local/NFS IO here; a production build swaps in an object store client
without touching the protocol):

- every write task streams its pyarrow RecordBatches, one at a time,
  into a uniquely-named ``data/part-<uuid>.parquet`` and returns the
  filename + row count as its ``WriterCommitMessage`` (an empty
  partition writes no file);
- nothing is visible until the DRIVER commit writes a manifest under
  ``_manifest/`` listing exactly the committed files — readers
  resolve the manifest set, so half-written task output and files
  from failed/aborted attempts are invisible garbage, never partial
  reads;
- the streaming commit keys its manifest by ``batchId`` and
  OVERWRITES it on replay: a micro-batch re-run after a crash
  re-lands its data under the same manifest, so readers see the
  batch exactly once (the orphaned files of the failed attempt stay
  unmanifested);
- ``abort`` best-effort deletes the reported task files.

Scale posture: tasks write independently (no driver data path, no
renames, no per-row Python, no partition buffered in memory); the
driver handles only filenames — O(tasks) metadata, the same shape as
a cloud-committer. Append-only by design: overwrite semantics belong
to a table format and are rejected loudly.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)


@dataclass
class _FileCommit(WriterCommitMessage):
    file: str
    rows: int


def _write_manifest(path: str, name: str, messages) -> None:
    mdir = os.path.join(path, "_manifest")
    os.makedirs(mdir, exist_ok=True)
    files = [
        {"file": m.file, "rows": m.rows}
        for m in messages
        if m is not None and m.file
    ]
    tmp = os.path.join(mdir, f".{name}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"files": files}, f)
    # Atomic publish: a manifest is either fully visible or absent.
    os.replace(tmp, os.path.join(mdir, name))


def _abort(messages) -> None:
    for m in messages or []:
        if m is not None and m.file:
            try:
                os.remove(m.file)
            except OSError:
                pass


class _ManifestParquetWriter(DataSourceArrowWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        import pyarrow.parquet as pq

        fname, rows, out = "", 0, None
        try:
            for batch in iterator:
                if out is None:
                    data_dir = os.path.join(self.path, "data")
                    os.makedirs(data_dir, exist_ok=True)
                    fname = os.path.join(
                        data_dir, f"part-{uuid.uuid4().hex}.parquet"
                    )
                    out = pq.ParquetWriter(fname, batch.schema)
                out.write_batch(batch)
                rows += batch.num_rows
        finally:
            if out is not None:
                out.close()
        return _FileCommit(file=fname, rows=rows)

    def commit(self, messages):
        _write_manifest(self.path, f"batch-{uuid.uuid4().hex}.json", messages)

    def abort(self, messages):
        _abort(messages)


class _ManifestParquetStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options):
        self.path = options["path"]

    # Reuse the batch task-side logic; only the commit keying differs.
    write = _ManifestParquetWriter.write

    def commit(self, messages, batchId: int):
        # batchId-keyed + os.replace = idempotent on micro-batch
        # replay: the re-run's manifest supersedes the failed
        # attempt's, whose data files stay unmanifested.
        _write_manifest(self.path, f"streambatch-{batchId:020d}.json", messages)

    def abort(self, messages, batchId: int):
        _abort(messages)


class ManifestParquetDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_parquet"

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "manifest_parquet is append-only: overwrite semantics need "
                "a table format; use mode('append')"
            )
        return _ManifestParquetWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError("manifest_parquet is append-only")
        return _ManifestParquetStreamWriter(self.options)


def committed_files(path: str) -> list[str]:
    """Files published by ANY committed manifest (batch or stream) —
    the reader-side half of the protocol. Uncommitted part files are
    intentionally invisible."""
    mdir = os.path.join(path, "_manifest")
    if not os.path.isdir(mdir):
        return []
    out: list[str] = []
    for name in sorted(os.listdir(mdir)):
        if name.startswith("."):
            continue
        with open(os.path.join(mdir, name), encoding="utf-8") as f:
            out.extend(e["file"] for e in json.load(f)["files"])
    return out


def read_committed(spark, path: str):
    """Read the committed content of a manifest_parquet directory;
    parquet keeps the written column types."""
    files = committed_files(path)
    if not files:
        raise FileNotFoundError(f"no committed manifests under {path}")
    return spark.read.parquet(*files)


def register(spark) -> None:
    spark.dataSource.register(ManifestParquetDataSource)
