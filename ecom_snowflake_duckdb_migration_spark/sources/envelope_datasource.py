"""Spark 4 Python DataSource for the reference's envelope-JSON format.

``spark.read.format("ecom_envelope").option("path", dir).load()`` — the
S3-drop format (`{metadata: {table, recordCount, generatedAt, version},
data: [...]}`; reference builds it at
src/pipeline/0_generate_historic_synthetic_data.py:436-444) as a
first-class source instead of a read-then-explode helper. Built on the
Spark 4 Python DataSource API (pyspark.sql.datasource): one partition PER
ENVELOPE FILE, so a directory of daily drops scans in parallel and a 1000-
executor cluster assigns files to tasks exactly like the built-in readers.

What the native source adds over ``read_envelope_json`` (which stays the
hot-path reader — JVM JSON parsing beats Python row emission; this source
is the extensibility demonstration and the place where per-file,
per-envelope validation logic lives naturally):
- per-file recordCount validation DURING the scan (option
  ``validate_count``) — a bad drop fails the task that read it, with the
  file name in the error;
- schema inference from one envelope ("peek one object" — the same move
  the reference's pandas loader makes implicitly);
- lineage columns for free: ``_envelope_file``, ``_generated_at``.

Rows cross the Python worker boundary via Arrow batches (the API's
iterator-of-tuples path); fine for control-plane volumes, not for the
100 TB fact path — documented trade, same stance as the multimodal UDFs.
Files are read with Python ``open`` on the workers (no JVM there), not the
driver-side Hadoop-FS helpers in ``writers``: paths must be local.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _envelope_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    # recursive: a flat drop directory AND the streaming sink's batch-keyed
    # tree (out/batch_id=N/part-*.json) both read with the same call;
    # '**' matches zero or more directories, so flat files still hit
    hits = sorted(
        p
        for pat in ("*.json", "*.txt")
        for p in glob.glob(os.path.join(path, "**", pat), recursive=True)
    )
    if not hits:
        raise FileNotFoundError(f"no envelope files under {path!r}")
    return hits


def _load_envelopes(file: str) -> list[dict]:
    """A file is either ONE pretty-printed envelope (reference S3 object)
    or JSON-Lines with one envelope per line (write_envelope_json)."""
    with open(file) as f:
        text = f.read()
    try:
        doc = json.loads(text)
        return [doc] if isinstance(doc, dict) else list(doc)
    except json.JSONDecodeError:
        return [json.loads(line) for line in text.splitlines() if line.strip()]


def _envelope_rows(schema: StructType, options: dict, files: list[str]):
    """Rows of ``files`` in ``schema`` order, each ending with its lineage
    columns (``_envelope_file``, ``_generated_at``). With option
    ``validate_count`` an envelope whose ``recordCount`` disagrees with its
    data raises, naming the file."""
    validate = str(options.get("validate_count", "false")).lower() == "true"
    names = [f.name for f in schema.fields if not f.name.startswith("_")]
    for file in files:
        for env in _load_envelopes(file):
            meta = env.get("metadata") or {}
            data = env.get("data") or []
            declared = meta.get("recordCount")
            if validate and declared is not None and declared != len(data):
                raise ValueError(
                    f"envelope {file}: recordCount={declared} "
                    f"but data holds {len(data)} rows"
                )
            gen_at = meta.get("generatedAt")
            for row in data:
                yield tuple(row.get(n) for n in names) + (file, gen_at)


class _EnvelopePartition(InputPartition):
    def __init__(self, file: str):
        self.file = file


class EnvelopeReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._options = options

    def partitions(self):
        return [_EnvelopePartition(f) for f in _envelope_files(self._options["path"])]

    def read(self, partition: _EnvelopePartition):
        return _envelope_rows(self._schema, self._options, [partition.file])


class EnvelopeDataSource(DataSource):
    """format("ecom_envelope"): options path, validate_count; schema
    inferred from the first envelope's first row when not provided."""

    @classmethod
    def name(cls) -> str:
        return "ecom_envelope"

    def schema(self) -> str:
        first_file = _envelope_files(self.options["path"])[0]
        env = _load_envelopes(first_file)[0]
        rows = env.get("data") or []
        if not rows:
            raise ValueError(f"cannot infer schema: {first_file!r} has no data rows")
        parts = []
        for key, val in rows[0].items():
            if isinstance(val, bool):
                t = "boolean"
            elif isinstance(val, int):
                t = "bigint"
            elif isinstance(val, float):
                t = "double"
            else:
                t = "string"
            parts.append(f"{key} {t}")
        parts.append("_envelope_file string")
        parts.append("_generated_at string")
        return ", ".join(parts)

    def reader(self, schema: StructType) -> DataSourceReader:
        return EnvelopeReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "EnvelopeWriter":
        return EnvelopeWriter(schema, dict(self.options), overwrite)

    def simpleStreamReader(self, schema: StructType) -> "EnvelopeStreamReader":
        return EnvelopeStreamReader(schema, dict(self.options))


class EnvelopeStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("ecom_envelope")`` — stream a drop
    directory: each micro-batch picks up envelope files that sort AFTER
    the last processed name, so the daily S3-drop cadence becomes a
    structured stream with the same per-file ``validate_count`` as the
    batch reader.

    Offset contract: ``{"last": <highest file basename processed>}`` —
    tiny, JSON-stable, and replayable (``readBetweenOffsets`` re-reads
    exactly the (start, end] name range, giving exactly-once through the
    engine's offset log). It REQUIRES monotone drop names (date-stamped
    files like ``drop_2026-08-14.json`` — the reference's daily-drop
    naming); a file landing with a name <= the high-water mark is
    ignored, the same contract as every file-queue source keyed on a
    sortable id. Python row emission, control-plane volumes — same
    stance as the batch reader."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._options = options

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _files_after(self, last: str, upto: str | None = None) -> list[str]:
        files = _envelope_files_or_empty(self._options["path"])
        out = []
        for f in files:
            base = os.path.basename(f)
            if base > last and (upto is None or base <= upto):
                out.append(f)
        return out

    def read(self, start: dict):
        files = self._files_after(start.get("last", ""))
        if not files:
            return iter(()), start
        end = {"last": os.path.basename(files[-1])}
        # materialized list, not a generator: the engine's prefetch cache
        # copy.copy()s the iterator (datasource_internal.getCache), which
        # list iterators support and generators do not
        return iter(list(_envelope_rows(self._schema, self._options, files))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files_after(start.get("last", ""), end.get("last", ""))
        return _envelope_rows(self._schema, self._options, files)


class _EnvelopeCommit(WriterCommitMessage):
    def __init__(self, file: str, count: int):
        self.file = file
        self.count = count


class EnvelopeWriter(DataSourceWriter):
    """``df.write.format("ecom_envelope")`` — one envelope file PER TASK,
    each carrying the reference drop's metadata header ({table,
    recordCount, generatedAt, version}) for exactly its own rows, so a
    parallel write produces a directory of valid independent drops (the
    shape the reader's per-file partitions and ``validate_count`` expect).

    Commit protocol: tasks write to ``part-<taskid>.json.tmp`` and report
    a commit message; ``commit()`` renames the temporaries into place and
    ``abort()`` deletes them — a failed or speculative task never leaves a
    half-envelope visible to the reader's glob (which ignores ``.tmp``).
    ``option("generated_at", ...)`` injects a deterministic timestamp
    (same injectability contract as the engine clock, F10); the Python
    DataSource API accepts append/overwrite modes only — ``mode(
    "overwrite")`` clears previous envelope files at commit time, after
    every new file is staged. Python-side row emission — control-plane
    volumes; the JVM ``write_envelope_json`` stays the hot path, same
    stance as the reader."""

    VERSION = "1.0"

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._names = [f.name for f in schema.fields if not f.name.startswith("_")]
        self._path = options["path"]
        self._table = options.get("table", "data")
        self._generated_at = options.get("generated_at")
        self._overwrite = overwrite
        os.makedirs(self._path, exist_ok=True)

    def write(self, iterator) -> _EnvelopeCommit:
        import uuid
        from datetime import datetime, timezone

        rows = [
            {n: v for n, v in zip(self._names, tuple(row)[: len(self._names)])}
            for row in iterator
        ]
        if not rows:
            # empty task partition: no file — a 0-row envelope would poison
            # the reader's first-file schema inference for no information
            return _EnvelopeCommit("", 0)
        gen_at = self._generated_at or datetime.now(timezone.utc).isoformat()
        envelope = {
            "metadata": {
                "table": self._table,
                "recordCount": len(rows),
                "generatedAt": gen_at,
                "version": self.VERSION,
            },
            "data": rows,
        }
        tmp = os.path.join(self._path, f"part-{uuid.uuid4().hex}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(envelope, f, default=str)  # dates/decimals -> strings
        return _EnvelopeCommit(tmp, len(rows))

    def commit(self, messages) -> None:
        staged = [m.file for m in messages if m is not None and m.file]
        # overwrite order matters for crash safety: rename the new
        # generation into place FIRST (uuid names can't collide with the
        # snapshotted old files), delete the old generation last. A crash
        # mid-commit then leaves old+new momentarily mixed — readers
        # tolerate that — never a directory with zero visible envelopes
        # (the delete-first ordering's failure mode).
        old = _envelope_files_or_empty(self._path) if self._overwrite else []
        for tmp in staged:
            os.rename(tmp, tmp[: -len(".tmp")])
        for f in old:
            os.remove(f)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.file and os.path.exists(m.file):
                os.remove(m.file)


def _envelope_files_or_empty(path: str) -> list[str]:
    try:
        return _envelope_files(path)
    except FileNotFoundError:
        return []


def register(spark) -> None:
    """Register the source on a session: spark.read.format('ecom_envelope')."""
    spark.dataSource.register(EnvelopeDataSource)
