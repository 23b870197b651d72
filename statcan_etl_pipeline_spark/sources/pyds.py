"""Custom batch connector via the Python Data Source API (Spark 4):
a StatCan-WDS-shaped CSV reader with byte-range split planning, plus
the WRITE path with the API's two-phase task-commit protocol.

This is the pure-Python connector surface — `partitions()` plans
Hadoop-style byte splits on the driver, each executor task opens the
file independently and parses only its slice, so a big dump reads in
parallel without JVM-side code. Line ownership follows the classic
convention: a record belongs to the split containing its first byte;
a reader finishes the record that crosses its end; the next reader
discards the partial record it lands in. (Assumes no embedded
newlines inside quoted fields — true of WDS full-table dumps.)

The writer mirrors the Hadoop output-committer shape: each task writes
to a UUID-named temp file and returns a WriterCommitMessage; only the
DRIVER's `commit()` promotes temp files to part files and stamps
`_SUCCESS`, so a failed/speculative task's output is never visible and
`abort()` leaves the target clean. Readers trust only `_SUCCESS`-listed
files. (Local-FS rename here; on an object store the same protocol
holds with copy+delete or a manifest commit.)
"""

from __future__ import annotations

import csv
import io
import os
import uuid
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

WDS_PY_SCHEMA = (
    "ref_date string, geo string, vector string, coordinate string, "
    "value double, status string"
)
_COLS = ("REF_DATE", "GEO", "VECTOR", "COORDINATE", "VALUE", "STATUS")


class _ByteSplit(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class WdsCsvReader(DataSourceReader):
    def __init__(self, options: dict):
        if "path" not in options:
            raise ValueError("wds_py source requires .option('path', ...)")
        self.path = options["path"]
        self.n_splits = int(options.get("splits", "4"))

    def partitions(self) -> Sequence[_ByteSplit]:
        size = os.path.getsize(self.path)
        n = max(1, min(self.n_splits, size))
        step = size // n
        cuts = [i * step for i in range(n)] + [size]
        return [_ByteSplit(self.path, cuts[i], cuts[i + 1]) for i in range(n)]

    def read(self, split: _ByteSplit) -> Iterator[tuple]:
        with open(split.path, "rb") as f:
            header = None
            if split.start == 0:
                header = f.readline()  # header is consumed, not emitted
            else:
                # land mid-record; finish it (it belongs to the previous
                # split) so we start at the first record of our range
                f.seek(split.start - 1)
                f.readline()
            if header is None:
                with open(split.path, "rb") as hf:
                    header = hf.readline()
            names = next(csv.reader([header.decode("utf-8")]))
            idx = [names.index(c) for c in _COLS]
            while f.tell() < split.end:
                line = f.readline()
                if not line:
                    break
                row = next(csv.reader(io.StringIO(line.decode("utf-8"))))
                vals = [row[i] if i < len(row) else "" for i in idx]
                value = float(vals[4]) if vals[4] not in ("", None) else None
                yield (vals[0], vals[1], vals[2], vals[3], value, vals[5])


@dataclass
class _CsvCommit(WriterCommitMessage):
    temp_path: str
    n_rows: int


class WdsCsvWriter(DataSourceWriter):
    """Task side writes WDS-shaped CSV to `_temporary/<uuid>.csv`;
    driver-side commit renames each temp file to `part-NNNNN.csv` and
    writes `_SUCCESS` listing the committed parts. Temp files from
    failed attempts are invisible to readers and swept by abort()."""

    def __init__(self, options: dict, overwrite: bool):
        if "path" not in options:
            raise ValueError("wds_py sink requires .option('path', ...)")
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator: Iterator) -> _CsvCommit:
        tmp_dir = os.path.join(self.path, "_temporary")
        os.makedirs(tmp_dir, exist_ok=True)
        tmp = os.path.join(tmp_dir, f"{uuid.uuid4().hex}.csv")
        n = 0
        with open(tmp, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(_COLS)
            for row in iterator:
                w.writerow(
                    ["" if v is None else v for v in (
                        row.ref_date, row.geo, row.vector,
                        row.coordinate, row.value, row.status,
                    )]
                )
                n += 1
        return _CsvCommit(temp_path=tmp, n_rows=n)

    def commit(self, messages: Sequence[_CsvCommit]) -> None:
        success = os.path.join(self.path, "_SUCCESS")
        if self.overwrite:
            for old in os.listdir(self.path):
                if old.startswith("part-") or old == "_SUCCESS":
                    os.remove(os.path.join(self.path, old))
        # append: new parts are numbered after the highest committed one
        # and extend the committed list, so no committed part is replaced
        parts = []
        if os.path.exists(success):
            with open(success, encoding="utf-8") as f:
                parts = [p for p in f.read().splitlines() if p]
        first = 1 + max((int(p[5:-4]) for p in parts), default=-1)  # part-NNNNN.csv
        for i, m in enumerate(messages, start=first):
            part = f"part-{i:05d}.csv"
            os.replace(m.temp_path, os.path.join(self.path, part))
            parts.append(part)
        with open(success, "w", encoding="utf-8") as f:
            f.write("\n".join(parts))
        self._sweep_temp()

    def abort(self, messages: Sequence[_CsvCommit]) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.temp_path):
                os.remove(m.temp_path)
        self._sweep_temp()

    def _sweep_temp(self) -> None:
        tmp_dir = os.path.join(self.path, "_temporary")
        if os.path.isdir(tmp_dir):
            for leftover in os.listdir(tmp_dir):
                os.remove(os.path.join(tmp_dir, leftover))
            os.rmdir(tmp_dir)


def read_committed_wds_csv(spark, path: str):
    """Read back a WdsCsvWriter dataset trusting ONLY `_SUCCESS`-listed
    part files — uncommitted/aborted leftovers are never read."""
    with open(os.path.join(path, "_SUCCESS"), encoding="utf-8") as f:
        parts = [p for p in f.read().splitlines() if p]
    return (
        spark.read.schema(WDS_PY_SCHEMA)
        .option("header", "true")
        .csv([os.path.join(path, p) for p in parts])
    )


class WdsCsvDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "wds_py"

    def schema(self) -> str:
        return WDS_PY_SCHEMA

    def reader(self, schema) -> WdsCsvReader:
        return WdsCsvReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> WdsCsvWriter:
        return WdsCsvWriter(dict(self.options), overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "WdsCsvStreamWriter":
        return WdsCsvStreamWriter(dict(self.options))


# ---------------------------------------------------------------------------
# Streaming Python Data Source (Spark 4): a WDS "revision feed" —
# each micro-batch delivers the next window of vector observations.
# Implements the SimpleDataSourceStreamReader protocol: offsets are
# {"row": n} dicts; read(start) returns (rows, nextOffset) and the
# engine persists the offset log, so a crashed query replays
# deterministically from the last committed offset (the rows for a
# given [start, end) are a pure function of the offset — exactly-once
# downstream with an idempotent sink). The feed is synthetic but
# deterministic: values derive from the row index, never from RNG or
# wall-clock.
# ---------------------------------------------------------------------------

FEED_SCHEMA = "seq bigint, vector string, period string, value double"
_FEED_BATCH = 25
_FEED_TOTAL = 100


def _feed_row(i: int) -> tuple:
    vec = f"v{i % 5}"
    period = f"{1995 + (i // 12) % 4}-{i % 12 + 1:02d}"
    return (i, vec, period, float((i * 37) % 1000) / 10.0)


class WdsFeedStreamReader(SimpleDataSourceStreamReader):
    """Replayable bounded feed: rows [start.row, min(start.row+25, 100))."""

    def initialOffset(self) -> dict:
        return {"row": 0}

    def read(self, start: dict) -> tuple:
        lo = int(start["row"])
        hi = min(lo + _FEED_BATCH, _FEED_TOTAL)
        return iter([_feed_row(i) for i in range(lo, hi)]), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery: same pure function of offsets
        return iter([_feed_row(i) for i in range(int(start["row"]), int(end["row"]))])

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up — offsets fully describe state


class WdsFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "wds_feed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def simpleStreamReader(self, schema) -> WdsFeedStreamReader:
        return WdsFeedStreamReader()


# ---------------------------------------------------------------------------
# Streaming WRITE path (DataSourceStreamWriter): per-micro-batch CSV
# sink with the same two-phase commit shape as the batch writer, plus
# BATCH-ID IDEMPOTENCE — commit() first checks the `_BATCHES` manifest
# and drops the whole batch if its id was already committed, so a
# replayed micro-batch (post-crash re-run from the offset log) can
# never double its rows: offsets (source) + idempotent commit (sink)
# = exactly-once end to end, the foreachBatch MERGE argument made at
# the connector layer.
# ---------------------------------------------------------------------------


class WdsCsvStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict):
        if "path" not in options:
            raise ValueError("wds_py stream sink requires .option('path', ...)")
        self.dir = options["path"]

    def write(self, iterator) -> _CsvCommit:
        os.makedirs(self.dir, exist_ok=True)
        tmp = os.path.join(self.dir, f"_tmp-{uuid.uuid4().hex}.csv")
        n = 0
        with open(tmp, "w", newline="") as f:
            wr = csv.writer(f)
            for row in iterator:
                wr.writerow(list(row))
                n += 1
        return _CsvCommit(temp_path=tmp, n_rows=n)

    def _manifest(self) -> str:
        return os.path.join(self.dir, "_BATCHES")

    def commit(self, messages, batchId: int) -> None:
        os.makedirs(self.dir, exist_ok=True)
        done = set()
        if os.path.exists(self._manifest()):
            with open(self._manifest()) as f:
                done = {ln.strip() for ln in f if ln.strip()}
        if str(batchId) in done:  # replayed batch: drop it, already durable
            for m in messages:
                if m is not None and os.path.exists(m.temp_path):
                    os.remove(m.temp_path)
            return
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = os.path.join(self.dir, f"batch-{batchId:05d}-{i:03d}.csv")
            os.replace(m.temp_path, final)
        with open(self._manifest(), "a") as f:
            f.write(f"{batchId}\n")

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.temp_path):
                os.remove(m.temp_path)
