"""`spark.read.format("hfp")` — a custom Python Data Source (Spark 4
`pyspark.sql.datasource` API) for binary HFP wire files.

The reference consumes protobuf ``Hfp.Data`` messages from Pulsar
(MessageProcessor.java:118-119); this engine-pluggable source plays the
same role for file-framed captures: each ``*.hfpw`` file is a sequence of
``[u32 big-endian frame length][Hfp.Data wire bytes]`` records (the
shape a topic-dump/capture tool would write), decoded frame by frame with
``protowire.decode_frame`` — the one wire decoder, shared with
decode_hfp_wire. Undecodable frames surface as ``schema_valid = false``
rows with NULL structs, so every frame lands on the valid side or the dead
side of ``transform.hfp_split`` exactly once (a NULL ``schema_valid``
counts as invalid there).

Usage:
    spark.dataSource.register(HfpDataSource)
    df  = spark.read.format("hfp").load("/captures")           # batch
    sdf = spark.readStream.format("hfp").load("/captures")     # stream

Scale shape: one InputPartition per file — parallelism = file count,
exactly like the parquet/text sources (a capture pipeline writes many
rolled files, one per topic-partition per interval, so executor fan-out
is natural). Decode is per-partition Python, the same cost class as the
mapInPandas codec path; no driver involvement beyond listing files. The
streaming reader is a SimpleDataSourceStreamReader whose offset is the
NAME of the last consumed file (a filename watermark): a batch admits
only names strictly greater, and offset-range replay re-resolves to the
same name interval however the listing has grown since — the
at-least-once contract M3 maps onto Structured Streaming's offset log.
Capture filenames must therefore be monotone (rolled captures are
timestamp-named, so they are); a late file sorting BELOW the watermark
is ignored with a warning rather than silently shifting every index as
the count-based offset of round 2 did (round-2 ADVICE).
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from pyspark.sql import types as T

from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA
from transitlog_hfp_sink_spark.sources.protowire import decode_frame

#: HFP_RAW_SCHEMA with nullable topic/payload: undecodable frames surface
#: as schema_valid=false rows whose structs are NULL (dead-letter rows),
#: which the strict non-null declaration would reject at codegen time.
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True if f.name in ("topic", "payload") else f.nullable)
        for f in HFP_RAW_SCHEMA.fields
    ]
)

FRAME_HEADER = struct.Struct(">I")
SUFFIX = ".hfpw"


def write_wire_file(path: str, messages: list[bytes]) -> None:
    """Frame messages into one capture file (test/tooling helper)."""
    with open(path, "wb") as f:
        for m in messages:
            f.write(FRAME_HEADER.pack(len(m)))
            f.write(m)


def read_wire_file(path: str) -> Iterator[bytes]:
    """Yield raw frames; a truncated trailer yields one undecodable
    marker frame instead of raising (the partial-write case of a capture
    being rolled while read — the decoder dead-letters it)."""
    with open(path, "rb") as f:
        data = f.read()
    pos, n = 0, len(data)
    while pos + FRAME_HEADER.size <= n:
        (ln,) = FRAME_HEADER.unpack_from(data, pos)
        pos += FRAME_HEADER.size
        if pos + ln > n:
            yield data[pos:]  # truncated tail -> undecodable
            return
        yield data[pos : pos + ln]
        pos += ln
    if pos != n:
        yield data[pos:]


def _list_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(SUFFIX)
    )


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class HfpWireReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hfp source requires a path (.load(path))")

    def partitions(self):
        return [_FilePartition(p) for p in _list_files(self.path)]

    def read(self, partition: _FilePartition):
        yield from map(decode_frame, read_wire_file(partition.path))


class HfpWireStreamReader(SimpleDataSourceStreamReader):
    """Directory-tailing stream: offset = {"last": <basename>} filename
    watermark over the sorted listing. A micro-batch consumes every file
    whose name sorts strictly ABOVE the watermark; replay between two
    offsets re-selects the same (start, end] name interval regardless of
    how the listing has grown since (a count-based offset re-indexes the
    whole directory when a late file sorts below consumed names —
    duplicates plus a permanently skipped file). Late sub-watermark
    arrivals violate the documented monotone-naming requirement and are
    ignored with a one-time warning; a late file landing INSIDE a
    replayed interval is delivered by that replay (at-least-once, never
    twice — it stays below the watermark for all later batches)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hfp source requires a path (.load(path))")
        self._warned_late: set[str] = set()

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _watermark(self, offset: dict, files: list[str]) -> str:
        if "last" in offset:
            return offset["last"]
        # legacy count-based offset (pre round 3): position in today's
        # sorted listing, converted once to the equivalent name watermark
        n = offset.get("n", 0)
        return os.path.basename(files[n - 1]) if 0 < n <= len(files) else ""

    def read(self, start: dict):
        files = _list_files(self.path)
        mark = self._watermark(start, files)
        batch = [p for p in files if os.path.basename(p) > mark]
        if "last" in start:
            # previously consumed files also sort <= mark; without a full
            # consumed-set in the offset they are indistinguishable from
            # late arrivals, so remember the names seen at this watermark
            # and warn only when a NEW sub-watermark name appears later
            below = {os.path.basename(p) for p in files if os.path.basename(p) <= mark}
            late = below - self._warned_late
            if self._warned_late and late:
                import logging

                logging.getLogger(__name__).warning(
                    "hfp stream: %d file(s) sort below the consumed-name "
                    "watermark %r and will be IGNORED (monotone naming "
                    "violated): %s", len(late), mark, sorted(late)[:10],
                )
            self._warned_late |= below
        end = {"last": os.path.basename(batch[-1]) if batch else mark}
        rows = []
        for p in batch:
            rows.extend(map(decode_frame, read_wire_file(p)))
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _list_files(self.path)
        lo = self._watermark(start, files)
        hi = self._watermark(end, files)
        rows = []
        for p in files:
            if lo < os.path.basename(p) <= hi:
                rows.extend(map(decode_frame, read_wire_file(p)))
        return iter(rows)


class HfpDataSource(DataSource):
    """format("hfp"): batch + streaming reads of framed HFP wire files."""

    @classmethod
    def name(cls) -> str:
        return "hfp"

    def schema(self):
        return SOURCE_SCHEMA

    def reader(self, schema) -> HfpWireReader:
        return HfpWireReader(self.options)

    def simpleStreamReader(self, schema) -> HfpWireStreamReader:
        return HfpWireStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(HfpDataSource)
