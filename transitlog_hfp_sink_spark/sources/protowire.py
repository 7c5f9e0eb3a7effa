"""Pure-Python protobuf WIRE-FORMAT codec for ``Hfp.Data`` — the binary
decode leg of the reference's input path, runnable without the
spark-protobuf jar or a compiled descriptor.

The reference's wire contract is ``Hfp.Data.parseFrom(message.getData())``
(/root/reference/src/main/java/fi/hsl/transitlog/hfp/MessageProcessor.java:119)
with Topic + Payload sub-messages consumed field-by-field
(QueueWriter.java:57-137). The message layout here follows the public HSL
hfp.proto (HSLdevcom/transitdata-common): Data{schema_version=1, topic=2,
payload=3}; Topic/Payload field numbers in declaration order with
proto-native scalar types (varint ints/enums, fixed64 doubles,
length-delimited strings). Fields the engine's decode contract keeps as
safe-parse strings (dir/tst/drst/oday/start/start_time — see
schema.HFP_PAYLOAD_SCHEMA) are length-delimited strings on the wire, so
every malformed-value path survives the roundtrip.

Deployment note: with the spark-protobuf connector jar + a compiled
descriptor available, ``sources.decode.decode_hfp_protobuf`` is the
preferred (JVM-side) path. This module is the dependency-free twin that
proves the binary semantics end-to-end: encode -> decode is bitwise
lossless (doubles travel as IEEE-754 fixed64), so the roundtrip query
shares the full 40-column oracle of hfp_vehicles_transform.

Scale shape: both codec directions run inside ``mapInPandas`` — Arrow
batches in, Arrow batches out, no shuffle, no driver involvement; the
per-row Python work is the same cost class as the multimodal decode stubs
(operators/multimodal.py) and parallelizes per input partition.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA

# ---------------------------------------------------------------------------
# Message layout (field number, engine column, kind)
# kinds: i32/i64 varint ints, str, dbl fixed64, enum:<name> varint
# ---------------------------------------------------------------------------

JOURNEY_TYPE_ENUM = ("journey", "deadrun", "signoff")
TEMPORAL_TYPE_ENUM = ("ongoing", "upcoming")
EVENT_TYPE_ENUM = (
    "VP", "DUE", "ARR", "ARS", "PDE", "DEP", "PAS", "WAIT", "DOO",
    "DOC", "TLR", "TLA", "DA", "DOUT", "BA", "BOUT", "VJA", "VJOUT",
)
TRANSPORT_MODE_ENUM = ("bus", "train", "tram", "metro", "ferry")
LOC_ENUM = ("GPS", "ODO", "MAN", "NA")

_ENUMS = {
    "journey_type": JOURNEY_TYPE_ENUM,
    "temporal_type": TEMPORAL_TYPE_ENUM,
    "event_type": EVENT_TYPE_ENUM,
    "transport_mode": TRANSPORT_MODE_ENUM,
    "loc": LOC_ENUM,
}

TOPIC_FIELDS: tuple[tuple[int, str, str], ...] = (
    (2, "received_at", "i64"),
    (3, "topic_prefix", "str"),
    (4, "topic_version", "str"),
    (5, "journey_type", "enum:journey_type"),
    (6, "temporal_type", "enum:temporal_type"),
    (7, "event_type", "enum:event_type"),
    (8, "transport_mode", "enum:transport_mode"),
    (9, "operator_id", "i32"),
    (10, "vehicle_number", "i32"),
    (11, "unique_vehicle_id", "str"),
    (12, "route_id", "str"),
    (13, "direction_id", "i32"),
    (14, "headsign", "str"),
    (15, "start_time", "str"),
    (16, "next_stop", "str"),
    (17, "geohash_level", "i32"),
    (18, "latitude", "dbl"),
    (19, "longitude", "dbl"),
)

PAYLOAD_FIELDS: tuple[tuple[int, str, str], ...] = (
    (2, "desi", "str"),
    (3, "dir", "str"),
    (4, "oper", "i32"),
    (5, "veh", "i32"),
    (6, "tst", "str"),
    (7, "tsi", "i64"),
    (8, "spd", "dbl"),
    (9, "hdg", "i32"),
    (10, "lat", "dbl"),
    (11, "long", "dbl"),
    (12, "acc", "dbl"),
    (13, "dl", "i32"),
    (14, "odo", "dbl"),
    (15, "drst", "str"),
    (16, "oday", "str"),
    (17, "jrn", "i32"),
    (18, "line", "i32"),
    (19, "start", "str"),
    (20, "loc", "enum:loc"),
    (21, "stop", "i32"),
    (22, "route", "str"),
    (23, "occu", "i32"),
)

_WT_VARINT, _WT_FIXED64, _WT_LEN = 0, 1, 2
_MASK64 = (1 << 64) - 1


# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    n &= _MASK64  # negatives -> 64-bit two's complement (proto int32/int64)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            if result >> 63:  # sign-extend 64-bit two's complement
                result -= 1 << 64
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")


def _tag(num: int, wt: int) -> bytes:
    return _varint((num << 3) | wt)


def _encode_msg(fields, row: dict) -> bytes:
    out = bytearray()
    out += _tag(1, _WT_VARINT) + _varint(1)  # schema_version = 1
    for num, name, kind in fields:
        v = row.get(name)
        if v is None or (isinstance(v, float) and v != v):
            continue  # optional field omitted
        if kind in ("i32", "i64"):
            out += _tag(num, _WT_VARINT) + _varint(int(v))
        elif kind == "dbl":
            out += _tag(num, _WT_FIXED64) + struct.pack("<d", float(v))
        elif kind == "str":
            b = str(v).encode("utf-8")
            out += _tag(num, _WT_LEN) + _varint(len(b)) + b
        else:  # enum
            domain = _ENUMS[kind.split(":", 1)[1]]
            out += _tag(num, _WT_VARINT) + _varint(domain.index(v))
    return bytes(out)


def _decode_msg(fields, buf: bytes) -> dict:
    by_num = {num: (name, kind) for num, name, kind in fields}
    row: dict = {name: None for _, name, _ in fields}
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wt = key >> 3, key & 0x7
        if wt == _WT_VARINT:
            val, pos = _read_varint(buf, pos)
        elif wt == _WT_FIXED64:
            if pos + 8 > len(buf):
                raise ValueError("truncated fixed64")
            (val,) = struct.unpack_from("<d", buf, pos)
            pos += 8
        elif wt == _WT_LEN:
            ln, pos = _read_varint(buf, pos)
            if ln < 0 or pos + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            val = buf[pos : pos + ln]
            pos += ln
        else:
            raise ValueError(f"unsupported wire type {wt}")
        if num == 1:
            continue  # schema_version
        if num not in by_num:
            continue  # unknown field: skipped (proto forward-compat)
        name, kind = by_num[num]
        # a known field carried on the WRONG wire type is a corrupt/
        # mis-schema'd message and must surface as ValueError so the
        # mapInPandas dead-letter catch in decode_hfp_wire converts it to
        # a schema_valid=false row — before round 8 a string field sent
        # as varint hit bytes-vs-int type errors that CRASHED the task
        # instead of dead-lettering (fuzz-tested in tests/test_protowire.py)
        expected_wt = (
            _WT_LEN if kind == "str" else _WT_FIXED64 if kind == "dbl" else _WT_VARINT
        )
        if wt != expected_wt:
            raise ValueError(
                f"wire type {wt} != {expected_wt} expected for field "
                f"{name} ({kind})"
            )
        if kind == "str":
            val = val.decode("utf-8")
        elif kind.startswith("enum:"):
            domain = _ENUMS[kind.split(":", 1)[1]]
            if not 0 <= val < len(domain):
                raise ValueError(f"enum {name} out of range: {val}")
            val = domain[val]
        elif kind in ("i32", "i64"):
            val = int(val)
        row[name] = val
    return row


def encode_data(topic_row: dict, payload_row: dict) -> bytes:
    t = _encode_msg(TOPIC_FIELDS, topic_row)
    p = _encode_msg(PAYLOAD_FIELDS, payload_row)
    return (
        _tag(1, _WT_VARINT) + _varint(1)
        + _tag(2, _WT_LEN) + _varint(len(t)) + t
        + _tag(3, _WT_LEN) + _varint(len(p)) + p
    )


def decode_data(buf: bytes) -> tuple[dict, dict]:
    topic = payload = None
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wt = key >> 3, key & 0x7
        if wt == _WT_VARINT:
            _, pos = _read_varint(buf, pos)
        elif wt == _WT_LEN:
            ln, pos = _read_varint(buf, pos)
            if ln < 0 or pos + ln > len(buf):
                raise ValueError("truncated sub-message")
            sub = buf[pos : pos + ln]
            pos += ln
            if num == 2:
                topic = _decode_msg(TOPIC_FIELDS, sub)
            elif num == 3:
                payload = _decode_msg(PAYLOAD_FIELDS, sub)
        else:
            raise ValueError(f"unsupported wire type {wt} in Data")
    if topic is None or payload is None:
        raise ValueError("missing required Topic/Payload")
    return topic, payload


#: bytes that fail decode_data — stands in for a message whose Pulsar
#: properties carry the wrong protobuf schema (MessageProcessor.java:118)
INVALID_WIRE_BYTES = b"\xff\xff\xff"

_T_COLS = [name for _, name, _ in TOPIC_FIELDS]
_P_COLS = [name for _, name, _ in PAYLOAD_FIELDS]


def decode_frame(buf: bytes) -> tuple[bool, tuple | None, tuple | None]:
    """One wire frame -> (schema_valid, topic, payload) with the structs as
    tuples in HFP_RAW_SCHEMA field order. An undecodable frame is the dead
    row (False, None, None). Every wire decoder goes through here."""
    try:
        t, p = decode_data(bytes(buf))
    except (ValueError, struct.error, UnicodeDecodeError):
        return False, None, None
    return True, tuple(t[c] for c in _T_COLS), tuple(p[c] for c in _P_COLS)


# ---------------------------------------------------------------------------
# DataFrame surface (mapInPandas both directions)
# ---------------------------------------------------------------------------

def encode_hfp_wire(df: DataFrame) -> DataFrame:
    """(schema_valid, topic, payload) -> one binary ``value`` column.
    Rows with schema_valid=false are emitted as undecodable bytes, so the
    decoder exercises the invalid-schema dead-letter path end to end."""
    flat = df.select(
        "schema_valid",
        *[F.col(f"topic.{c}").alias(f"t_{c}") for c in _T_COLS],
        *[F.col(f"payload.{c}").alias(f"p_{c}") for c in _P_COLS],
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = []
            for rec in pdf.to_dict("records"):
                if not rec["schema_valid"]:
                    vals.append(INVALID_WIRE_BYTES)
                    continue
                t = {c: rec[f"t_{c}"] for c in _T_COLS}
                p = {c: rec[f"p_{c}"] for c in _P_COLS}
                vals.append(encode_data(t, p))
            yield pd.DataFrame({"value": vals})

    return flat.mapInPandas(_enc, schema="value binary")


_DECODED_SCHEMA = ", ".join(
    ["schema_valid boolean"]
    + [f"t_{f.name} {f.dataType.simpleString()}" for f in HFP_RAW_SCHEMA["topic"].dataType.fields]
    + [f"p_{f.name} {f.dataType.simpleString()}" for f in HFP_RAW_SCHEMA["payload"].dataType.fields]
)
_DECODED_COLS = ["schema_valid", *(f"t_{c}" for c in _T_COLS), *(f"p_{c}" for c in _P_COLS)]
_DEAD_ROW = (False,) + (None,) * (len(_DECODED_COLS) - 1)


def decode_hfp_wire(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Binary protobuf ``value`` column -> HFP_RAW_SCHEMA rows.
    Undecodable messages yield schema_valid=false with NULL structs (the
    F1 dead-letter contract, same as decode_hfp_json on garbage)."""
    src = df.select(F.col(value_col).alias("value"))

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for buf in pdf["value"]:
                ok, t, p = decode_frame(buf)
                rows.append((ok, *t, *p) if ok else _DEAD_ROW)
            out = pd.DataFrame(rows, columns=_DECODED_COLS)
            # object dtype keeps ints unmangled (no float64 NaN coercion)
            yield out.astype(object).where(pd.notna(out), None)

    flat = src.mapInPandas(_dec, schema=_DECODED_SCHEMA)
    return flat.select(
        "schema_valid",
        F.struct(*[F.col(f"t_{c}").alias(c) for c in _T_COLS]).alias("topic"),
        F.struct(*[F.col(f"p_{c}").alias(c) for c in _P_COLS]).alias("payload"),
    )
