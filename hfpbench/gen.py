"""Seeded HFP input generator for the sink benchmark.

The generator owns the truth: for every file it writes it knows how many
messages it holds, how many the sink must store, how many it must
dead-letter and for which reason, and the ``(unique_vehicle_id, tst)`` key
of every row that must land in the store. The program under test sees only
the encoded bytes (protobuf wire frames or JSON text), never this module.

The wire encoder here is written from the public HSL ``hfp.proto`` field
numbers and does not reuse the library's codec, so a codec defect cannot
cancel itself out between the two sides.

Traffic model. HSL's high-frequency positioning (HFP) feed publishes one
message per vehicle in service per second, and that rate is the one figure
here taken from the feed's documentation. Message ``k`` of a run comes from
vehicle ``k % fleet`` in second ``k // fleet``, so event time advances one
second per ``fleet`` messages: at an arrival rate of ``fleet`` msg/s, ``tst``
follows the wall clock. Within a second the vehicles send in the order of
their fixed sub-second phase, so arrival order is ``tst`` order. Every other
share below is a choice, not a measurement: the event-type and mode mixes,
the skew of vehicles over routes, the ``received_at`` delay and the shares
of bad messages.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import itertools
import json
import os
import random
import struct
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

#: event times start here, at the top of a morning hour (UTC); a run covers
#: well under an hour of feed, so its rows share one received hour
BASE_MS = int(dt.datetime(2024, 5, 6, 7, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)
ODAY = "2024-05-06"

#: exact shares per file, so dead-letter counts repeat exactly for any seed
INVALID_SHARE = 0.02  # frames whose schema cannot be decoded
BAD_TST_SHARE = 0.01  # decodable frames whose tst does not parse
MALFORMED_SHARE = 0.01  # per safe-parse field (dir, drst, oday, start)

REASON_SCHEMA = "invalid_protobuf_schema"
REASON_TST = "unparseable_tst"

#: choices: a vehicle-second carries a position (VP) 85 % of the time and a
#: stop or door event otherwise; the fleet is mostly buses
EVENT_TYPES = ("VP",) * 34 + ("DEP", "ARR", "PDE", "DUE", "DOO", "DOC")
MODES = ("bus",) * 40 + ("tram",) * 6 + ("train", "train", "metro", "ferry")
#: choice: vehicles are spread over this many routes with Zipf(1) weights, so
#: a trunk route runs many vehicles and most routes a few
ROUTES = 200
OPERATORS = (6, 12, 17, 18, 22, 30, 40, 47)
BAD_TST = ("", "n/a", "2024-13-06T04:00:00.000Z", "2024-05-06T25:00:00.000Z", "06/05/2024 04:00")
BAD_DIR, BAD_DRST, BAD_ODAY, BAD_START = "A", "2", "2024-02-30", "25:99"


# ---------------------------------------------------------------------------
# protobuf wire encoding (Hfp.Data{schema_version=1, topic=2, payload=3})
# ---------------------------------------------------------------------------

_VARINT, _FIXED64, _LEN = 0, 1, 2

TOPIC_FIELDS = (
    (2, "received_at", "int"), (3, "topic_prefix", "str"), (4, "topic_version", "str"),
    (5, "journey_type", ("journey", "deadrun", "signoff")),
    (6, "temporal_type", ("ongoing", "upcoming")),
    (7, "event_type", ("VP", "DUE", "ARR", "ARS", "PDE", "DEP", "PAS", "WAIT", "DOO",
                       "DOC", "TLR", "TLA", "DA", "DOUT", "BA", "BOUT", "VJA", "VJOUT")),
    (8, "transport_mode", ("bus", "train", "tram", "metro", "ferry")),
    (9, "operator_id", "int"), (10, "vehicle_number", "int"),
    (11, "unique_vehicle_id", "str"), (12, "route_id", "str"), (13, "direction_id", "int"),
    (14, "headsign", "str"), (15, "start_time", "str"), (16, "next_stop", "str"),
    (17, "geohash_level", "int"), (18, "latitude", "dbl"), (19, "longitude", "dbl"),
)
PAYLOAD_FIELDS = (
    (2, "desi", "str"), (3, "dir", "str"), (4, "oper", "int"), (5, "veh", "int"),
    (6, "tst", "str"), (7, "tsi", "int"), (8, "spd", "dbl"), (9, "hdg", "int"),
    (10, "lat", "dbl"), (11, "long", "dbl"), (12, "acc", "dbl"), (13, "dl", "int"),
    (14, "odo", "dbl"), (15, "drst", "str"), (16, "oday", "str"), (17, "jrn", "int"),
    (18, "line", "int"), (19, "start", "str"), (20, "loc", ("GPS", "ODO", "MAN", "NA")),
    (21, "stop", "int"), (22, "route", "str"), (23, "occu", "int"),
)


_SMALL = [bytes((i,)) for i in range(128)]


def _varint(n: int) -> bytes:
    if 0 <= n < 128:
        return _SMALL[n]
    n &= (1 << 64) - 1
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


#: fields whose value is unique per message; every other field's encoded
#: bytes are memoised per value (vehicle attributes, enums, small ints)
_UNCACHED = {"received_at", "tst", "tsi", "spd", "lat", "long", "latitude",
             "longitude", "acc", "odo"}


def _compile(fields):
    out = []
    for num, name, kind in fields:
        wt = _LEN if kind == "str" else _FIXED64 if kind == "dbl" else _VARINT
        index = {v: i for i, v in enumerate(kind)} if isinstance(kind, tuple) else None
        out.append((name, _varint(num << 3 | wt), kind, index, name not in _UNCACHED))
    return tuple(out)


_TOPIC, _PAYLOAD = _compile(TOPIC_FIELDS), _compile(PAYLOAD_FIELDS)
_HEADER = _varint(1 << 3 | _VARINT) + _varint(1)
_FIELD_CACHE: dict = {}


def _field(tag: bytes, kind, index, v) -> bytes:
    if kind == "str":
        b = v.encode()
        return tag + _varint(len(b)) + b
    if kind == "dbl":
        return tag + struct.pack("<d", v)
    return tag + _varint(index[v] if index is not None else v)


def _encode(compiled, msg: dict) -> bytes:
    parts = [_HEADER]
    cache = _FIELD_CACHE
    for name, tag, kind, index, cached in compiled:
        v = msg.get(name)
        if v is None:
            continue
        if cached:
            b = cache.get((tag, v))
            if b is None:
                b = cache[(tag, v)] = _field(tag, kind, index, v)
        else:
            b = _field(tag, kind, index, v)
        parts.append(b)
    return b"".join(parts)


def encode_wire(topic: dict, payload: dict) -> bytes:
    t, p = _encode(_TOPIC, topic), _encode(_PAYLOAD, payload)
    return _HEADER + b"\x12" + _varint(len(t)) + t + b"\x1a" + _varint(len(p)) + p


def invalid_wire(rng: random.Random, topic: dict) -> bytes:
    """A frame the decoder must reject: truncated, Payload missing, or a
    string field carried on the varint wire type."""
    shape = rng.randrange(3)
    if shape == 0:
        return b"\xff\xff\xff"
    t = _encode(_TOPIC, topic)
    if shape == 1:
        return _HEADER + b"\x12" + _varint(len(t)) + t
    bad = _HEADER + b"\x58" + _varint(7)  # field 11 (long, fixed64) sent as a varint
    return _HEADER + b"\x12" + _varint(len(t)) + t + b"\x1a" + _varint(len(bad)) + bad


def encode_json(topic: dict, payload: dict) -> str:
    return json.dumps(
        {"schema_valid": True,
         "topic": {k: v for k, v in topic.items() if v is not None},
         "payload": {k: v for k, v in payload.items() if v is not None}},
        separators=(",", ":"),
    )


def invalid_json(rng: random.Random, topic: dict, payload: dict) -> str:
    """A message the decoder must reject: not JSON, flagged with the wrong
    schema, or missing its Payload."""
    shape = rng.randrange(3)
    if shape == 0:
        return '{"topic": {"received_at": '
    if shape == 1:
        return json.dumps({"schema_valid": False, "topic": topic, "payload": payload})
    return json.dumps({"schema_valid": True, "topic": topic})


# ---------------------------------------------------------------------------
# fleet and messages
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=4)
def _fleet(seed: int, n: int) -> tuple:
    return tuple(make_fleet(random.Random(seed), n))


def make_fleet(rng: random.Random, n: int) -> list[dict]:
    """n vehicles in the order they send within each second (by phase, the
    millisecond of the second at which each reports). Every vehicle sends
    once a second; routes get vehicles by Zipf(1) weights."""
    routes = sorted({f"{rng.randrange(1, 10)}{rng.randrange(0, 1000):03d}"
                     for _ in range(ROUTES * 2)})[:ROUTES]
    rng.shuffle(routes)
    cum_weights = list(itertools.accumulate(1.0 / (i + 1) for i in range(len(routes))))
    fleet = []
    seen = set()
    while len(fleet) < n:
        oper, veh = rng.choice(OPERATORS), rng.randrange(1, 10_000)
        if (oper, veh) in seen:
            continue
        seen.add((oper, veh))
        route = rng.choices(routes, cum_weights=cum_weights)[0]
        fleet.append({
            "oper": oper, "veh": veh, "uid": f"{oper}/{veh}", "route": route,
            "dir": rng.choice((1, 2)), "mode": rng.choice(MODES),
            "headsign": f"Stop {rng.randrange(100)}", "line": rng.randrange(1, 1000),
            "jrn": rng.randrange(1, 5000),
            "start": f"{rng.randrange(4, 12):02d}:{rng.randrange(60):02d}",
            "lat": 60.17 + rng.uniform(-0.1, 0.1), "long": 24.94 + rng.uniform(-0.2, 0.2),
            "odo": rng.uniform(0, 50_000), "phase": rng.randrange(1000),
        })
    fleet.sort(key=lambda v: (v["phase"], v["uid"]))
    return fleet


def _tst_str(ms: int) -> str:
    d = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _message(rng: random.Random, v: dict, tst_ms: int) -> tuple[dict, dict]:
    v["lat"] += rng.uniform(-1e-4, 1e-4)
    v["long"] += rng.uniform(-2e-4, 2e-4)
    v["odo"] += rng.uniform(0, 30)
    topic = {
        "received_at": tst_ms + rng.randrange(50, 1500),  # choice: 0.05-1.5 s in transit
        "topic_prefix": "/hfp/", "topic_version": "v2",
        "journey_type": "journey" if rng.random() < 0.95 else "deadrun",
        "temporal_type": "ongoing" if rng.random() < 0.97 else "upcoming",
        "event_type": rng.choice(EVENT_TYPES), "transport_mode": v["mode"],
        "operator_id": v["oper"], "vehicle_number": v["veh"],
        "unique_vehicle_id": v["uid"], "route_id": v["route"],
        "direction_id": v["dir"], "headsign": v["headsign"],
        "start_time": v["start"],
        "next_stop": str(1_000_000 + rng.randrange(5000)) if rng.random() < 0.9 else None,
        "geohash_level": rng.randrange(0, 6),
        "latitude": round(v["lat"], 3), "longitude": round(v["long"], 3),
    }
    payload = {
        "desi": v["route"][1:], "dir": str(v["dir"]), "oper": v["oper"], "veh": v["veh"],
        "tst": _tst_str(tst_ms), "tsi": tst_ms // 1000,
        "spd": round(rng.uniform(0, 25), 2), "hdg": rng.randrange(360),
        "lat": v["lat"], "long": v["long"], "acc": round(rng.uniform(-2, 2), 2),
        "dl": rng.randrange(-300, 300), "odo": round(v["odo"], 1),
        "drst": rng.choice(("0", "1")), "oday": ODAY, "jrn": v["jrn"], "line": v["line"],
        "start": v["start"], "loc": "GPS" if rng.random() < 0.95 else "ODO",
        "stop": rng.randrange(1000, 9999) if rng.random() < 0.3 else None,
        "route": v["route"], "occu": rng.randrange(0, 101),
    }
    for key, bad in (("dir", BAD_DIR), ("drst", BAD_DRST), ("oday", BAD_ODAY), ("start", BAD_START)):
        if rng.random() < MALFORMED_SHARE:
            payload[key] = bad
    return topic, payload


@dataclass
class Truth:
    """What the sink must do with a set of messages."""

    rows: int = 0
    valid: int = 0
    dead: dict = field(default_factory=lambda: {REASON_SCHEMA: 0, REASON_TST: 0})
    keys: list = field(default_factory=list)  # (unique_vehicle_id, tst epoch µs)

    def add(self, other: "Truth") -> None:
        self.rows += other.rows
        self.valid += other.valid
        for k, n in other.dead.items():
            self.dead[k] += n
        self.keys += other.keys


def key_digest(keys) -> str:
    """Order-insensitive digest of (unique_vehicle_id, tst µs) pairs."""
    h = hashlib.sha256()
    for uid, us in sorted(keys):
        h.update(f"{uid}|{us}\n".encode())
    return h.hexdigest()


def event(fleet: list[dict], k: int) -> tuple[dict, int]:
    """Message k's vehicle and event time (epoch ms): vehicle ``k % fleet``
    in second ``k // fleet``, so every (vehicle, tst) is unique."""
    second, slot = divmod(k, len(fleet))
    v = fleet[slot]
    return v, BASE_MS + second * 1000 + v["phase"]


def make_file(seed: int, vehicles: int, index: int, first: int, rows: int,
              encoding: str, path: str | None = None):
    """File ``index`` of a seeded message sequence from a fleet of
    ``vehicles``: messages ``first`` .. ``first + rows - 1`` (see ``event``).
    The file depends only on its arguments, so files can be made in any
    order or in parallel.

    Writes the file when ``path`` is given and returns its Truth;
    otherwise returns ``(messages, truth)``.
    """
    rng = random.Random(f"{seed}:{index}")
    fleet = [dict(v) for v in _fleet(seed, vehicles)]  # each file moves its own copy
    n_invalid = round(rows * INVALID_SHARE)
    n_bad_tst = round(rows * BAD_TST_SHARE)
    kinds = ["invalid"] * n_invalid + ["bad_tst"] * n_bad_tst
    kinds += ["ok"] * (rows - len(kinds))
    rng.shuffle(kinds)
    truth = Truth(rows=rows)
    out = []
    for j, kind in enumerate(kinds):
        v, tst_ms = event(fleet, first + j)
        topic, payload = _message(rng, v, tst_ms)
        if kind == "invalid":
            truth.dead[REASON_SCHEMA] += 1
            out.append(invalid_wire(rng, topic) if encoding == "wire"
                       else invalid_json(rng, topic, payload))
            continue
        if kind == "bad_tst":
            payload["tst"] = rng.choice(BAD_TST)
            truth.dead[REASON_TST] += 1
        else:
            truth.valid += 1
            truth.keys.append((v["uid"], tst_ms * 1000))
        out.append(encode_wire(topic, payload) if encoding == "wire"
                   else encode_json(topic, payload))
    if path is None:
        return out, truth
    write_file(path, out, encoding)
    return truth


def write_file(path: str, messages: list, encoding: str) -> None:
    """Land one file atomically: written under a dot-name (which Spark's
    file source ignores), then renamed into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    if encoding == "wire":
        pq.write_table(pa.table({"value": pa.array(messages, pa.binary())}), tmp)
    else:
        with open(tmp, "w") as f:
            f.write("\n".join(messages) + "\n")
    os.rename(tmp, path)
