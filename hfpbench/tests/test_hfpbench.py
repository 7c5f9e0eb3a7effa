"""The sink benchmark's own checks: seeded generation, the percentile and
sample-count rule, span self-times and the reconcile of a store against
the generator's truth. Run with ``python3 -m pytest hfpbench/tests -q``."""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import gen  # noqa: E402
from measure import (  # noqa: E402
    Tracer, percentile, reconcile, reportable_percentile, samples_for,
)


@pytest.mark.parametrize("encoding", ["wire", "json"])
def test_generator_is_deterministic_per_seed(encoding):
    a = gen.make_file(7, 50, 3, 600, 200, encoding)
    b = gen.make_file(7, 50, 3, 600, 200, encoding)
    c = gen.make_file(8, 50, 3, 600, 200, encoding)
    assert a[0] == b[0] and a[1] == b[1]
    assert a[0] != c[0]


def test_generator_truth_counts_are_exact_shares():
    _, truth = gen.make_file(1, 50, 0, 0, 1000, "wire")
    assert truth.rows == 1000
    assert truth.dead == {gen.REASON_SCHEMA: 20, gen.REASON_TST: 10}
    assert truth.valid == 970 == len(truth.keys) == len(set(truth.keys))


def test_every_vehicle_sends_once_a_second_in_tst_order():
    """Message k is vehicle k % fleet in second k // fleet, so event time
    advances one second per fleet messages and arrival order is tst order."""
    import random

    fleet = gen.make_fleet(random.Random(4), 50)
    events = [gen.event(fleet, k) for k in range(100, 300)]  # seconds 2..5
    tsts = [t for _, t in events]
    assert tsts == sorted(tsts)
    for second in range(2, 6):
        sent = [v["uid"] for v, t in events if (t - gen.BASE_MS) // 1000 == second]
        assert sorted(sent) == sorted(v["uid"] for v in fleet)


def test_both_encodings_carry_the_same_messages():
    """The wire and JSON files of one index hold the same messages, so a
    layer leg may read either."""
    from transitlog_hfp_sink_spark.sources.protowire import decode_data

    wire, tw = gen.make_file(3, 50, 0, 0, 300, "wire")
    text, tj = gen.make_file(3, 50, 0, 0, 300, "json")
    assert tw.keys == tj.keys
    import json

    decoded = []
    for frame, line in zip(wire, text):
        try:
            topic, payload = decode_data(frame)
        except ValueError:
            continue
        msg = json.loads(line)
        assert msg["topic"]["unique_vehicle_id"] == topic["unique_vehicle_id"]
        assert msg["payload"]["tst"] == payload["tst"]
        assert msg["payload"]["lat"] == payload["lat"]
        decoded.append(frame)
    assert len(decoded) == tw.valid + tw.dead[gen.REASON_TST]


def test_percentile_matches_statistics_inclusive_quartiles():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile([5.0], 90) == 5.0


@pytest.mark.parametrize("n, p", [(5, 50), (39, 50), (40, 75), (99, 75), (100, 90), (999, 90),
                                  (1000, 99)])
def test_reportable_percentile_needs_ten_samples_beyond(n, p):
    assert reportable_percentile(n) == p


@pytest.mark.parametrize("p", [50, 75, 90, 99])
def test_samples_for_is_the_fewest_that_report_a_percentile(p):
    assert reportable_percentile(samples_for(p)) == p
    assert p == 50 or reportable_percentile(samples_for(p) - 1) < p


def test_self_time_subtracts_covered_child_time():
    t = Tracer(True)
    root = t.add("batch", 0.0, 10.0)
    t.add("sink", 1.0, 3.0, root)
    t.add("sink", 2.0, 5.0, root)  # overlaps the first child
    t.add("leg", 9.0, 12.0, root)  # runs past the parent's end
    assert t.self_times()[root] == pytest.approx(10.0 - 4.0 - 1.0)
    assert Tracer(False).add("x", 0.0, 1.0) is None


def _truth():
    return {"rows": 100, "stored": 97, "dead": {gen.REASON_SCHEMA: 2, gen.REASON_TST: 1},
            "digest": gen.key_digest([("6/1", 1), ("6/2", 2)])}


def test_reconcile_accepts_the_truth():
    t = _truth()
    assert reconcile(t, {k: v for k, v in t.items() if k != "rows"}) == []


def test_reconcile_reports_each_mismatch():
    seen = {"stored": 96, "dead": {gen.REASON_SCHEMA: 2, gen.REASON_TST: 1},
            "digest": gen.key_digest([("6/2", 2), ("6/1", 1)])}
    assert reconcile(_truth(), seen) == ["stored rows 96 != 97",
                                         "stored + dead-lettered 99 != 100 sent"]
    seen = {"stored": 97, "dead": {gen.REASON_SCHEMA: 3},
            "digest": gen.key_digest([("6/1", 1), ("6/2", 3)])}
    assert reconcile(_truth(), seen) == [
        "dead-lettered invalid_protobuf_schema 3 != 2",
        "dead-lettered unparseable_tst 0 != 1",
        "(unique_vehicle_id, tst) digest differs",
    ]


def test_query_results_compare_unordered_and_within_float_tolerance():
    import run

    want = run._norm([("12", 3, 0.1 + 0.2), ("7", 1, 1.0)], ordered=False)
    got = run._norm([("7", 1, 1.0), ("12", 3, 0.3)], ordered=False)
    assert run.same_rows(got, want)
    assert not run.same_rows(got, want[:1])
    assert not run.same_rows(run._norm([("7", 1, 1.0), ("12", 3, 0.31)], False), want)
    assert not run.same_rows(run._norm([(2,), (1,)], ordered=True), [(1,), (2,)])


def test_file_batches_reads_plain_and_compacted_source_logs(tmp_path):
    import run

    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    entry = '{{"path":"file:///in/{}","timestamp":1,"batchId":{}}}'
    (log / "9.compact").write_text("v1\n" + entry.format("a.txt", 0) + "\n" + entry.format("b.txt", 9))
    (log / "10").write_text("v1\n" + entry.format("c.txt", 10))
    (log / ".10.crc").write_bytes(b"\xa8\x00")
    assert run._file_batches(str(tmp_path)) == {"a.txt": 0, "b.txt": 9, "c.txt": 10}


def test_query_params_are_seeded_and_cover_the_event_hours():
    import random

    import run

    keys = [("6/1", (gen.BASE_MS + i * 60_000) * 1000) for i in range(150)]
    keys += [(f"6/{v}", gen.BASE_MS * 1000) for v in range(2, 12)]
    a = run.query_params(keys, random.Random(5))
    assert a == run.query_params(keys, random.Random(5))
    assert a["hour_window"] == [("2024-05-06", 7), ("2024-05-06", 8), ("2024-05-06", 9)]
    assert len(a["vehicle_day"]) == 8
    assert {d for _, d in a["vehicle_day"]} == {gen.ODAY}
