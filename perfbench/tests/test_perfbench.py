"""Self-tests of the benchmark: rate gate, latency mapping, correctness gate.

    python3 -m pytest perfbench/tests -q

No JVM is started: the reader is driven directly with a fake clock, and
the analysis runs on synthetic put/ack traces.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.feather as feather
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from pg2kinesis_spark.sinks.kpl import serialize_kpl  # noqa: E402
from perfbench import analyze, gen  # noqa: E402
from perfbench.source import BenchReplayReader, rows_due  # noqa: E402


# -- rate gate ------------------------------------------------------------

def test_rows_due_open_and_closed_loop():
    assert rows_due(5.0, None, warm=3, rate=2.0, n_payload=10) == 3  # before t0
    assert rows_due(99.0, 100.0, warm=3, rate=2.0, n_payload=10) == 3
    assert rows_due(100.0, 100.0, warm=3, rate=2.0, n_payload=10) == 4  # row 3 due at t0
    assert rows_due(100.49, 100.0, warm=3, rate=2.0, n_payload=10) == 4
    assert rows_due(100.5, 100.0, warm=3, rate=2.0, n_payload=10) == 5
    assert rows_due(1e9, 100.0, warm=3, rate=2.0, n_payload=10) == 10
    assert rows_due(0.0, None, warm=3, rate=0.0, n_payload=10) == 10  # closed loop


def _corpus(tmp_path, n: int) -> list[int]:
    lsns = [100 + 10 * i for i in range(n)]
    pq.write_table(
        pa.table({
            "lsn": pa.array(lsns, pa.int64()),
            "data_size": pa.array([1] * n, pa.int32()),
            "payload": pa.array([f"m{i}" for i in range(n)]),
        }),
        str(tmp_path / "corpus.parquet"),
    )
    return lsns


def _reader(tmp_path, rows_per_batch: int, warm: int, rate: float, stop_after: float = 1e9):
    return BenchReplayReader({
        "path": str(tmp_path / "corpus.parquet"), "rowsperbatch": str(rows_per_batch),
        "eventsdir": str(tmp_path), "warmrows": str(warm), "rate": str(rate),
        "t0path": str(tmp_path / "t0"), "stopafter": str(stop_after),
        "cutpath": str(tmp_path / "cut"),
    })


def test_rate_gate_exposes_exactly_the_rows_due(tmp_path):
    lsns = _corpus(tmp_path, 11)  # 10 payload rows + heartbeat
    now = [0.0]
    reader = _reader(tmp_path, 100, warm=3, rate=2)
    reader.clock = lambda: now[0]
    assert reader.initialOffset() == {"lsn": lsns[0] - 1}
    assert reader.latestOffset() == {"lsn": lsns[2]}  # only the warm rows
    now[0] = 50.0
    assert reader.latestOffset() == {"lsn": lsns[2]}  # schedule not started
    (tmp_path / "t0").write_text("100.0")
    now[0] = 100.0
    assert reader.latestOffset() == {"lsn": lsns[3]}
    now[0] = 101.2  # rows 3, 4, 5 due (t0, t0 + 0.5, t0 + 1.0)
    assert reader.latestOffset() == {"lsn": lsns[5]}
    now[0] = 104.0
    assert reader.latestOffset() == {"lsn": lsns[9]}  # all payload, no heartbeat yet
    assert reader.latestOffset() == {"lsn": lsns[10]}  # heartbeat alone, after payload
    events = analyze.read_events(str(tmp_path))
    assert [e["lsn"] for e in events if e["ev"] == "latest"] == [lsns[i] for i in (2, 3, 5, 9, 10)]


def test_rate_gate_respects_rows_per_batch(tmp_path):
    lsns = _corpus(tmp_path, 11)
    reader = _reader(tmp_path, 4, warm=4, rate=0)
    reader.initialOffset()
    assert [reader.latestOffset()["lsn"] for _ in range(4)] == [lsns[3], lsns[7], lsns[9], lsns[10]]


def test_cut_stops_payload_and_serves_the_heartbeat_alone(tmp_path):
    lsns = _corpus(tmp_path, 21)  # 20 payload rows + heartbeat
    now = [0.0]
    reader = _reader(tmp_path, 4, warm=4, rate=0, stop_after=10.0)
    reader.clock = lambda: now[0]
    reader.initialOffset()
    assert reader.latestOffset() == {"lsn": lsns[3]}  # the first batch
    (tmp_path / "t0").write_text("100.0")
    now[0] = 105.0
    assert reader.latestOffset() == {"lsn": lsns[7]}
    assert not (tmp_path / "cut").exists()
    now[0] = 110.0  # the cut: nothing past lsns[7], then the heartbeat
    assert reader.latestOffset() == {"lsn": lsns[20]}
    assert (tmp_path / "cut").read_text() == str(lsns[7])
    assert reader.latestOffset() == {"lsn": lsns[20]}
    (part,) = reader.partitions({"lsn": lsns[7]}, {"lsn": lsns[20]})
    assert [row[0] for row in reader.read(part)] == [lsns[20]]
    cuts = [e["lsn"] for e in analyze.read_events(str(tmp_path)) if e["ev"] == "cut"]
    assert cuts == [lsns[7]]


def test_cut_after_the_backlog_ran_out_is_the_last_payload_row(tmp_path):
    lsns = _corpus(tmp_path, 9)
    now = [0.0]
    reader = _reader(tmp_path, 4, warm=4, rate=0, stop_after=10.0)
    reader.clock = lambda: now[0]
    reader.initialOffset()
    (tmp_path / "t0").write_text("100.0")
    assert [reader.latestOffset()["lsn"] for _ in range(3)] == [lsns[3], lsns[7], lsns[8]]
    now[0] = 120.0
    assert reader.latestOffset() == {"lsn": lsns[8]}
    assert (tmp_path / "cut").read_text() == str(lsns[7])


# -- latency mapping and correctness gate on a synthetic trace ------------

T0 = 1_000.0
WARM, SCHEDULED, RATE = 10, 100, 100.0


@pytest.fixture
def workload(monkeypatch):
    # no warm-up: every scheduled row is measured
    w = gen.Workload("wal2json", WARM, 0, 1, int(RATE), open_loop=True)
    monkeypatch.setitem(gen.WORKLOADS, "synthetic", w)
    return "synthetic"


def _message(xid: int, pkey: str) -> bytes:
    body = json.dumps({"xid": xid, "table": "public.t", "operation": "insert", "pkey": pkey})
    return f"0,CDC,{body}".encode()


PAST_CUT = 5  # payload rows in the corpus past the cut


def _trace(tmp_path, mutate=None):
    """One change per wire message; scheduled message j is put
    (j % 20) + 1 ms and acked half that after it was due (acks stay in
    LSN order), so the latency percentiles are known.  The run cut the
    corpus after the scheduled messages."""
    n = WARM + SCHEDULED
    lsns = [500 + 7 * i for i in range(n + PAST_CUT + 1)]  # + heartbeat
    sizes = [20] * len(lsns)
    published = [[lsns[i], str(9000 + i), "public.t", "insert", f"k{i}"] for i in range(n + PAST_CUT)]
    due = [T0 - 1.0] * WARM + [T0 + j / RATE for j in range(SCHEDULED)]
    lat = [((i - WARM) % 20 + 1) / 1000.0 if i >= WARM else 0.0 for i in range(n)]
    puts = [(due[i] + lat[i], i, f"k{i}") for i in range(n)]
    if mutate:
        puts = mutate(puts)
    records = [(t, serialize_kpl([(str(9000 + i), _message(9000 + i, pk))])) for t, i, pk in puts]
    d = tmp_path / "pass0"
    (d / "events").mkdir(parents=True)
    feather.write_feather(
        pa.table({
            "t": pa.array([t for t, _ in records], pa.float64()),
            "data": pa.array([b for _, b in records], pa.binary()),
        }),
        str(d / "records.arrow"),
    )
    acks = [(due[i] + lat[i] / 2 if i >= WARM else T0, lsns[i]) for i in range(n)]
    with open(d / "events" / "events-1.jsonl", "w") as f:
        for t, lsn in acks:
            f.write(json.dumps({"ev": "commit", "t": t, "lsn": lsn}) + "\n")
    with open(d / "acks.jsonl", "w") as f:
        for _, lsn in acks:
            f.write(json.dumps({"acked_lsn": lsn}) + "\n")
    expected = {
        "lsns": lsns, "sizes": sizes, "published": published, "filtered_lsns": [],
        "n_tables": 1,
    }
    p = {
        "dir": str(d), "t_start": T0 - 30.0, "t_first_commit": T0, "error": None,
        "cut_lsn": lsns[n - 1],
        "progress": [], "batches": {}, "peak_rss_bytes": 1 << 30,
        "writer": {"put_message_calls": n, "physical_puts": len(records),
                   "cum_msg_count": n, "cum_msg_size": 20 * n},
    }
    return expected, p


def test_latency_mapping_gives_known_percentiles(tmp_path, workload):
    expected, p = _trace(tmp_path)
    a = analyze.analyze_run(expected, p, workload)
    assert a["correct"] and a["failed"] == 0
    assert a["attempted"] == WARM + SCHEDULED  # up to the cut
    assert len(a["publish_ms"]) == SCHEDULED == len(a["ack_ms"])
    m = analyze.end_to_end(a)
    # latencies 1..20 ms, five of each: p50 is 10 ms; each of the three
    # due-time windows holds a 20 ms message, so its p99 is 20 ms
    assert m["publish_latency_p50_ms"][0] == pytest.approx(10.0, abs=1e-3)
    assert m["publish_latency_p99_ms"][0] == pytest.approx(20.0, abs=1e-3)
    assert m["ack_latency_p50_ms"][0] == pytest.approx(5.0, abs=1e-3)
    assert m["ack_latency_p99_ms"][0] == pytest.approx(10.0, abs=1e-3)
    assert m["setup_s"][0] == pytest.approx(30.0)


def test_windowed_p99_ignores_one_stalled_window():
    # three windows of 400 samples, each holding 10.0 .. 19.9 ms four times
    assert analyze.WINDOWS == 3
    steady = [(t / 120.0, 10.0 + (t % 100) / 10.0) for t in range(1200)]
    p99 = analyze.windowed_p99(steady)
    assert p99 == pytest.approx(19.8)
    stalled = [(d, x + 500.0 if d < 2.5 else x) for d, x in steady]  # first window slow
    assert analyze.windowed_p99(stalled) == pytest.approx(p99)
    slower = [(d, x + 500.0) for d, x in steady]  # the whole run slow
    assert analyze.windowed_p99(slower) == pytest.approx(p99 + 500.0)


def test_cover_times_and_percentile():
    assert analyze.cover_times([1, 2, 3, 4], [(5.0, 2), (6.0, 1), (7.0, 4)]) == [5.0, 5.0, 7.0, 7.0]
    assert analyze.cover_times([1, 2], [(1.0, 0)]) == [None, None]
    assert analyze.percentile(list(range(1, 101)), 0.5) == 50
    assert analyze.percentile(list(range(1, 101)), 0.99) == 99
    assert analyze.percentile([], 0.5) is None


def test_gate_rejects_dropped_message(tmp_path, workload):
    expected, p = _trace(tmp_path, lambda puts: puts[:42] + puts[43:])
    a = analyze.analyze_run(expected, p, workload)
    assert not a["correct"]
    assert a["gate"]["missing"] == 1 and a["failed"] == 1


def test_gate_rejects_reordered_message(tmp_path, workload):
    def swap(puts):
        puts = list(puts)
        puts[20], puts[60] = puts[60], puts[20]
        return puts

    expected, p = _trace(tmp_path, swap)
    a = analyze.analyze_run(expected, p, workload)
    assert not a["correct"]
    assert a["gate"]["out_of_order"] >= 1 and a["failed"] >= 1


def test_gate_rejects_altered_message(tmp_path, workload):
    def alter(puts):
        t, i, _ = puts[30]
        return puts[:30] + [(t, i, "k-altered")] + puts[31:]

    expected, p = _trace(tmp_path, alter)
    a = analyze.analyze_run(expected, p, workload)
    assert not a["correct"]
    assert a["gate"]["wrong"] == 1 and a["gate"]["missing"] == 1


def test_gate_rejects_message_past_the_cut(tmp_path, workload):
    n = WARM + SCHEDULED
    expected, p = _trace(tmp_path, lambda puts: puts + [(puts[-1][0] + 0.01, n, f"k{n}")])
    a = analyze.analyze_run(expected, p, workload)
    assert not a["correct"]
    assert a["gate"]["wrong"] == 1


def test_gate_counts_duplicates_and_unacked(tmp_path, workload):
    expected, p = _trace(tmp_path, lambda puts: puts + [puts[5]])
    a = analyze.analyze_run(expected, p, workload)
    assert a["gate"]["duplicated"] == 1 and not a["correct"]

    expected, p = _trace(tmp_path / "unacked")
    with open(os.path.join(p["dir"], "acks.jsonl")) as f:
        lines = f.readlines()
    with open(os.path.join(p["dir"], "acks.jsonl"), "w") as f:
        f.writelines(lines[:-3])  # the last three messages were never acked
    a = analyze.analyze_run(expected, p, workload)
    assert not a["correct"] and a["failed"] == 3


def test_check_sequence_categories():
    exp = [(10 * i, str(i), "t", "insert", f"k{i}") for i in range(5)]
    got = [(i, e[1:]) for i, e in enumerate(exp)]
    assert not analyze.check_sequence(exp, got).failed_lsns
    g = analyze.check_sequence(exp, [got[0], got[2], got[1], got[3], got[4]])
    assert g.out_of_order == 1 and len(g.failed_lsns) == 1
    g = analyze.check_sequence(exp, got[:2] + got[3:])
    assert g.missing == 1 and g.failed_lsns == {20}
