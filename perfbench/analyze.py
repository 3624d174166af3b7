"""Post-run analysis: correctness gate, due-time mapping and metrics.

Everything here runs after the system under test has stopped, so no
deaggregation or parsing happens on the timed path.  The functions are
pure over the generator's ``expected.json`` and what ``sut.py`` wrote.

Measured window.  ``t0`` is the first micro-batch's commit; the
workload's first ``warmup_s`` seconds after it are warm-up.  Rows due
before ``t0 + warmup_s`` (the first batch's rows included) carry no
latency sample, and the drain rate and the per-layer numbers count only
what happens after it.  The run's payload is the corpus up to the source's cut,
made ``seconds`` after the warm-up: rows past it were never exposed and
are not attempted.

Due times.  In the open loop, row i is due at ``t0 + (i - warm) /
rate``, where ``warm`` is the first batch's rows.  In the closed loop
the whole backlog exists before the pipeline starts, so a row is due
when the source first exposes it (the first ``latestOffset`` whose
offset covers it): the latency is then that of the micro-batch that
carries it, not its place in the backlog.

Publish time of a change: the completion of the ``put_record`` whose
aggregate carries it.  A change the operation filter nulled is never
put, by design; its publish time is the end of the sink's
``process_batch`` for its micro-batch, when the sink has consumed it.
Ack time of a wire message: the first source ``commit()`` whose LSN
covers it.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import statistics
from dataclasses import dataclass, field

from perfbench.gen import WORKLOADS

MIB = 1 << 20
WINDOWS = 3  # due-time windows behind each p99


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile (q in (0, 1]); None for no samples."""
    if not values:
        return None
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def windowed_p99(samples: list[tuple[float, float]], windows: int = WINDOWS) -> float | None:
    """p99 of (due time, latency) samples: the median over ``windows``
    equal due-time windows of each window's p99.  One stall moves one
    window, not the result; a slowdown that lasts moves them all."""
    if not samples:
        return None
    lo = min(d for d, _ in samples)
    span = max(d for d, _ in samples) - lo
    buckets: list[list[float]] = [[] for _ in range(windows)]
    for d, x in samples:
        k = int((d - lo) / span * windows) if span > 0 else 0
        buckets[min(k, windows - 1)].append(x)
    return statistics.median(percentile(b, 0.99) for b in buckets if b)


def due_times(n_payload: int, warm: int, t0: float, rate: float) -> list[float | None]:
    """Open-loop due time of each payload row; None for the first batch."""
    warm = min(warm, n_payload)
    return [None] * warm + [t0 + i / rate for i in range(n_payload - warm)]


def cover_times(lsns: list[int], events: list[tuple[float, int]]) -> list[float | None]:
    """For each LSN, the time of the first event (t, lsn) whose LSN
    reaches it; None if none does."""
    out: list[float | None] = [None] * len(lsns)
    high, i = None, 0
    for t, lsn in sorted(events):
        if high is not None and lsn <= high:
            continue
        high = lsn
        j = bisect.bisect_right(lsns, lsn)
        for k in range(i, j):
            out[k] = t
        i = max(i, j)
    return out


def parse_message(data: bytes) -> tuple[str, str, str, str]:
    """(xid, table, operation, pkey) of one CSVPayload message, parsed the
    way the reference's tests compare (parsed JSON, not bytes)."""
    d = json.loads(data.decode().split(",", 2)[2])
    return (str(d["xid"]), d["table"], d["operation"], d["pkey"])


def _longest_increasing(seq: list[int]) -> set[int]:
    """Values of one longest strictly increasing subsequence (patience
    sorting, O(n log n))."""
    tail_vals: list[int] = []
    tail_pos: list[int] = []
    prev = [-1] * len(seq)
    for pos, v in enumerate(seq):
        k = bisect.bisect_left(tail_vals, v)
        if k > 0:
            prev[pos] = tail_pos[k - 1]
        if k == len(tail_vals):
            tail_vals.append(v)
            tail_pos.append(pos)
        else:
            tail_vals[k] = v
            tail_pos[k] = pos
    keep, pos = set(), tail_pos[-1] if tail_pos else -1
    while pos >= 0:
        keep.add(seq[pos])
        pos = prev[pos]
    return keep


@dataclass
class Gate:
    """Outcome of comparing the published sequence with the expected one."""

    failed_lsns: set[int] = field(default_factory=set)
    wrong: int = 0
    missing: int = 0
    duplicated: int = 0
    out_of_order: int = 0
    published_at: dict[int, int] = field(default_factory=dict)  # expected idx → put idx

    def summary(self) -> dict:
        return {
            "missing": self.missing, "wrong": self.wrong,
            "duplicated": self.duplicated, "out_of_order": self.out_of_order,
        }


def check_sequence(expected: list[tuple], got: list[tuple[int, tuple]]) -> Gate:
    """``expected``: (lsn, xid, table, operation, pkey) in LSN order;
    ``got``: (put index, (xid, table, operation, pkey)) in publish order.
    A wire message fails if any of its changes is missing, duplicated or
    out of order; a published message that matches nothing is wrong."""
    g = Gate()
    index = {tuple(e[1:]): i for i, e in enumerate(expected)}
    order: list[int] = []
    for put_idx, msg in got:
        i = index.get(tuple(msg))
        if i is None:
            g.wrong += 1
        elif i in g.published_at:
            g.duplicated += 1
            g.failed_lsns.add(expected[i][0])
        else:
            g.published_at[i] = put_idx
            order.append(i)
    in_order = _longest_increasing(order)
    for i in order:
        if i not in in_order:
            g.out_of_order += 1
            g.failed_lsns.add(expected[i][0])
    for i, e in enumerate(expected):
        if i not in g.published_at:
            g.missing += 1
            g.failed_lsns.add(e[0])
    return g


def deaggregate(data: list[bytes]) -> list[tuple[int, bytes]]:
    from pg2kinesis_spark.sinks.kpl import deaggregate_kpl

    return [(i, m) for i, blob in enumerate(data) for _, m in deaggregate_kpl(blob)]


def read_events(events_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(events_dir)):
        if not (name.startswith("events-") and name.endswith(".jsonl")):
            continue
        with open(os.path.join(events_dir, name)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def read_acks(ack_log: str) -> list[int]:
    if not os.path.exists(ack_log):
        return []
    with open(ack_log) as f:
        return [json.loads(line)["acked_lsn"] for line in f if line.strip()]


def _batch_ends(progress: list[dict]) -> dict[int, int]:
    """batchId → the last LSN the micro-batch covers."""
    return {p["batchId"]: p["sources"][0]["endOffset"]["lsn"] for p in progress}


def analyze_run(expected: dict, p: dict, workload: str) -> dict:
    """Correctness gate and end-to-end metrics of one run (``p`` is what
    ``sut.py`` wrote to result.json, ``dir`` its run directory)."""
    import pyarrow.feather as feather

    w = WORKLOADS[workload]
    # payload up to the cut (all of it if the run never cut); the
    # heartbeat is the last corpus row
    cut = p["cut_lsn"] if p["cut_lsn"] is not None else expected["lsns"][-2]
    n = bisect.bisect_right(expected["lsns"], cut, hi=len(expected["lsns"]) - 1)
    lsns, sizes = expected["lsns"][:n], expected["sizes"][:n]
    payload_end = lsns[-1]
    t0 = p["t_first_commit"]
    events = read_events(os.path.join(p["dir"], "events"))
    acks = read_acks(os.path.join(p["dir"], "acks.jsonl"))
    records = feather.read_table(os.path.join(p["dir"], "records.arrow"))
    put_times = records.column("t").to_pylist()
    put_data = records.column("data").to_pylist()

    # -- correctness gate ---------------------------------------------
    published = [tuple(e) for e in expected["published"] if e[0] <= cut]
    filtered = [lsn for lsn in expected["filtered_lsns"] if lsn <= cut]
    got = [(i, parse_message(m)) for i, m in deaggregate(put_data)]
    gate = check_sequence(published, got)
    failed = set(gate.failed_lsns)
    max_ack = max(acks) if acks else None
    regressions = sum(1 for a, b in zip(acks, acks[1:]) if b < a)
    failed.update(lsn for lsn in lsns if max_ack is None or lsn > max_ack)
    problems = []
    if p["cut_lsn"] is None:
        problems.append("the source never cut the corpus")
    if max_ack != payload_end:
        problems.append(f"last acked LSN {max_ack} != last payload LSN {payload_end} (the cut)")
    if regressions:
        problems.append(f"{regressions} ack regressions")
    wr = p["writer"]
    # the heartbeat batch may or may not have reached the sink before stop
    hb = expected["sizes"][-1]
    n_changes = len(published) + len(filtered)
    counters_ok = (
        wr["put_message_calls"] == n_changes
        and (wr["cum_msg_count"], wr["cum_msg_size"]) in ((n, sum(sizes)), (n + 1, sum(sizes) + hb))
    )
    if not counters_ok:
        problems.append(
            f"sink counters put_message_calls={wr['put_message_calls']} "
            f"(want {n_changes}) cum_msg_count={wr['cum_msg_count']} (want {n})"
        )
    if p["error"]:
        problems.append(f"query failed: {p['error']}")
    n_failed = min(n, len(failed) + gate.wrong + (1 if problems and not failed else 0))

    # -- latencies ----------------------------------------------------
    latest = [(e["t"], e["lsn"]) for e in events if e["ev"] == "latest"]
    t_measure = (t0 or 0.0) + w.warmup_s
    if t0 is None:
        due = [None] * n
    elif w.open_loop:
        due = due_times(n, w.rows_per_batch, t0, w.msgs_per_second)
    else:
        due = [None] * w.rows_per_batch + cover_times(lsns, latest)[w.rows_per_batch:]
    due = [d if d is not None and d >= t_measure else None for d in due]
    row_of = {lsn: i for i, lsn in enumerate(lsns)}
    publish = []
    for i, put_idx in gate.published_at.items():
        d = due[row_of[published[i][0]]]
        if d is not None:
            publish.append((d, put_times[put_idx] - d))
    # changes the operation filter nulled: consumed at the end of their batch's sink call
    batch_ends = sorted(
        (hi, p["batches"][str(b)]["end"]) for b, hi in _batch_ends(p["progress"]).items()
        if str(b) in p["batches"]
    )
    ends_lsn = [hi for hi, _ in batch_ends]
    for lsn in filtered:
        d = due[row_of[lsn]]
        k = bisect.bisect_left(ends_lsn, lsn)
        if d is not None and k < len(batch_ends):
            publish.append((d, batch_ends[k][1] - d))
    commits = [(e["t"], e["lsn"]) for e in events if e["ev"] == "commit"]
    acked_at = cover_times(lsns, commits)
    ack = [(d, a - d) for a, d in zip(acked_at, due) if a is not None and d is not None]

    # drain: wire messages acked per second, between the first ack in the
    # measured window and the last ack (the one covering the cut)
    commits = sorted(c for c in commits if c[0] >= t_measure)
    drain = None
    if len(commits) >= 2:
        (ta, la), (tb, lb) = commits[0], commits[-1]
        msgs = bisect.bisect_right(lsns, lb) - bisect.bisect_right(lsns, la)
        if tb > ta:
            drain = msgs / (tb - ta)

    return {
        "correct": n_failed == 0 and not problems,
        "attempted": n,
        "failed": n_failed,
        "problems": problems,
        "gate": gate.summary(),
        "setup_s": None if t0 is None else t0 - p["t_start"],
        "drain_msgs_per_s": drain,
        "publish_ms": [(d, x * 1000.0) for d, x in publish],
        "ack_ms": [(d, x * 1000.0) for d, x in ack],
        "peak_rss_mb": p["peak_rss_bytes"] / MIB,
        "lsns": lsns,
        "put_times": put_times,
        "put_sizes": [len(d) for d in put_data],
        "msgs_per_put": len(got) / len(put_data) if put_data else 0.0,
        "due": due,
        "t_measure": t_measure,
        "latest": latest,
        "events": events,
    }


def end_to_end(a: dict) -> dict[str, tuple[float | None, str]]:
    return {
        "setup_s": (a["setup_s"], "s"),
        "drain_msgs_per_s": (a["drain_msgs_per_s"], "msgs/s"),
        "publish_latency_p50_ms": (percentile([x for _, x in a["publish_ms"]], 0.50), "ms"),
        "publish_latency_p99_ms": (windowed_p99(a["publish_ms"]), "ms"),
        "ack_latency_p50_ms": (percentile([x for _, x in a["ack_ms"]], 0.50), "ms"),
        "ack_latency_p99_ms": (windowed_p99(a["ack_ms"]), "ms"),
        "peak_rss_mb": (a["peak_rss_mb"], "MiB"),
    }


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(expected: dict, p: dict, a: dict, workload: str) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run, grouped by module.  Times are
    taken over the measured window; counters cover the whole run."""
    w = WORKLOADS[workload]
    lsns = a["lsns"]
    t_m = a["t_measure"]
    spans = [s for s in [e for e in a["events"] if e["ev"] == "span"] + p["spans"] if s["start"] >= t_m]

    def durations(name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in spans if s["name"] == name]

    reads = [s for s in spans if s["name"] == "source.read"]
    scanned = sum(s["scanned"] for s in reads)
    served = sum(s["served"] for s in reads)
    # source: due → first latestOffset exposing the row (0 in the closed
    # loop, where exposure defines due); backlog = rows due but not yet
    # exposed, right after each latestOffset (the whole closed-loop
    # backlog is due from the start)
    latest = sorted(a["latest"])
    exposed = cover_times(lsns, latest)
    lag = [(x - d) * 1000.0 for x, d in zip(exposed, a["due"]) if x is not None and d is not None]
    due_sorted = [d for d in a["due"] if d is not None]
    backlog = 0
    for t, lsn in latest:
        if t < t_m:
            continue
        exposed_n = max(0, bisect.bisect_right(lsns, lsn) - w.rows_per_batch)
        due_n = (bisect.bisect_right(due_sorted, t) if w.open_loop
                 else len(expected["lsns"]) - 1 - w.rows_per_batch)
        backlog = max(backlog, due_n - exposed_n)

    # engine and state, from StreamingQueryProgress in the measured
    # window; the heartbeat's batch is not counted
    prog = [
        q for q in p["progress"]
        if q["received"] >= t_m and q.get("numInputRows", 0) > 0
        and q["sources"][0]["endOffset"]["lsn"] <= lsns[-1]
    ]
    dur = [q["durationMs"] for q in prog]
    trig = [d.get("triggerExecution", 0) for d in dur]
    window = (prog[-1]["received"] - t_m) if prog else 0.0
    state = [q["stateOperators"][0] for q in prog if q.get("stateOperators")]
    # tracing overhead: even batches are traced at the source and the
    # sink, odd ones not
    even = [q["durationMs"].get("triggerExecution", 0) for q in prog if q["batchId"] % 2 == 0]
    odd = [q["durationMs"].get("triggerExecution", 0) for q in prog if q["batchId"] % 2]
    overhead = (_p50(even) / _p50(odd) - 1.0) * 100.0 if even and odd and _p50(odd) else 0.0

    mats = [s for s in spans if s["name"] == "operators.materialise"]
    rows_out = sum(s["rows"] for s in mats)
    with_msg = sum(s["with_msg"] for s in mats)
    wr = p["writer"]
    puts = len(a["put_sizes"])
    bytes_put = sum(a["put_sizes"])
    return {
        "session.start_s": (p["t_session"] - p["t_start"], "s"),
        "catalog.snapshot_s": (p["t_catalog"] - p["t_session"], "s"),
        "catalog.tables": (float(expected["n_tables"]), "count"),
        "jvm.old_gen_peak_mb": (p["jvm_old_gen_peak_bytes"] / MIB, "MiB"),
        "source.latest_offset_ms_p50": (_p50(durations("source.latestOffset")), "ms"),
        "source.read_ms_p50": (_p50(durations("source.read")), "ms"),
        "source.rows_scanned_per_served": (scanned / served if served else 0.0, "ratio"),
        "source.commit_ms_p50": (_p50(durations("source.commit")), "ms"),
        "source.poll_lag_ms_p99": (percentile(lag, 0.99) or 0.0, "ms"),
        "source.backlog_msgs_max": (float(backlog), "count"),
        "engine.batches": (float(len(prog)), "count"),
        "engine.trigger_ms_p50": (_p50(trig), "ms"),
        "engine.overhead_ms_p50": (_p50([d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur]), "ms"),
        "engine.planning_ms_p50": (_p50([d.get("queryPlanning", 0) for d in dur]), "ms"),
        "engine.log_commit_ms_p50": (_p50([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]), "ms"),
        "engine.idle_share": (max(0.0, 1.0 - sum(trig) / 1000.0 / window) if window > 0 else 0.0, "ratio"),
        "state.update_ms_p50": (_p50([s.get("allUpdatesTimeMs", 0) for s in state]), "ms"),
        "state.commit_ms_p50": (_p50([s.get("commitTimeMs", 0) for s in state]), "ms"),
        "state.memory_bytes": (float(max((s.get("memoryUsedBytes", 0) for s in state), default=0)), "bytes"),
        "state.rows_total": (float(max((s.get("numRowsTotal", 0) for s in state), default=0)), "count"),
        "operators.exec_ms_p50": (_p50(durations("operators.materialise")), "ms"),
        "operators.rows_out": (float(rows_out), "count"),
        "operators.null_out_share": ((rows_out - with_msg) / rows_out if rows_out else 0.0, "ratio"),
        "sink.drain_ms_p50": (_p50(durations("sink.process_batch")), "ms"),
        "sink.put_message_calls": (float(wr["put_message_calls"]), "count"),
        "sink.physical_puts": (float(wr["physical_puts"]), "count"),
        "sink.put_record_ms": (wr["put_busy_s"] * 1000.0, "ms"),
        "sink.bytes_put": (float(bytes_put), "bytes"),
        "sink.msgs_per_put": (a["msgs_per_put"], "count"),
        "sink.agg_fill_ratio": (bytes_put / puts / MIB if puts else 0.0, "ratio"),
        "sink.retries": (float(wr["transport_attempts"] - puts), "count"),
        "trace.overhead_pct": (overhead, "%"),
    }
