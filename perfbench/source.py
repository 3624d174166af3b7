"""Benchmark subclass of the replay source: rate gate and event log.

``BenchReplayReader`` keeps ``CdcReplayStreamReader``'s offset, batch
and ack logic and narrows what it can see.  ``_all_lsns`` returns only
the rows that are due:

- the first ``warmrows`` rows at once (the cold first micro-batch);
- in an open loop (``rate`` > 0), row i after that only from
  ``t0 + (i - warmrows) / rate``, where ``t0`` is the time ``sut.py``
  wrote to ``t0path`` once the first batch committed; in a closed loop
  every payload row;
- from ``t0 + stopafter`` on, no payload row past the last one already
  exposed (the *cut*, written to ``cutpath``); the run ends once the
  cut is acked;
- the last corpus row (the heartbeat) only once every payload row up to
  the cut (or the corpus end) has been served, and alone: a batch that
  ends at the heartbeat reads only the heartbeat.

The reader methods run in Spark's Python source-runner process and in
executor Python workers, so they log to one JSON-lines file per process
under ``eventsdir``: each ``latestOffset`` that moves the offset, the
cut, and each ``commit`` (the ack), with wall-clock times comparable
across processes.  ``TracedBenchReplayReader`` adds spans around
``latestOffset``, ``read`` and ``commit`` of every even micro-batch, as
the sink traces only even ones; read spans also count rows scanned and
rows served.
"""

from __future__ import annotations

import bisect
import json
import os
import time

from pg2kinesis_spark.sources.replay import CdcReplayDataSource, CdcReplayStreamReader


def rows_due(now: float, t0: float | None, warm: int, rate: float, n_payload: int) -> int:
    """How many payload rows are due at ``now``.  Row i >= warm is due
    at t0 + (i - warm) / rate; rate 0 is a closed loop (all due)."""
    if rate <= 0:
        return n_payload
    if t0 is None or now < t0:
        return min(warm, n_payload)
    return min(n_payload, warm + int((now - t0) * rate) + 1)


class BenchReplayReader(CdcReplayStreamReader):
    def __init__(self, options: dict):
        super().__init__(options)
        self.events_dir = options["eventsdir"]
        self.rate = float(options.get("rate", "0"))
        self.warm = int(options["warmrows"])
        self.t0_path = options["t0path"]
        self.stop_after = float(options["stopafter"])
        self.cut_path = options["cutpath"]
        self.clock = time.time
        self._t0: float | None = None
        self._cut: int | None = None
        self._last_offset = None

    # -- the gate ------------------------------------------------------
    def _schedule_start(self) -> float | None:
        if self._t0 is None and os.path.exists(self.t0_path):
            with open(self.t0_path) as f:
                self._t0 = float(f.read())
        return self._t0

    def _make_cut(self, last_payload: int) -> None:
        self._cut = min(self._cursor, last_payload)
        tmp = self.cut_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(self._cut))
        os.replace(tmp, self.cut_path)
        self._log({"ev": "cut", "t": self.clock(), "lsn": self._cut})

    def _all_lsns(self) -> list[int]:
        lsns = super()._all_lsns()
        n_payload = len(lsns) - 1
        now, t0 = self.clock(), self._schedule_start()
        if self._cut is None and t0 is not None and self._cursor is not None and now >= t0 + self.stop_after:
            self._make_cut(lsns[n_payload - 1])
        if self._cut is not None:
            visible = bisect.bisect_right(lsns, self._cut, hi=n_payload)
        else:
            visible = rows_due(now, t0, self.warm, self.rate, n_payload)
        ended = self._cut is not None or visible == n_payload
        if ended and self._cursor is not None and self._cursor >= lsns[visible - 1]:
            return lsns[:visible] + lsns[n_payload:]
        return lsns[:visible]

    def partitions(self, start: dict, end: dict):
        parts = super().partitions(start, end)
        if end["lsn"] == super()._all_lsns()[-1]:
            # the heartbeat batch starts at the cut: payload past the cut
            # was never exposed and is not read
            for part in parts:
                part.start_lsn = end["lsn"] - 1
        return parts

    # -- event log -----------------------------------------------------
    def _log(self, *records: dict) -> None:
        path = os.path.join(self.events_dir, f"events-{os.getpid()}.jsonl")
        with open(path, "a") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")

    def latestOffset(self) -> dict:
        off = super().latestOffset()
        if off != self._last_offset:
            self._last_offset = off
            self._log({"ev": "latest", "t": self.clock(), "lsn": off["lsn"]})
        return off

    def commit(self, end: dict) -> None:
        super().commit(end)
        self._log({"ev": "commit", "t": self.clock(), "lsn": end["lsn"]})


class TracedBenchReplayReader(BenchReplayReader):
    """Spans around each source method of every even micro-batch; the
    untraced reader has none.  Micro-batch k ends at the k-th distinct
    offset ``latestOffset`` returned, so the source-runner process maps
    an end offset to its batch and stamps it on the partition for the
    executor's ``read``."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._batch_of: dict[int, int] = {}  # end LSN → micro-batch id

    def _span(self, name: str, start: float, batch: int, **extra) -> dict:
        return {"ev": "span", "name": name, "start": start, "end": time.time(), "batch": batch, **extra}

    def latestOffset(self) -> dict:
        # polls that do not move the offset belong to the next batch
        batch, start = len(self._batch_of), time.time()
        off = super().latestOffset()
        self._batch_of.setdefault(off["lsn"], batch)
        if batch % 2 == 0:
            self._log(self._span("source.latestOffset", start, batch, lsn=off["lsn"]))
        return off

    def partitions(self, start: dict, end: dict):
        parts = super().partitions(start, end)
        for part in parts:
            part.batch = self._batch_of.get(end["lsn"])
        return parts

    def read(self, partition):
        import pyarrow.parquet as pq

        batch = getattr(partition, "batch", None)
        if batch is None or batch % 2:
            yield from super().read(partition)
            return
        start, served = time.time(), 0
        for row in super().read(partition):
            served += 1
            yield row
        scanned = pq.ParquetFile(partition.path).metadata.num_rows
        self._log(self._span(
            "source.read", start, batch, lsn=partition.end_lsn, scanned=scanned, served=served,
        ))

    def commit(self, end: dict) -> None:
        start = time.time()
        super().commit(end)
        batch = self._batch_of.get(end["lsn"])
        if batch is not None and batch % 2 == 0:
            self._log(self._span("source.commit", start, batch, lsn=end["lsn"]))


class BenchReplayDataSource(CdcReplayDataSource):
    """spark.readStream.format("cdc_bench_replay") with the replay
    options plus eventsdir, warmrows, t0path, rate, stopafter, cutpath
    and trace."""

    @classmethod
    def name(cls) -> str:
        return "cdc_bench_replay"

    def streamReader(self, schema) -> BenchReplayReader:
        traced = self.options.get("trace") == "1"
        return (TracedBenchReplayReader if traced else BenchReplayReader)(self.options)
