"""One run of the system under test, in a fresh JVM.

    python3 perfbench/sut.py --workload W --seconds S --dir RUN_DIR \
        --corpus-dir DIR [--trace] [--timeout S]

Starts the session, snapshots the pk catalog, builds the pipeline with
``streaming.pipeline.build_*_stream`` over the benchmark replay source,
and drives it with ``run_until`` into ``KinesisLikeWriter`` and a timed
in-memory transport until the source's cut (the workload's warm-up
plus S seconds after the first commit) is acked; then stops the
session.  With ``--trace`` every even micro-batch is traced at the
source methods and at the sink; odd ones run untraced, so the two
halves of one run give the tracing overhead.
What was measured goes to RUN_DIR (``result.json``, ``records.arrow``)
for ``analyze.py``; nothing is computed here that the timed path does
not need.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.analyze import read_acks  # noqa: E402
from perfbench.gen import WORKLOADS  # noqa: E402


class Spans:
    """Driver-side spans, kept in memory and written out at the end.
    ``batch`` is the micro-batch being traced, None between them."""

    def __init__(self):
        self.records: list[dict] = []
        self.batch: int | None = None

    def add(self, name: str, start: float, end: float, batch_id=None, parent=None, **extra):
        self.records.append({
            "name": name, "start": start, "end": end, "batch": batch_id,
            "parent": parent, **extra,
        })


def _make_transport(spans: Spans | None):
    from pg2kinesis_spark.sinks.kinesis import InMemoryTransport

    class TimedTransport(InMemoryTransport):
        """Records the completion time of every successful put_record."""

        def __init__(self):
            super().__init__()
            self.put_times: list[float] = []
            self.put_busy = 0.0

        def put_record(self, data: bytes, partition_key: str) -> None:
            start = time.time()
            super().put_record(data, partition_key)
            end = time.time()
            self.put_times.append(end)
            if spans is not None and spans.batch is not None:
                self.put_busy += end - start
                spans.add("sink.put_record", start, end, spans.batch, "sink.process_batch")

    return TimedTransport()


class BatchClock:
    """foreachBatch target: the real writer, plus each batch's sink start
    and end time.  With spans, an even batch first materialises the
    upstream plan (cache + one aggregate) and times that apart from
    ``process_batch``; odd batches run as without spans."""

    def __init__(self, writer, spans: Spans | None):
        self.writer = writer
        self.spans = spans
        self.batches: dict[int, dict] = {}

    def process_batch(self, batch_df, batch_id: int) -> None:
        start = time.time()
        if self.spans is None or batch_id % 2:
            self.writer.process_batch(batch_df, batch_id)
            self.batches[batch_id] = {"start": start, "end": time.time(), "traced": False}
            return
        from pyspark.sql import functions as F

        batch_df.persist()
        self.spans.batch = batch_id
        try:
            rows, with_msg = batch_df.agg(F.count(F.lit(1)), F.count("fmt_msg")).first()
            mid = time.time()
            self.writer.process_batch(batch_df, batch_id)
            end = time.time()
        finally:
            self.spans.batch = None
            batch_df.unpersist()
        self.spans.add("operators.materialise", start, mid, batch_id, "batch", rows=rows, with_msg=with_msg)
        self.spans.add("sink.process_batch", mid, end, batch_id, "batch")
        self.spans.add("batch", start, time.time(), batch_id)
        self.batches[batch_id] = {"start": start, "end": end, "traced": True}


def _listener_class():
    from pg2kinesis_spark.streaming.metrics import ProgressListener

    class BenchListener(ProgressListener):
        """Keeps every StreamingQueryProgress as JSON plus its arrival
        time; the first one marks the first committed micro-batch."""

        def __init__(self, on_first):
            super().__init__()
            self.progress: list[dict] = []
            self.first_commit: float | None = None
            self._on_first = on_first

        def onQueryProgress(self, event) -> None:
            now = time.time()
            super().onQueryProgress(event)
            rec = json.loads(event.progress.json)
            rec["received"] = now
            self.progress.append(rec)
            if self.first_commit is None:
                self.first_commit = now
                self._on_first(now)

    return BenchListener


def _jvm_old_gen_peak_bytes(spark) -> int:
    """Peak use of the heap's old generation: what the JVM kept across
    collections.  The young pools fill to whatever size the collector
    gave them, so their peaks track the heap size, not the program."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP" and "Old Gen" in pool.getName()
    )


def run(args) -> dict:
    """get_spark → catalog → build → run; the session is stopped at the end."""
    run_dir, traced = args.dir, args.trace
    w = WORKLOADS[args.workload]
    events_dir = os.path.join(run_dir, "events")
    os.makedirs(events_dir, exist_ok=True)
    t0_path = os.path.join(run_dir, "t0")
    cut_path = os.path.join(run_dir, "cut")
    ack_log = os.path.join(run_dir, "acks.jsonl")
    spans = Spans() if traced else None

    t_start = time.time()
    from pg2kinesis_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.time()

    from pg2kinesis_spark.catalog import primary_key_map

    pk_map = primary_key_map(spark.read.parquet(os.path.join(args.corpus_dir, "catalog.parquet")))
    t_catalog = time.time()

    from pg2kinesis_spark.sinks.kinesis import KinesisLikeWriter
    from pg2kinesis_spark.streaming import pipeline
    from perfbench.source import BenchReplayDataSource

    spark.dataSource.register(BenchReplayDataSource)
    raw = (
        spark.readStream.format("cdc_bench_replay")
        .option("path", os.path.join(args.corpus_dir, "corpus.parquet"))
        .option("rowsperbatch", str(w.rows_per_batch))
        .option("acklog", ack_log)
        .option("eventsdir", events_dir)
        .option("warmrows", str(w.rows_per_batch))
        .option("t0path", t0_path)
        .option("rate", str(w.msgs_per_second if w.open_loop else 0))
        .option("stopafter", str(w.warmup_s + args.seconds))
        .option("cutpath", cut_path)
        .option("trace", "1" if traced else "0")
        .load()
    )
    build = (
        pipeline.build_test_decoding_stream
        if w.plugin == "test_decoding"
        else pipeline.build_wal2json_stream
    )
    # the CLI defaults: --message-formatter CSVPayload, --operations all
    stream = build(spark, raw, pk_map, formatter="CSVPayload", operations=("all",))
    t_built = time.time()

    def start_schedule(now: float) -> None:
        tmp = t0_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(repr(now))
        os.replace(tmp, t0_path)

    listener = _listener_class()(start_schedule)
    spark.streams.addListener(listener)
    transport = _make_transport(spans)
    writer = KinesisLikeWriter(transport)
    sink = BatchClock(writer, spans)

    def done() -> bool:
        if not os.path.exists(cut_path):
            return False
        with open(cut_path) as f:
            cut = int(f.read())
        return max(read_acks(ack_log), default=cut - 1) >= cut

    error = None
    try:
        pipeline.run_until(
            stream, sink, os.path.join(run_dir, "checkpoint"), done, timeout=args.timeout
        )
    except Exception as e:  # noqa: BLE001 — a failed query fails the gate
        error = f"{type(e).__name__}: {e}"
    t_end = time.time()
    cut = None
    if os.path.exists(cut_path):
        with open(cut_path) as f:
            cut = int(f.read())
    # the listener bus may still hold the last progress events
    time.sleep(0.3)
    spark.streams.removeListener(listener)

    import pyarrow as pa
    import pyarrow.feather as feather

    feather.write_feather(
        pa.table({
            "t": pa.array(transport.put_times, pa.float64()),
            "data": pa.array([d for _, d in transport.records], pa.binary()),
        }),
        os.path.join(run_dir, "records.arrow"),
    )
    result = {
        "traced": traced,
        "jvm_old_gen_peak_bytes": _jvm_old_gen_peak_bytes(spark),
        "cut_lsn": cut,
        "t_start": t_start,
        "t_session": t_session,
        "t_catalog": t_catalog,
        "t_built": t_built,
        "t_first_commit": listener.first_commit,
        "t_end": t_end,
        "error": error,
        "progress": listener.progress,
        "batches": {str(k): v for k, v in sink.batches.items()},
        "writer": {
            "put_message_calls": writer.put_message_calls,
            "physical_puts": writer.physical_puts,
            "cum_msg_count": writer.cum_msg_count,
            "cum_msg_size": writer.cum_msg_size,
            "transport_attempts": transport.attempts,
            "put_busy_s": transport.put_busy,
        },
        "spans": spans.records if spans is not None else [],
    }
    spark.stop()
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seconds", type=int, required=True, help="measured seconds after the warm-up")
    p.add_argument("--dir", required=True)
    p.add_argument("--corpus-dir", required=True)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--timeout", type=float, default=120.0, help="seconds the query may run")
    args = p.parse_args(argv)
    result = run(args)
    result.update(workload=args.workload, cpus=os.environ.get("SPARK_GRAFT_CPUS"))
    with open(os.path.join(args.dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
