"""Streaming CDC benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backfill_td --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The run

1. generates the seeded corpus and pk catalog in a generator process
   (``gen.py``);
2. starts the system under test in a fresh JVM (``sut.py``): session,
   catalog snapshot, ``build_*_stream``, ``run_until`` into
   ``KinesisLikeWriter`` and a timed in-memory transport; a warm-up and
   ``--seconds`` after the first commit the source stops exposing
   payload (the cut), and the run ends once the cut is acked;
3. checks the published records and the acks against the generator's
   expectations and computes the metrics (``analyze.py``).

It prints one line per metric, with its unit and sample count, and as
its last line one JSON object: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (a run with spans on the source
methods and at the sink on every even micro-batch; the odd ones give
the tracing overhead).  The exit code is 1 when the correctness gate
fails, 2 when the run cannot start or finish or a metric has no sample.
All files live under ``.perfbench_work/`` in the checkout and are
removed at the end.

Pinned environment: ``SPARK_GRAFT_CPUS`` = usable cores (``--cpus`` to
override, e.g. 1 for the single-threaded baseline),
``SPARK_GRAFT_DRIVER_MEM`` = 2g with ``-Xms2g``, Spark's local, warehouse
and temp directories inside the work directory, and one fresh JVM per
run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
RUN_LIMIT_S = 170.0  # the whole run, generator and analysis included


def pinned_env(work: str, cpus: int, marker: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # a fixed heap size: a heap left to grow reached different sizes
        # in different runs, and latency followed the size.  Pages are
        # not touched up front: peak_rss_mb counts the heap pages a run
        # touched
        "SPARK_SUBMIT_OPTS": " ".join(filter(None, (
            env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", f"-Xms{DRIVER_MEM}",
        ))),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PERFBENCH_RUN": marker,
    })
    return env


def _marked_pids(marker: str) -> list[int]:
    needle = f"PERFBENCH_RUN={marker}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def stop_all(marker: str, wait_s: float = 15.0) -> None:
    """Stop every process started for this run (the JVM, its Python
    daemon, workers and source runner inherit the marker) and wait
    until each has ended."""
    deadline = time.time() + wait_s
    sig = signal.SIGTERM
    while True:
        pids = _marked_pids(marker)
        if not pids:
            return
        if time.time() > deadline - wait_s / 3:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            raise RuntimeError(f"processes still running after {wait_s}s: {pids}")
        time.sleep(0.2)


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of process ``root`` (``sut.py``,
    the Python process that starts Spark) and all its descendants (the
    Spark JVM, its Python daemon and workers, and the source runner),
    sampled from /proc every ``interval`` seconds.  It runs here, not in
    ``sut.py``, so the sampling takes no time from the measured process."""

    def __init__(self, root: int, interval: float = 0.25):
        super().__init__(daemon=True)
        self.root = root
        self.interval = interval
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [(self.root, None)]
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                todo.extend((c, exe) for c in children.get(pid, ()))
                # a JVM child that has not exec'd yet (Hadoop's shell
                # helpers) shares the JVM's pages: not counted twice
                if exe == parent_exe and os.path.basename(exe) == "java":
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self.sample())

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return max(self.peak_bytes, self.sample())


def _run(cmd: list[str], env: dict, log: str, timeout: float) -> int:
    """Run ``cmd`` to the end; return the peak resident memory of it and
    its descendants, in bytes."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        rss = RssSampler(proc.pid)
        rss.start()
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
        finally:
            peak = rss.stop()
    if code:
        raise subprocess.CalledProcessError(code, cmd)
    return peak


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat: time the
    hypervisor gave this machine's CPUs to others, and all time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def report(workload: str, args, cpus: int, expected: dict, result: dict) -> tuple[dict | None, int]:
    """Print the metric lines; return (final JSON object, exit code).
    No JSON object when a metric has no sample: the run measured
    nothing to compare."""
    from perfbench import analyze
    from perfbench.gen import WORKLOADS

    a = analyze.analyze_run(expected, result, workload)
    print(f"workload {workload} seed {args.seed} seconds {args.seconds} (after "
          f"{WORKLOADS[workload].warmup_s} s warm-up) cpus {cpus} driver_mem {DRIVER_MEM} "
          f"wire_msgs {a['attempted']} (up to the cut) trace {args.trace} "
          f"cpu_steal {result['steal_share']:.1%}")
    r = result
    if r["t_first_commit"]:
        print(f"  setup: session {r['t_session'] - r['t_start']:.3f} s, catalog "
              f"{r['t_catalog'] - r['t_session']:.3f} s, build {r['t_built'] - r['t_catalog']:.3f} s, "
              f"first batch {r['t_first_commit'] - r['t_built']:.3f} s")
    e2e = analyze.end_to_end(a)
    counts = {"publish": len(a["publish_ms"]), "ack": len(a["ack_ms"])}
    for name, (value, unit) in e2e.items():
        n = next((f" (n={c})" for k, c in counts.items() if name.startswith(k)), "")
        if n and name.endswith("p99_ms"):
            n = n[:-1] + f", median of {analyze.WINDOWS} window p99s)"
        print(f"{name} {_fmt(value)} {unit}{n}")
    print(f"failed_ratio {a['failed'] / a['attempted']:.6g} ratio "
          f"({a['failed']} of {a['attempted']} wire messages)")
    print("gate " + json.dumps({**a["gate"], "problems": a["problems"]}))
    metrics = e2e
    if args.trace:
        print("per-layer (traced run; end-to-end numbers above include tracing):")
        metrics = analyze.per_layer(expected, result, a, workload)
        for name, (value, unit) in metrics.items():
            print(f"{name} {_fmt(value)} {unit}")
    out = {
        "correct": a["correct"],
        "attempted": a["attempted"],
        "failed": a["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if not a["correct"]:
        return out, 1
    unmeasured = [k for k, (v, _) in metrics.items() if v is None]
    if unmeasured:
        print(f"could not measure {', '.join(unmeasured)}: no samples in the measured window",
              file=sys.stderr)
        return None, 2
    return out, 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Streaming CDC benchmark (one run).")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=None, help="default: usable cores")
    args = p.parse_args(argv)
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "pg2kinesis_spark")):
        print(f"no pg2kinesis_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.gen import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = args.cpus or len(os.sched_getaffinity(0))
    marker = uuid.uuid4().hex
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{marker[:8]}")
    corpus, run_dir = os.path.join(work, "corpus"), os.path.join(work, "run")
    os.makedirs(run_dir, exist_ok=True)
    env = pinned_env(work, cpus, marker)
    try:
        _run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds), "--out", corpus],
             env, os.path.join(work, "gen.log"), 60)
        left = RUN_LIMIT_S - (time.time() - started) - 15.0  # analysis + cleanup
        cmd = [sys.executable, os.path.join(HERE, "sut.py"), "--workload", args.workload,
               "--seconds", str(args.seconds), "--dir", run_dir, "--corpus-dir", corpus, "--timeout", f"{left - 25.0:.0f}"]
        steal0, total0 = _cpu_ticks()
        peak_rss = _run(cmd + (["--trace"] if args.trace else []), env, os.path.join(work, "sut.log"), left)
        steal1, total1 = _cpu_ticks()
        stop_all(marker)
        with open(os.path.join(corpus, "expected.json")) as f:
            expected = json.load(f)
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        result["dir"] = run_dir
        result["peak_rss_bytes"] = peak_rss
        result["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        out, code = report(args.workload, args, cpus, expected, result)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        log = os.path.join(work, "sut.log" if "sut.py" in str(e.cmd) else "gen.log")
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"run failed: {e}", file=sys.stderr)
        return 2
    finally:
        stop_all(marker)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # unless another run is using it
        except OSError:
            pass
    if out is not None:
        print(json.dumps(out))
    return code


if __name__ == "__main__":
    raise SystemExit(main())
