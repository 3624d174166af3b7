"""Seeded corpus generator for the streaming CDC benchmark.

Runs as its own process, before the system under test starts:

    python3 perfbench/gen.py --workload backfill_td --seed 7 --seconds 18 --out DIR

and writes into DIR:

- ``corpus.parquet``  (lsn long, data_size int, payload string) — the
  replay wire corpus, the same shape a live slot would hand the source;
- ``catalog.parquet`` (table_name, col_name, col_type, col_ord_pos) —
  the primary-key catalog snapshot (information_schema PK_SQL rows);
- ``expected.json``   what the correctness gate compares against: the
  wire LSNs, the published sequence (xid, table, operation, pkey) in LSN
  order with frames and operation-filtered rows left out, and the
  filtered changes' LSNs and the message sizes, from which the gate
  derives the sink counters the reference keeps.

The system under test receives only the two parquet files.  The last
corpus row is a heartbeat (a frame that publishes nothing): Spark acks
micro-batch k while it plans k+1, so the last payload batch is acked
only once one more WAL record exists, as on a live slot.

The corpus holds more payload than a run can use.  The run's length is
set by time, not by the corpus: the warm-up plus ``seconds`` after the first
micro-batch committed, the source stops exposing payload (the *cut*)
and serves the heartbeat.  The gate then checks the payload up to the
cut, so the measured window does not shrink when the program gets
faster.
"""

from __future__ import annotations

import argparse
import json
import os
import random
from dataclasses import dataclass

# Lowercase operation set selected by the CLI default ``--operations all``.
ALL_OPERATIONS = ("insert", "update", "delete", "truncate")

@dataclass(frozen=True)
class Workload:
    plugin: str  # "test_decoding" | "wal2json"
    rows_per_batch: int
    # seconds after the first committed batch that are not measured: the
    # JIT and the Python workers speed up over this time.  Per-row code
    # is hot after the first 20k-row batch that follows the cold one
    # (about 2.5 s); the per-batch path of small triggers speeds up
    # most over the first 10-15 s
    warmup_s: int
    n_tables: int
    # open loop: the offered rate, wire messages per second.  Closed
    # loop: the backlog, in wire messages per second of warm-up and
    # measurement; about twice what the pipeline drains on a 4-core
    # machine, so a faster program still finds a backlog until the cut.
    # Not more: the replay source rereads the whole corpus on every
    # micro-batch, so a larger backlog makes every batch slower
    msgs_per_second: int
    open_loop: bool


WORKLOADS = {
    "backfill_td": Workload("test_decoding", 20_000, 3, 300, 16_000, open_loop=False),
    "backfill_w2j": Workload("wal2json", 20_000, 3, 50, 16_000, open_loop=False),
    "tail_w2j": Workload("wal2json", 1_000, 12, 20, 300, open_loop=True),
}

# (pk column, type, test_decoding value renderer) — several shapes so
# the per-table pk regex really changes from row to row.
_PK_SHAPES = (
    ("id", "integer", lambda k, r: str(1_000_000 + k)),
    ("order_id", "bigint", lambda k, r: str(9_000_000_000 + k)),
    ("uuid", "uuid", lambda k, r: "%08x-%04x-4%03x-8%03x-%012x" % (
        r.getrandbits(32), r.getrandbits(16), r.getrandbits(12), r.getrandbits(12), k)),
    ("code", "character varying", lambda k, r: "c%d_%s" % (k, "".join(
        r.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(4)))),
)


def _tables(rng: random.Random, n: int) -> list[dict]:
    tables = []
    for i in range(n):
        schema = "public" if i % 5 else "audit"
        pk_col, pk_type, render = _PK_SHAPES[rng.randrange(len(_PK_SHAPES))]
        # a few composite keys: the catalog's last-ordinal-wins collapse
        # picks the second column, which is the one the rows carry
        composite = rng.random() < 0.1
        tables.append({
            "name": f"{schema}.t{i:04d}_{rng.choice(('orders', 'users', 'events', 'items'))}",
            "pk_col": pk_col,
            "pk_type": pk_type,
            "render": render,
            "lead_col": ("tenant", "integer") if composite else None,
        })
    return tables


def _catalog_rows(tables: list[dict]) -> list[tuple]:
    rows = []
    for t in tables:
        pos = 1
        if t["lead_col"]:
            rows.append((t["name"], t["lead_col"][0], t["lead_col"][1], pos))
            pos += 1
        rows.append((t["name"], t["pk_col"], t["pk_type"], pos))
    return rows


def _td_value(col_type: str, value: str) -> str:
    quoted = col_type not in ("integer", "bigint")
    return f"'{value}'" if quoted else value


def _test_decoding(rng: random.Random, tables: list[dict], n_wire: int):
    """Wire lines in the reference's test_decoding grammar: BEGIN <xid>,
    1-4 DML lines, COMMIT.  Operations are uppercase as the plugin emits
    them, so ``--operations all`` (lowercase set, case-sensitive compare)
    nulls every message: the sink only counts."""
    lines, changes = [], []
    xid, k = 5_000 + rng.randrange(1_000), 0
    while len(lines) + 2 < n_wire:
        xid += 1 + rng.randrange(3)
        lines.append(f"BEGIN {xid}")
        for _ in range(min(1 + rng.randrange(4), n_wire - len(lines) - 1)):
            t = tables[rng.randrange(len(tables))]
            op = rng.choice(("INSERT", "UPDATE", "DELETE"))
            pkey = t["render"](k, rng)
            k += 1
            cols = []
            if t["lead_col"]:
                cols.append(f"{t['lead_col'][0]}[{t['lead_col'][1]}]:{rng.randrange(50)}")
            cols.append(f"{t['pk_col']}[{t['pk_type']}]:{_td_value(t['pk_type'], pkey)}")
            if op != "DELETE":
                cols.append(f"note[text]:'{rng.choice(('new', 'paid', 'shipped'))} {k}'")
                cols.append(f"amount[numeric]:{rng.randrange(10_000) / 100}")
            changes.append((len(lines), str(xid), t["name"], op, pkey))
            lines.append(f"table {t['name']}: {op}: " + " ".join(cols))
        lines.append("COMMIT")
    return lines, changes, f"BEGIN {xid + 1}"


def _wal2json(rng: random.Random, tables: list[dict], n_wire: int):
    """wal2json messages with 0-3 changes each.  Only insert/update: the
    reference reads the pk from ``columnvalues``, which wal2json deletes
    do not carry (they ship ``oldkeys``)."""
    msgs, changes = [], []
    xid, k = 7_000 + rng.randrange(1_000), 0
    for _ in range(n_wire):
        xid += 1 + rng.randrange(3)
        change = []
        for _ in range(rng.randrange(4)):
            t = tables[rng.randrange(len(tables))]
            schema, table = t["name"].split(".", 1)
            kind = rng.choice(("insert", "update"))
            pkey = t["render"](k, rng)
            k += 1
            names, types, values = [], [], []
            if t["lead_col"]:
                names.append(t["lead_col"][0])
                types.append(t["lead_col"][1])
                values.append(rng.randrange(50))
            names += [t["pk_col"], "note", "amount"]
            types += [t["pk_type"], "text", "numeric"]
            values += [
                int(pkey) if t["pk_type"] in ("integer", "bigint") else pkey,
                f"{rng.choice(('new', 'paid', 'shipped'))} {k}",
                rng.randrange(10_000) / 100,
            ]
            change.append({
                "kind": kind, "schema": schema, "table": table,
                "columnnames": names, "columntypes": types, "columnvalues": values,
            })
            changes.append((len(msgs), str(xid), t["name"], kind, pkey))
        msgs.append(json.dumps({"xid": xid, "change": change}))
    return msgs, changes, json.dumps({"xid": xid + 1, "change": []})


# Open loop: scheduled seconds past the cut, so the schedule never runs
# dry before it.
SCHEDULE_SLACK_S = 5


def n_wire_messages(workload: Workload, seconds: int) -> int:
    """Payload wire messages: the cold first batch, then the backlog or
    schedule for the warm-up and the measured part."""
    span = workload.warmup_s + seconds + (SCHEDULE_SLACK_S if workload.open_loop else 0)
    return workload.rows_per_batch + workload.msgs_per_second * span


def generate(name: str, seed: int, seconds: int) -> dict:
    """Everything the benchmark derives from (workload, seed, seconds)."""
    w = WORKLOADS[name]
    rng = random.Random(f"{name}:{seed}")
    tables = _tables(rng, w.n_tables)
    n_wire = n_wire_messages(w, seconds)
    gen = _test_decoding if w.plugin == "test_decoding" else _wal2json
    payloads, changes, heartbeat = gen(rng, tables, n_wire)
    payloads.append(heartbeat)
    lsns, lsn = [], 0x16B3_7480
    for _ in payloads:
        lsn += 24 + rng.randrange(200)
        lsns.append(lsn)
    sizes = [len(p.encode()) for p in payloads]
    published = [
        (lsns[i], xid, table, op, pkey)
        for i, xid, table, op, pkey in changes
        if op in ALL_OPERATIONS
    ]
    filtered = [lsns[i] for i, _, _, op, _ in changes if op not in ALL_OPERATIONS]
    return {
        "workload": name,
        "seed": seed,
        "plugin": w.plugin,
        "lsns": lsns,
        "sizes": sizes,
        "payloads": payloads,
        "catalog": _catalog_rows(tables),
        "n_tables": len(tables),
        "published": published,
        "filtered_lsns": filtered,
    }


def write(corpus: dict, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "lsn": pa.array(corpus["lsns"], pa.int64()),
            "data_size": pa.array(corpus["sizes"], pa.int32()),
            "payload": pa.array(corpus["payloads"], pa.string()),
        }),
        os.path.join(out_dir, "corpus.parquet"),
    )
    cat = list(zip(*corpus["catalog"]))
    pq.write_table(
        pa.table({
            "table_name": pa.array(cat[0], pa.string()),
            "col_name": pa.array(cat[1], pa.string()),
            "col_type": pa.array(cat[2], pa.string()),
            "col_ord_pos": pa.array(cat[3], pa.int32()),
        }),
        os.path.join(out_dir, "catalog.parquet"),
    )
    expected = {k: v for k, v in corpus.items() if k not in ("payloads", "catalog")}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    write(generate(args.workload, args.seed, args.seconds), args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
