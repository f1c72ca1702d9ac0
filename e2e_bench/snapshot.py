"""``snapshot_rw``: merges beside pruned reads on one versioned store.

The store holds ``events`` partitioned by day (30 partitions). Each
cycle merges a seeded ~1% delta (updates skewed to recent days, inserts,
and deletes through the merge's delete clause), read from files written
before the run, then reads two seeded days at the latest version.
``compact`` and ``vacuum`` run every few merges. Every read is checked
against a DuckDB model of the table that applies the same deltas.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import median, rows_digest
from datagen import EVENT_DAYS, EVENT_TYPES, EVENTS_START

MAINTAIN_EVERY = 2  # compact + vacuum after every 2nd merge
MAX_CYCLES = 32
COLS = "event_id, ts, user_id, event_type, value, props, day"


def make_deltas(seed: int, events_path: str, out_dir: str) -> tuple[list[str], list[list[str]]]:
    """Delta files for MAX_CYCLES merges and the two days each cycle reads."""
    os.makedirs(out_dir, exist_ok=True)
    ev = pq.read_table(events_path, columns=["event_id", "ts", "user_id"]).to_pydict()
    rng = random.Random(f"{seed}:snapshot")
    nprng = np.random.default_rng([seed, 7])
    by_day: list[list[int]] = [[] for _ in range(EVENT_DAYS)]
    rows = {}
    for eid, ts, uid in zip(ev["event_id"], ev["ts"], ev["user_id"]):
        d = (ts - EVENTS_START).days
        by_day[d].append(eid)
        rows[eid] = (ts, uid)
    next_id = max(rows) + 1
    delta_rows = max(20, len(rows) // 100)  # ~1% of the table
    recent = [np.exp(d / 6.0) for d in range(EVENT_DAYS)]
    days = [(EVENTS_START + dt.timedelta(days=d)).strftime("%Y-%m-%d") for d in range(EVENT_DAYS)]
    paths, read_days = [], []
    for i in range(MAX_CYCLES):
        n_upd, n_ins, n_del = int(delta_rows * 0.7), int(delta_rows * 0.25), int(delta_rows * 0.05)
        chosen: set[int] = set()
        out = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props", "day")}

        def emit(eid, ts, uid, value):
            out["event_id"].append(eid)
            out["ts"].append(ts)
            out["user_id"].append(uid)
            out["event_type"].append(rng.choice(EVENT_TYPES))
            out["value"].append(value)
            out["props"].append('{"k": %d}' % rng.randrange(100))
            out["day"].append(days[(ts - EVENTS_START).days])

        for d in rng.choices(range(EVENT_DAYS), weights=recent, k=n_upd + n_del):
            pool = by_day[d]
            if not pool:
                continue
            eid = pool[rng.randrange(len(pool))]
            if eid in chosen:
                continue
            chosen.add(eid)
            ts, uid = rows[eid]
            deleting = len(chosen) <= n_del
            emit(eid, ts, uid, -1.0 if deleting else round(rng.uniform(0, 560), 2))
            if deleting:
                pool.remove(eid)
                del rows[eid]
        for d in rng.choices(range(EVENT_DAYS), weights=recent, k=n_ins):
            ts = EVENTS_START + dt.timedelta(days=d, microseconds=int(nprng.integers(0, 86_400_000_000)))
            uid = rng.randrange(1500)
            emit(next_id, ts, uid, round(rng.uniform(0, 560), 2))
            by_day[d].append(next_id)
            rows[next_id] = (ts, uid)
            next_id += 1
        table = pa.table({
            "event_id": pa.array(out["event_id"], pa.int64()),
            "ts": pa.array(out["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(out["user_id"], pa.int64()),
            "event_type": out["event_type"],
            "value": pa.array(out["value"], pa.float64()),
            "props": out["props"],
            "day": out["day"],
        })
        p = os.path.join(out_dir, f"delta-{i:04d}.parquet")
        pq.write_table(table, p)
        paths.append(p)
        read_days.append([rng.choice(days), rng.choice(days)])
    return paths, read_days


def run(ctx) -> dict:
    deltas, read_days = make_deltas(ctx.seed, os.path.join(ctx.data_dir, "events.parquet"),
                                    os.path.join(ctx.work, "deltas"))
    cfg = {"workload": "snapshot_rw", "seconds": ctx.seconds, "trace": ctx.trace,
           "work": ctx.work, "data_dir": ctx.data_dir, "deltas": deltas,
           "read_days": read_days, "maintain_every": MAINTAIN_EVERY}
    res, setup_s, sampler = ctx.run_child(cfg)
    ops = res["ops"]
    failed = [r for r in ops if "error" in r]
    wrong, plain_bytes = check_reads(ctx, deltas, res)
    for r in failed:
        ctx.log(f"{r['op']} {r['kind']} failed: {r['error'][:300]}")
    meas = [r for r in ops if r["op"].startswith("m-") and "error" not in r]
    writes = [r["ms"] for r in meas if r["kind"] == "merge"]
    reads = [r["ms"] for r in meas if r["kind"] == "read"]
    ops_per_s = len(meas) / (sum(r["ms"] for r in meas) / 1000)
    bpub = _du(res["store_root"]) / plain_bytes
    out = {
        "setup_s": setup_s,
        "attempted": len(ops),
        "failed": len(failed) + wrong,
        "failures": {"exception": len(failed), "wrong": wrong},
        # The caller-facing latency is the read served beside the merges;
        # merge cost shows in cpu_ms_per_op, which the merges dominate.
        "op_p50_ms": median(reads),
        "n_latency": len(reads),
        "cpu_ms_per_op": sampler.cpu_between(*res["window"]) * 1000 / len(meas),
        "n_ops": len(meas),
        "peak_rss_mb": sampler.peak / 2**20,
        "named": {
            "write_p50_ms": (median(writes), "ms", len(writes)),
            "read_p50_ms": (median(reads), "ms", len(reads)),
            "ops_per_s": (ops_per_s, "1/s", len(meas)),
            "bytes_per_user_byte": (bpub, "ratio", 1),
        },
        "notes": {"flush_policy": res["flush_policy"], "merges": res["merges"],
                  "maintain_every": MAINTAIN_EVERY},
    }
    if ctx.trace:
        out["layers"] = res["layers"]
    return out


def _model(ctx) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    src = os.path.join(ctx.data_dir, "events.parquet")
    con.execute(f"CREATE TABLE ev AS SELECT event_id, ts, user_id, event_type, value, "
                f"props, strftime(ts, '%Y-%m-%d') AS day FROM read_parquet('{src}')")
    return con


def _apply(con, path: str) -> None:
    d = f"(SELECT {COLS.replace('ts,', 'ts::TIMESTAMP AS ts,')} FROM read_parquet('{path}'))"
    con.execute(f"DELETE FROM ev WHERE event_id IN (SELECT event_id FROM {d})")
    con.execute(f"INSERT INTO ev SELECT * FROM {d} WHERE value >= 0")


def check_reads(ctx, deltas: list[str], res: dict) -> tuple[int, int]:
    """Replays the merged deltas on the model. Returns how many reads
    returned other rows than the model holds for that day, and the size
    of the final live rows written once as plain parquet."""
    con = _model(ctx)
    wrong, applied = 0, 0
    for cycle, day, n, digest in res["reads"]:
        while applied <= cycle:
            _apply(con, deltas[applied])
            applied += 1
        rows = con.execute(f"SELECT {COLS} FROM ev WHERE day = ?", [day]).fetchall()
        if len(rows) != n or rows_digest(rows) != digest:
            wrong += 1
            ctx.log(f"read of {day} after merge {cycle}: {n} rows, model has {len(rows)}")
    for p in deltas[applied: res["merges"]]:
        _apply(con, p)
    plain = os.path.join(ctx.work, "live.parquet")
    con.execute(f"COPY (SELECT {COLS} FROM ev) TO '{plain}' (FORMAT parquet)")
    con.close()
    return wrong, os.path.getsize(plain)


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)
