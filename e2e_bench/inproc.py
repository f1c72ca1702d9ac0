"""The program's library, driven in-process by one closed-loop client.

    python inproc.py CONFIG_JSON RESULT_JSON

Runs ``snapshot_rw`` or ``corpus_batch`` as CONFIG_JSON describes: set
up (session, inputs, one warm-up pass of every op), then ops back to
back until the run time is up. Writes per-op timings, what is needed to
check every answer, and, when traced, the per-layer metrics to
RESULT_JSON.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import rows_digest  # noqa: E402
from spans import Tracer, cached_bytes  # noqa: E402

EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props", "day")
CORPUS_STEPS = ("pipeline_training_corpus", "dedup_minhash_lsh", "text_unigram_tokenize")


class Loop:
    """Runs ops, timing each; with a tracer, each op is also a traced op."""

    def __init__(self, tracer: Tracer | None):
        self.tracer = tracer
        self.ops: list[dict] = []
        self.n = 0

    def run(self, phase: str, kind: str, fn, *args) -> tuple[dict, object]:
        rec = {"op": f"{phase}-{self.n}", "kind": kind}
        self.n += 1
        value = None
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                value = fn(*args)
            else:
                with self.tracer.op(rec["op"], kind):
                    value = fn(*args)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        rec["ms"] = (time.perf_counter() - t0) * 1000
        self.ops.append(rec)
        return rec, value


# ------------------------------------------------------------ snapshot_rw
def snapshot_rw(cfg: dict, spark, loop: Loop, result: dict) -> None:
    from pyspark.sql import functions as F

    from karna_spark.catalog import read_fixture_table
    from karna_spark.io.snapshots import SnapshotStore

    root = os.path.join(cfg["work"], "store")
    events = read_fixture_table(spark, cfg["data_dir"], "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd"))
    store = SnapshotStore(root, "day")
    store.commit(events)
    deltas, reads = cfg["deltas"], cfg["read_days"]
    every = cfg["maintain_every"]
    result.update(store_root=root, reads=[], merges=0, flush_policy=(
        f"SnapshotStore default (distribution={store.distribution!r})"))
    tracer = loop.tracer
    extra = {"snapshots.files_written": 0, "snapshots.bytes_written": 0,
             "user_bytes": 0, "files_per_read": []}

    def merge(path):
        src = spark.read.parquet(path)
        return store.merge(spark, src, ["event_id"], matched_delete_cond="s.value < 0",
                           not_matched_insert_cond="s.value >= 0")

    def read(day):
        df = store.read(spark, partition_values=[day])
        rows = df.collect()
        if tracer is not None:
            extra["last_read_files"] = len(df.inputFiles())
        return [tuple(r.asDict()[c] for c in EVENT_COLS) for r in rows]

    def op(phase, kind, fn, *args):
        watch = tracer is not None and phase == "m" and kind in ("merge", "compact")
        before = _tree_files(root) if watch else None
        rec, value = loop.run(phase, kind, fn, *args)
        if watch:
            new = {p: n for p, n in _tree_files(root).items() if p not in before}
            extra["snapshots.files_written"] += len(new)
            extra["snapshots.bytes_written"] += sum(new.values())
        if tracer is not None:
            tracer.ops[rec["op"]]["spark.cached_bytes_after_op"] = float(
                cached_bytes(spark.sparkContext))
        return rec, value

    def cycle(phase, i):
        rec, _ = op(phase, "merge", merge, deltas[i])
        if "error" not in rec:
            result["merges"] = i + 1
            if phase == "m":
                extra["user_bytes"] += os.path.getsize(deltas[i])
        for day in reads[i]:
            rec, rows = op(phase, "read", read, day)
            if rows is not None:
                result["reads"].append((i, day, len(rows), rows_digest(rows)))
                if phase == "m" and tracer is not None:
                    extra["files_per_read"].append(extra.pop("last_read_files"))

    def maintain(phase):
        op(phase, "compact", store.compact, spark)
        op(phase, "vacuum", store.vacuum, 1, 0.0)

    cycle("w", 0)
    maintain("w")
    ready(result)
    # Whole maintenance periods (``every`` cycles, then compact + vacuum),
    # so each run measures the same mix of ops and ends right after a
    # vacuum.
    start_wall = time.time()
    t_end = time.perf_counter() + cfg["seconds"]
    i = 1
    while time.perf_counter() < t_end and i + every <= len(deltas):
        for _ in range(every):
            cycle("m", i)
            i += 1
        maintain("m")
    result["window"] = (start_wall, time.time())
    if tracer is not None:
        extra["snapshots.live_files"] = len(store.read(spark).inputFiles())
        fpr = extra.pop("files_per_read")
        extra["snapshots.files_per_read"] = sorted(fpr)[len(fpr) // 2] if fpr else 0
        extra["snapshots.write_amp"] = (
            extra["snapshots.bytes_written"] / extra["user_bytes"] if extra["user_bytes"] else 0)
        result["layer_extra"] = extra


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


# ------------------------------------------------------------ corpus_batch
def corpus_batch(cfg: dict, spark, loop: Loop, result: dict) -> None:
    from karna_spark.operators.bpe import learn_bpe, word_frequencies
    from karna_spark.queries import REGISTRY
    from karna_spark.queries.registry import table

    corpus = cfg["corpus_dir"]
    merges = cfg["bpe_merges"]

    def noop(name):
        REGISTRY[name].builder(spark, corpus).write.format("noop").mode("overwrite").save()

    def collect(name):
        df = REGISTRY[name].builder(spark, corpus)
        return df.columns, [tuple(r) for r in df.collect()]

    def bpe():
        return learn_bpe(word_frequencies(table(spark, corpus, "documents")),
                         num_merges=merges)

    # Warm-up pass: collected, so the builders' answers can be checked.
    result["builder_rows"] = {}
    for name in CORPUS_STEPS:
        rec, value = loop.run("w", name, collect, name)
        result["builder_rows"][name] = value
    rec, value = loop.run("w", "learn_bpe", bpe)
    result["bpe"] = [value]
    ready(result)

    def one_pass(phase):
        t0 = time.perf_counter()
        for name in CORPUS_STEPS:
            loop.run(phase, name, noop, name)
        rec, value = loop.run(phase, "learn_bpe", bpe)
        result["bpe"].append(value)
        return (time.perf_counter() - t0) * 1000

    # One untimed pass first: the pass after the cold one still runs
    # partly interpreted JVM code. Then whole passes, each started only
    # while it can end inside the run time (at least one).
    last = one_pass("s")
    result["passes"] = []
    start_wall, t0 = time.time(), time.perf_counter()
    while not result["passes"] or (time.perf_counter() - t0) * 1000 + last <= cfg["seconds"] * 1000:
        last = one_pass("m")
        result["passes"].append(last)
    result["window"] = (start_wall, time.time())
    result["layer_extra"] = {"bpe_merges": len(result["bpe"][-1] or [])}


# ------------------------------------------------------------ main
def ready(result: dict) -> None:
    result["ready_wall"] = time.time()


def main() -> None:
    cfg_path, out_path = sys.argv[1], sys.argv[2]
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = None
    if cfg["trace"]:
        from layers import instrument

        tracer = Tracer()
        instrument(tracer)
    from karna_spark.session import get_spark

    loop = Loop(tracer)
    result: dict = {}
    spark = get_spark(app_name="e2e-bench")
    workload = {"snapshot_rw": snapshot_rw, "corpus_batch": corpus_batch}[cfg["workload"]]
    workload(cfg, spark, loop, result)
    result["ops"] = loop.ops
    if tracer is not None:
        from layers import inproc_layers

        measured = [r for r in loop.ops if r["op"].startswith("m-")]
        warm = sum(r["ms"] for r in loop.ops if r["op"].startswith("w-"))
        result["layers"] = inproc_layers(tracer.dump(), measured, warm,
                                         result.get("layer_extra", {}))
    with open(out_path, "wb") as f:
        pickle.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
