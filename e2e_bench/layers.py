"""Per-layer metrics of the traced run.

``instrument`` wraps the program's layer entry points in spans (from the
benchmark's side only). The ``*_layers`` functions turn the recorded
spans and per-op Spark statistics into the per-layer metrics, one value
each: a median over the measured ops, or a total for counts. A layer a
workload does not exercise reports 0. LAYERS.md says which end-to-end
metric each of them should move, and on which workload.
"""

from __future__ import annotations

from common import median, read_json
from spans import self_times

PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.start_ms", "ms", "lower"),
    ("catalog.register_ms", "ms", "lower"),
    ("warmup_ms", "ms", "lower"),
    ("frontends.sql.translate_ms", "ms", "lower"),
    ("frontends.graphql.translate_ms", "ms", "lower"),
    ("frontends.nl.translate_ms", "ms", "lower"),
    ("frontends.calls", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("driver.gap_ms", "ms", "lower"),
    ("driver.jobs_per_op", "count", "lower"),
    ("operators.bpe.learn_ms", "ms", "lower"),
    ("operators.bpe.s_per_merge", "s", "lower"),
    ("operators.bpe.jobs_per_merge", "count", "lower"),
    ("operators.dedup.minhash_ms", "ms", "lower"),
    ("operators.unigram.tokenize_ms", "ms", "lower"),
    ("operators.pipeline.training_corpus_ms", "ms", "lower"),
    ("snapshots.merge_ms", "ms", "lower"),
    ("snapshots.read_ms", "ms", "lower"),
    ("snapshots.compact_ms", "ms", "lower"),
    ("snapshots.vacuum_ms", "ms", "lower"),
    ("snapshots.files_written", "count", "lower"),
    ("snapshots.bytes_written", "bytes", "lower"),
    ("snapshots.write_amp", "ratio", "lower"),
    ("snapshots.live_files", "count", "lower"),
    ("snapshots.files_per_read", "count", "lower"),
    ("server.page_ms", "ms", "lower"),
    ("spark.collect_ms", "ms", "lower"),
    ("server.encode_ms", "ms", "lower"),
    ("server.response_bytes", "bytes", "lower"),
    ("server.rows_out", "count", "higher"),
    ("http.overhead_ms", "ms", "lower"),
    ("spark.cached_bytes_after_op", "bytes", "lower"),
    ("spark.cached_bytes_growth", "bytes", "lower"),
    ("jvm.heap_used_mb", "MB", "lower"),
    ("traced.op_p50_ms", "ms", "lower"),
)
UNITS = {name: unit for name, unit, _ in PER_LAYER}

# Span names of the wrapped entry points.
FRONTENDS = {
    "frontends.sql.translate": ("karna_spark.frontends.sql", "execute"),
    "frontends.graphql.translate": ("karna_spark.frontends.graphql", "translate"),
    "frontends.nl.translate": ("karna_spark.frontends.nl", "ask"),
}
SNAPSHOT_VERBS = ("merge", "read", "compact", "vacuum")
SPARK_MEDIANS = (
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
    "driver.gap_ms", "spark.cached_bytes_after_op", "jvm.heap_used_mb",
)


def instrument(tracer) -> None:
    """Wrap every layer entry point the three workloads call."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame

    import karna_spark.catalog as catalog
    import karna_spark.operators.bpe as bpe
    import karna_spark.server as server
    import karna_spark.session as session
    from karna_spark.io.snapshots import SnapshotStore

    def on_session(spark):
        tracer.sc = spark.sparkContext

    tracer.wrap(session, "get_spark", "session.start", on_result=on_session)
    tracer.wrap(catalog, "load_fixture_tables", "catalog.register")
    for span_name, (mod, attr) in FRONTENDS.items():
        tracer.wrap(importlib.import_module(mod), attr, span_name,
                    on_result=tracer.catalyst)
    tracer.wrap(server, "_page_payload", "server.page")
    for verb in SNAPSHOT_VERBS:
        tracer.wrap(SnapshotStore, verb, "snapshots." + verb)
    tracer.wrap(bpe, "learn_bpe", "operators.bpe.learn")

    collect = DataFrame.collect

    def spanned_collect(self):
        with tracer.span("spark.collect"):
            rows = collect(self)
        tracer.catalyst(self)
        return rows

    DataFrame.collect = spanned_collect


# ------------------------------------------------------------ metrics
def _empty() -> dict[str, float]:
    return {name: 0.0 for name, _, _ in PER_LAYER}


def _common(out: dict, dump: dict, op_ids: set[str]) -> list[tuple]:
    """Fill the metrics every workload has; returns the spans' self times."""
    st = self_times(dump["spans"])
    for name, op, dur, _ in st:
        if op is None and name in ("session.start", "catalog.register"):
            out[name + "_ms"] = dur
    ops = [dump["ops"][o] for o in op_ids if o in dump["ops"]]
    for k in SPARK_MEDIANS:
        out[k] = median([rec.get(k, 0.0) for rec in ops])
    for k in ("spark.jobs", "spark.stages", "spark.tasks"):
        out[k] = float(sum(rec.get(k, 0.0) for rec in ops))
    for ph in ("analysis", "optimization", "planning"):
        out["catalyst." + ph + "_ms"] = median(
            [rec.get("catalyst." + ph, 0.0) for rec in ops])
    out["driver.jobs_per_op"] = median([rec.get("spark.jobs", 0.0) for rec in ops])
    cached = [rec["spark.cached_bytes_after_op"] for rec in
              sorted(ops, key=lambda r: r["t0_ms"]) if "spark.cached_bytes_after_op" in rec]
    if cached:
        out["spark.cached_bytes_growth"] = float(cached[-1] - cached[0])
    return st


def serve_layers(spans_path: str, measured: list[dict], warmup_ms: float) -> dict:
    dump = read_json(spans_path)
    out = _empty()
    out["warmup_ms"] = warmup_ms
    op_ids = {r["op"] for r in measured}
    st = _common(out, dump, op_ids)
    mine = [s for s in st if s[1] in op_ids]
    for span_name in FRONTENDS:
        out[span_name + "_ms"] = median([s[3] for s in mine if s[0] == span_name])
    out["frontends.calls"] = float(sum(1 for s in mine if s[0] in FRONTENDS))
    out["server.page_ms"] = median([s[2] for s in mine if s[0] == "server.page"])
    out["server.encode_ms"] = median([s[3] for s in mine if s[0] == "server.page"])
    out["spark.collect_ms"] = median([s[2] for s in mine if s[0] == "spark.collect"])
    handler_ms = {s[1]: s[2] for s in mine if s[0] == "op.request"}
    out["http.overhead_ms"] = median(
        [r["ms"] - handler_ms[r["op"]] for r in measured if r["op"] in handler_ms])
    ok = [r for r in measured if r["status"] == 200]
    out["server.response_bytes"] = median([r["bytes"] for r in ok])
    out["server.rows_out"] = float(sum(r["reply"]["row_count"] for r in ok))
    return out


def inproc_layers(dump: dict, measured: list[dict], warmup_ms: float,
                  extra: dict) -> dict:
    """Layers of snapshot_rw and corpus_batch; ``extra`` carries what the
    op loop measured itself (files written, live files, merges learned)."""
    out = _empty()
    out["warmup_ms"] = warmup_ms
    op_ids = {r["op"] for r in measured}
    st = _common(out, dump, op_ids)
    mine = [s for s in st if s[1] in op_ids]
    for verb in SNAPSHOT_VERBS:
        out[f"snapshots.{verb}_ms"] = median(
            [s[2] for s in mine if s[0] == "snapshots." + verb])
    by_kind: dict[str, list[float]] = {}
    for r in measured:
        by_kind.setdefault(r["kind"], []).append(r["ms"])
    for kind, name in (("pipeline_training_corpus", "operators.pipeline.training_corpus_ms"),
                       ("dedup_minhash_lsh", "operators.dedup.minhash_ms"),
                       ("text_unigram_tokenize", "operators.unigram.tokenize_ms")):
        out[name] = median(by_kind.get(kind, []))
    learn = [s[2] for s in mine if s[0] == "operators.bpe.learn"]
    out["operators.bpe.learn_ms"] = median(learn)
    merges = extra.get("bpe_merges", 0)
    if learn and merges:
        bpe_ops = [dump["ops"][r["op"]] for r in measured if r["kind"] == "learn_bpe"]
        out["operators.bpe.s_per_merge"] = median(learn) / 1000 / merges
        out["operators.bpe.jobs_per_merge"] = median(
            [o.get("spark.jobs", 0.0) for o in bpe_ops]) / merges
    for k in ("snapshots.files_written", "snapshots.bytes_written",
              "snapshots.write_amp", "snapshots.live_files", "snapshots.files_per_read"):
        out[k] = float(extra.get(k, 0.0))
    return out
