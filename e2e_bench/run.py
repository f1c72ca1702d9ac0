"""End-to-end benchmark of the engine: what its callers wait for.

    python3 e2e_bench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Workloads:

- ``serve_mixed``  closed loop, 2 HTTP clients, server in its own process;
- ``snapshot_rw``  closed loop, 1 client, merges beside pruned reads;
- ``corpus_batch`` closed loop, 1 client, the training-corpus batch.

Inputs are generated under ``.e2e_bench_work/``: the base tables once per
checkout (they do not depend on the seed), the seeded inputs per run,
removed when the run ends. Every answer is checked. The next-to-last stdout line
is a report: every end-to-end metric of the workload by name, with unit
and sample count, failures by class, and the run's provenance. The last
line is the result: ``correct``, ``attempted``, ``failed`` and the gated
metrics (end-to-end ones with ``--trace 0``, per-layer ones with
``--trace 1``). BENCHMARK.json lists both sets.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

from common import (
    BASE_SEED, BENCH_DIR, SF, TreeSampler, cpu_probe, program_env, provenance,
    stop_tree, write_json,
)

WORKLOADS = ("serve_mixed", "snapshot_rw", "corpus_batch")
CHILD_TIMEOUT_S = 170
# The gated end-to-end metrics, common to every workload; the report line
# carries the rest (see LAYERS.md for why they are not gated).
END_TO_END = (("setup_s", "s"), ("op_p50_ms", "ms"), ("cpu_ms_per_op", "ms"))


def run_child(ctx, cfg: dict) -> tuple[dict, float, TreeSampler]:
    """Runs inproc.py with ``cfg``; returns (its result, setup seconds from
    process start to ready, the sampler of its process tree)."""
    cfg_path = os.path.join(ctx.work, "child.json")
    out_path = os.path.join(ctx.work, "child.pickle")
    write_json(cfg_path, cfg)
    err = open(os.path.join(ctx.work, "child.stderr"), "w")
    t_spawn = time.time()
    proc = subprocess.Popen([sys.executable, os.path.join(BENCH_DIR, "inproc.py"),
                             cfg_path, out_path], cwd=ctx.work, env=ctx.env,
                            stdin=subprocess.DEVNULL, stdout=err, stderr=err)
    err.close()
    sampler = TreeSampler(proc.pid)
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        sampler.stop()
        stop_tree(proc, sampler.pids)
    if proc.returncode != 0 or not os.path.exists(out_path):
        raise RuntimeError(f"{cfg['workload']} process failed (exit {proc.returncode}): "
                           + _tail(os.path.join(ctx.work, "child.stderr")))
    with open(out_path, "rb") as f:
        res = pickle.load(f)
    return res, res["ready_wall"] - t_spawn, sampler


def _tail(path: str, n: int = 3000) -> str:
    with open(path, errors="replace") as f:
        return f.read()[-n:]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF,
                   help="scale of the generated tables (the self-test uses 0.001)")
    args = p.parse_args()

    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "karna_spark", "__init__.py")):
        print("run from the root of the repository: karna_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    cache = os.path.join(repo, ".e2e_bench_work")
    work = os.path.join(cache, f"{args.workload}-{os.getpid()}")
    try:
        env = program_env(repo, work)
        os.environ["TMPDIR"] = env["TMPDIR"]
        tempfile.tempdir = env["TMPDIR"]
        probe_before = cpu_probe()
        from datagen import cached_tables

        ctx = SimpleNamespace(
            seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work,
            env=env, data_dir=cached_tables(cache, args.sf, BASE_SEED),
            log=lambda msg: print(msg, file=sys.stderr, flush=True))
        ctx.run_child = lambda cfg: run_child(ctx, cfg)
        if args.workload == "serve_mixed":
            import serve as workload
        elif args.workload == "snapshot_rw":
            import snapshot as workload
        else:
            import corpus as workload
        res = workload.run(ctx)
        probe_after = cpu_probe()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    named = {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in res["named"].items()}
    named["setup_s"] = {"value": res["setup_s"], "unit": "s", "n": 1}
    named["error_rate"] = {"value": res["failed"] / res["attempted"], "unit": "ratio",
                           "n": res["attempted"]}
    named["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB", "n": 1}
    named["op_p50_ms"] = {"value": res["op_p50_ms"], "unit": "ms", "n": res["n_latency"]}
    named["cpu_ms_per_op"] = {"value": res["cpu_ms_per_op"], "unit": "ms", "n": res["n_ops"]}
    report = {"workload": args.workload, "trace": args.trace, "metrics": named,
              "failures": res["failures"], "notes": res.get("notes", {}),
              "provenance": provenance(repo, args.seed),
              "cpu_probe_s": {"before": probe_before, "after": probe_after}}
    print(json.dumps(report))
    if args.trace:
        from layers import UNITS

        res["layers"]["traced.op_p50_ms"] = res["op_p50_ms"]
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
