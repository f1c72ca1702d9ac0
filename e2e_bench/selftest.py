"""Fast self-test of the benchmark.

    python3 e2e_bench/selftest.py

Run from the root of the repository. Runs every workload briefly on
tables generated at sf0.001, twice: once traced and once untraced with
one reference answer deliberately corrupted. Checks that every metric
BENCHMARK.json names is emitted with its unit, and that the corrupted
reference is counted as a failed op. Takes a few minutes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

SF = "0.001"
SECONDS = "2"


def expected(kind: str) -> dict[str, str]:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def check_metrics(result: dict, kind: str, label: str) -> list[str]:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = expected(kind)
    return [f"{label}: {kind} metric {k} missing or not in {u}"
            for k, u in want.items() if got.get(k) != u] + [
        f"{label}: unexpected metric {k}" for k in got if k not in want]


def traced_run(workload: str) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", SECONDS, "--trace", "1", "--sf", SF],
        capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        return [f"{workload} traced: exit {out.returncode}: {out.stderr[-2000:]}"]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = check_metrics(result, "per_layer", f"{workload} traced")
    if not result["correct"] or result["failed"]:
        errors.append(f"{workload} traced: {result['failed']} failed ops")
    return errors


def corrupt(workload: str):
    """Patch one reference answer of ``workload`` to a wrong value."""
    if workload == "serve_mixed":
        import serve

        build = serve.build_requests

        def bad_requests(seed, data_dir):
            pools = build(seed, data_dir)
            req = pools["point"][0]
            req["ref_rows"] = [tuple(-1 for _ in row) for row in req["ref_rows"]]
            return pools

        serve.build_requests = bad_requests
    elif workload == "snapshot_rw":
        import snapshot

        apply = snapshot._apply
        skipped = []

        def skip_first_delta(con, path):
            if not skipped:
                skipped.append(path)
                return
            apply(con, path)

        snapshot._apply = skip_first_delta
    else:
        import corpus

        refs = corpus.references

        def bad_refs(corpus_dir):
            builders, bpe = refs(corpus_dir)
            return builders, bpe[:-1]

        corpus.references = bad_refs


def corrupted_run(workload: str) -> list[str]:
    import run

    corrupt(workload)
    sys.argv = ["run.py", "--workload", workload, "--seed", "1", "--seconds", SECONDS,
                "--trace", "0", "--sf", SF]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main()
    if rc != 0:
        return [f"{workload} corrupted: exit {rc}"]
    lines = buf.getvalue().strip().splitlines()
    result = json.loads(lines[-1])
    errors = check_metrics(result, "end_to_end", f"{workload} untraced")
    report = json.loads(lines[-2])
    if result["correct"] or result["failed"] < 1 or report["failures"]["wrong"] < 1:
        errors.append(f"{workload}: a corrupted reference was not counted as failed")
    return errors


def main() -> int:
    if len(sys.argv) > 1:  # one corrupted run, in a fresh process
        errors = corrupted_run(sys.argv[1])
        print(json.dumps(errors))
        return 0
    errors = []
    for workload in ("serve_mixed", "snapshot_rw", "corpus_batch"):
        errors += traced_run(workload)
        out = subprocess.run([sys.executable, __file__, workload], capture_output=True,
                             text=True, timeout=600)
        if out.returncode != 0:
            errors.append(f"{workload} corrupted: exit {out.returncode}: {out.stderr[-2000:]}")
        else:
            errors += json.loads(out.stdout.strip().splitlines()[-1])
        print(f"{workload}: checked", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
