"""``corpus_batch``: the training-corpus batch, pass after pass.

One pass runs the registry builders ``pipeline_training_corpus``,
``dedup_minhash_lsh`` and ``text_unigram_tokenize`` to a noop sink, then
``learn_bpe`` for BPE_MERGES merges, over a seeded subset of the
generated documents. The warm-up pass collects the builders' results and
checks them against the registry's DuckDB oracle SQL; every pass checks
the learned merges against ``reference_bpe``.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import pyarrow.parquet as pq

from common import median

SUBSET_DOCS = 1500
BPE_MERGES = 40


def make_corpus(seed: int, data_dir: str, out_dir: str) -> str:
    import numpy as np

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    rng = np.random.default_rng([seed, 11])
    keep = np.sort(rng.choice(docs.num_rows, min(SUBSET_DOCS, docs.num_rows), replace=False))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs.take(keep), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def references(corpus_dir: str) -> tuple[dict, list]:
    """Expected builder results and BPE merges for the corpus."""
    from karna_spark.operators.bpe import reference_bpe
    from karna_spark.oracle import duckdb_connection
    from karna_spark.queries import REGISTRY

    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    con = duckdb_connection(corpus_dir)
    refs = {}
    for name in ("pipeline_training_corpus", "text_unigram_tokenize"):
        cur = con.execute(REGISTRY[name].oracle)
        refs[name] = ([c[0] for c in cur.description], cur.fetchall())
    con.close()
    refs["dedup_minhash_lsh"] = (["id_a", "id_b", "jaccard"],
                                 near_duplicate_pairs(docs["doc_id"], docs["text"]))
    freqs: Counter = Counter()
    for text in docs["text"]:
        freqs.update(w for w in re.split(r"\s+", text.strip().lower()) if w)
    return refs, reference_bpe(dict(freqs), num_merges=BPE_MERGES)


def near_duplicate_pairs(ids: list[int], texts: list[str], threshold: float = 0.5):
    """Exact all-pairs word-bigram Jaccard >= threshold: the answer the
    registry's oracle SQL for ``dedup_minhash_lsh`` defines, computed as
    one matrix product because the SQL's pairwise join is quadratic in
    DuckDB (minutes at a 1500-document subset)."""
    import numpy as np

    shingles = []
    for t in texts:
        ws = t.split(" ")
        shingles.append({ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)})
    index = {s: j for j, s in enumerate(set().union(*shingles))}
    x = np.zeros((len(texts), len(index)), dtype=np.float32)
    for i, sh in enumerate(shingles):
        x[i, [index[s] for s in sh]] = 1.0
    inter = x @ x.T
    size = x.sum(axis=1)
    union = size[:, None] + size[None, :] - inter
    out = []
    for a, b in zip(*np.nonzero(np.triu(inter >= threshold * union, 1))):
        jac = int(inter[a, b]) / int(union[a, b])
        out.append((min(ids[a], ids[b]), max(ids[a], ids[b]), jac))
    return out


def run(ctx) -> dict:
    from common import same_answer

    corpus = make_corpus(ctx.seed, ctx.data_dir, os.path.join(ctx.work, "corpus"))
    refs, bpe_ref = references(corpus)
    cfg = {"workload": "corpus_batch", "seconds": ctx.seconds, "trace": ctx.trace,
           "work": ctx.work, "corpus_dir": corpus, "bpe_merges": BPE_MERGES}
    res, setup_s, sampler = ctx.run_child(cfg)
    ops = res["ops"]
    failed = [r for r in ops if "error" in r]
    for r in failed:
        ctx.log(f"{r['op']} {r['kind']} failed: {r['error'][:300]}")
    wrong = 0
    for name, got in res["builder_rows"].items():
        if got is None:
            continue
        ok, detail = same_answer(name, got[1], got[0], refs[name][1], refs[name][0])
        if not ok:
            wrong += 1
            ctx.log(f"{name}: {detail}")
    checked_bpe = [m for m in res["bpe"] if m is not None]
    for merges in checked_bpe:
        if [tuple(m) for m in merges] != [tuple(m) for m in bpe_ref]:
            wrong += 1
            ctx.log(f"learn_bpe: {len(merges)} merges differ from reference_bpe")
    passes = res["passes"]
    out = {
        "setup_s": setup_s,
        "attempted": len(ops),
        "failed": len(failed) + wrong,
        "failures": {"exception": len(failed), "wrong": wrong},
        "op_p50_ms": median(passes),
        "n_latency": len(passes),
        "cpu_ms_per_op": sampler.cpu_between(*res["window"]) * 1000 / len(passes),
        "n_ops": len(passes),
        "peak_rss_mb": sampler.peak / 2**20,
        "named": {"batch_p50_s": (median(passes) / 1000, "s", len(passes))},
        "notes": {"passes_s": [round(p / 1000, 3) for p in passes],
                  "docs": SUBSET_DOCS, "bpe_merges": BPE_MERGES,
                  "bpe_merges_learned": len(bpe_ref)},
    }
    if ctx.trace:
        out["layers"] = res["layers"]
    return out
