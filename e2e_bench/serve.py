"""``serve_mixed``: closed-loop HTTP load on the engine's query server.

The server runs in its own process, started through its own ``main``
entry (``python -m karna_spark.server``), over the generated tables. Two
client connections each send their next ``POST /query`` only after the
previous reply is fully decoded. Six request classes, each one query
shape with seeded parameters, follow a fixed weighted schedule. Answers
are checked after the timed loop against DuckDB over the same parquet.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import select
import subprocess
import sys
import threading
import time

import duckdb

from common import BENCH_DIR, TreeSampler, median, quantile, same_answer, stop_tree
from datagen import SEGMENTS, WORDS

CLASSES = ("point", "sql", "graphql", "nl", "intent", "page")
# One schedule slot per request; the weights put the median inside the
# graphql/page band and the 95th percentile inside the intent class.
SCHEDULE = (
    "point", "graphql", "point", "page", "graphql", "sql", "point", "nl",
    "graphql", "intent", "point", "graphql", "sql", "point", "page", "nl",
    "graphql", "point", "intent", "graphql",
)
CLIENTS = 2
PAGE_ROWS = 10_000
PAGE_OFFSET_MAX = 50_000


# ------------------------------------------------------------ requests
def _point(rng, n_orders):
    k = rng.randrange(n_orders)
    q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
         f"o_orderpriority FROM orders WHERE o_orderkey = {k}")
    return {"language": "sql", "query": q}, q


def _sql(rng, _):
    year, seg = rng.randrange(1995, 2001), rng.choice(SEGMENTS)
    q = ("SELECT n.n_name, COUNT(*) AS n_lines, "
         "ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue "
         "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
         "JOIN customer c ON o.o_custkey = c.c_custkey "
         "JOIN nation n ON c.c_nationkey = n.n_nationkey "
         f"WHERE o.o_orderdate >= DATE '{year}-01-01' "
         f"AND o.o_orderdate < DATE '{year + 1}-01-01' "
         f"AND c.c_mktsegment = '{seg}' GROUP BY n.n_name")
    return {"language": "sql", "query": q, "limit": 100}, q


def _graphql(rng, n_cust):
    ck = rng.randrange(n_cust)
    q = ("{ orders(where: {o_custkey: {eq: %d}}, orderBy: [{o_orderkey: ASC}], "
         "limit: 50) { o_orderkey o_totalprice customer { c_name nation "
         "{ n_name } } } }" % ck)
    # The server's documented API shape lifts second-level many-to-one
    # leaves (nation.n_name) into the first-level struct.
    ref = ("SELECT o.o_orderkey, o.o_totalprice, "
           "struct_pack(c_name := c.c_name, n_name := n.n_name) AS customer "
           "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey "
           "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey "
           f"WHERE o.o_custkey = {ck} ORDER BY o.o_orderkey LIMIT 50")
    return {"language": "graphql", "query": q, "limit": 100}, ref


def _nl(rng, _):
    flag, status = rng.choice("ANR"), rng.choice("OF")
    q = ("total quantity by nation name in lineitem where returnflag is "
         f"{flag} and where linestatus is {status}")
    ref = ("SELECT n.n_name, SUM(l.l_quantity) AS sum_l_quantity "
           "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey "
           "JOIN nation n ON s.s_nationkey = n.n_nationkey "
           f"WHERE l.l_returnflag = '{flag}' AND l.l_linestatus = '{status}' "
           "GROUP BY n.n_name")
    return {"language": "nl", "query": q, "limit": 100}, ref


def _intent(rng, _):
    k = 10
    terms = rng.sample(WORDS, 2)
    q = f"top {k} documents matching {' '.join(terms)}"
    in_list = ", ".join(f"'{t}'" for t in terms)
    ref = f"""
    WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM bm25_terms
                WHERE term IN ({in_list}) GROUP BY doc_id, term),
    idf AS (SELECT term, ln(1 + (s.n_docs - count(DISTINCT doc_id) + 0.5)
                               / (count(DISTINCT doc_id) + 0.5)) AS idf
            FROM tf, bm25_stats s GROUP BY term, s.n_docs),
    scored AS (
      SELECT tf.doc_id, ROUND(SUM(idf.idf * tf.tf * 2.2
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS bm25
      FROM tf JOIN idf USING (term) JOIN bm25_len dl ON dl.doc_id = tf.doc_id,
           bm25_stats s
      GROUP BY tf.doc_id)
    SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT {k}
    """
    return {"language": "nl", "query": q, "limit": 100}, ref


def _page(rng, n_lines):
    # Offsets stay in the first 50k rows: the top-(offset + limit) sort
    # behind a page grows with the offset.
    off = rng.randrange(max(1, min(PAGE_OFFSET_MAX, n_lines - PAGE_ROWS)))
    q = "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem"
    ref = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM "
           f"lineitem_ranked WHERE rn > {off} AND rn <= {off + PAGE_ROWS} ORDER BY rn")
    body = {"language": "sql", "query": q, "order_by": ["l_orderkey", "l_linenumber"],
            "limit": PAGE_ROWS, "offset": off}
    return body, ref


MAKERS = {"point": (_point, "orders", 64), "sql": (_sql, None, 12),
          "graphql": (_graphql, "customer", 24), "nl": (_nl, None, 8),
          "intent": (_intent, None, 8), "page": (_page, "lineitem", 8)}


def build_requests(seed: int, data_dir: str) -> dict[str, list[dict]]:
    """Per class, a pool of seeded requests with reference answers
    computed by DuckDB over the same parquet."""
    con = duckdb.connect()
    for t in ("nation", "customer", "supplier", "orders", "lineitem", "documents"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    # Shared parts of the intent and page references, computed once: the
    # BM25 term/length statistics (k1=1.2, b=0.75) and the page order.
    con.execute("""
        CREATE TABLE bm25_words AS SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents;
        CREATE TABLE bm25_terms AS SELECT doc_id, unnest(ws) AS term FROM bm25_words;
        CREATE TABLE bm25_len AS SELECT doc_id, len(ws) AS dl FROM bm25_words;
        CREATE TABLE bm25_stats AS SELECT count(*) AS n_docs, avg(dl) AS avgdl
          FROM bm25_len;
        CREATE TABLE lineitem_ranked AS SELECT *, row_number() OVER
          (ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem;
    """)
    pools = {}
    for cls in CLASSES:
        make, count_of, size = MAKERS[cls]
        n = con.execute(f"SELECT count(*) FROM {count_of}").fetchone()[0] if count_of else 0
        rng = random.Random(f"{seed}:{cls}")
        pool = []
        for _ in range(size):
            body, ref_sql = make(rng, n)
            cur = con.execute(ref_sql)
            pool.append({"body": body, "ref_cols": [c[0] for c in cur.description],
                         "ref_rows": cur.fetchall()})
        pools[cls] = pool
    con.close()
    return pools


# ------------------------------------------------------------ server
def start_server(env: dict, data_dir: str, work: str, spans_path: str | None):
    """Start the server; returns (process, port, t_spawn)."""
    args = ["--host", "127.0.0.1", "--port", "0", "--fixtures", data_dir]
    if spans_path:
        cmd = [sys.executable, "-u", os.path.join(BENCH_DIR, "traced_server.py"),
               spans_path] + args
    else:
        cmd = [sys.executable, "-u", "-m", "karna_spark.server"] + args
    err = open(os.path.join(work, "server.stderr"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=err, stdin=subprocess.DEVNULL, text=True)
    err.close()
    deadline = time.time() + 150
    line = ""
    while time.time() < deadline and proc.poll() is None:
        ready, _, _ = select.select([proc.stdout], [], [], 1.0)
        if ready:
            line = proc.stdout.readline()
            break
    if "serving on" not in line:
        stop_tree(proc, set())
        raise RuntimeError(f"server did not start: {line!r}")
    return proc, int(line.strip().rsplit(":", 1)[1]), t0


def send(port: int, body: dict, op_id: str) -> tuple[int, float, object, int]:
    """One request; returns (status, latency_ms, decoded reply, bytes)."""
    data = json.dumps(body).encode()
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/query", data, {"Content-Type": "application/json",
                                             "X-Bench-Op": op_id})
        resp = conn.getresponse()
        raw = resp.read()
        reply = json.loads(raw)
        status = resp.status
    finally:
        conn.close()
    return status, (time.perf_counter() - t0) * 1000, reply, len(raw)


# ------------------------------------------------------------ workload
def run(ctx) -> dict:
    pools = build_requests(ctx.seed, ctx.data_dir)
    spans_path = os.path.join(ctx.work, "spans.json") if ctx.trace else None
    proc, port, t_spawn = start_server(ctx.env, ctx.data_dir, ctx.work, spans_path)
    sampler = TreeSampler(proc.pid)
    results: list[dict] = []
    try:
        t_warm = time.perf_counter()
        for cls in CLASSES:
            results.append(_do(port, cls, pools[cls][0], f"w-{cls}"))
        t_ready = time.perf_counter()
        # A second, untimed pass: the first requests after set-up still
        # run partly interpreted JVM code.
        for cls in CLASSES:
            results.append(_do(port, cls, pools[cls][1 % len(pools[cls])], f"s-{cls}"))
        measured = _load(port, pools, ctx.seed, ctx.seconds)
        time.sleep(2 * sampler.period)  # one more sample after the window
        results.extend(measured["results"])
    finally:
        sampler.stop()
        stop_tree(proc, sampler.pids)

    failures = {"4xx": 0, "5xx": 0, "exception": 0, "wrong": 0}
    for r in results:
        kind = _check(r)
        r["ok"] = kind is None
        if kind:
            failures[kind] += 1
            ctx.log(f"{r['op']} {r['class']} failed ({kind}): {r['detail'][:300]}")
    meas = [r for r in results if r["op"].startswith("m-")]
    lat = [r["ms"] for r in meas]
    out = {
        "setup_s": t_ready - t_spawn,
        "attempted": len(results),
        "failed": sum(failures.values()),
        "failures": failures,
        "op_p50_ms": median(lat),
        "n_latency": len(lat),
        "n_ops": len(meas),
        "peak_rss_mb": sampler.peak / 2**20,
        "cpu_ms_per_op": sampler.cpu_between(*measured["window"]) * 1000 / len(meas),
        "named": {
            "req_per_s": (len(meas) / measured["wall_s"], "1/s", len(meas)),
            "req_p95_ms": (quantile(lat, 0.95), "ms", len(lat)),
        },
    }
    for cls in CLASSES:
        xs = [r["ms"] for r in meas if r["class"] == cls]
        out["named"][f"{cls}_p50_ms"] = (median(xs), "ms", len(xs))
    if ctx.trace:
        from layers import serve_layers

        out["layers"] = serve_layers(spans_path, meas, (t_ready - t_warm) * 1000)
    return out


def _do(port: int, cls: str, req: dict, op_id: str) -> dict:
    rec = {"op": op_id, "class": cls, "req": req}
    t0 = time.perf_counter()
    try:
        rec["status"], rec["ms"], rec["reply"], rec["bytes"] = send(port, req["body"], op_id)
    except Exception as e:  # noqa: BLE001 — any client-side failure is a failed op
        rec.update(status=0, ms=(time.perf_counter() - t0) * 1000, reply=None,
                   bytes=0, error=f"{type(e).__name__}: {e}")
    return rec


def _load(port: int, pools: dict, seed: int, seconds: float) -> dict:
    """Closed loop: CLIENTS threads take the next schedule slot until the
    run time is up; requests in flight then complete."""
    lock = threading.Lock()
    counter = iter(range(10**9))
    rngs = {cls: random.Random(f"{seed}:{cls}:order") for cls in CLASSES}
    results: list[dict] = []
    t0 = time.perf_counter()
    stop_at = t0 + seconds

    def client():
        while time.perf_counter() < stop_at:
            with lock:
                i = next(counter)
                cls = SCHEDULE[i % len(SCHEDULE)]
                req = pools[cls][rngs[cls].randrange(len(pools[cls]))]
            rec = _do(port, cls, req, f"m-{i}")
            with lock:
                results.append(rec)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    w0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"results": results, "wall_s": time.perf_counter() - t0,
            "window": (w0, time.time())}


def _check(r: dict) -> str | None:
    """None when the reply is right; else the failure class."""
    r["detail"] = ""
    if r["status"] == 0:
        r["detail"] = r.get("error", "")
        return "exception"
    if r["status"] != 200:
        r["detail"] = json.dumps(r["reply"])
        return "4xx" if r["status"] < 500 else "5xx"
    reply, req = r["reply"], r["req"]
    ok, detail = same_answer(r["class"], reply["rows"], reply["columns"],
                             req["ref_rows"], req["ref_cols"])
    if ok and r["class"] in ("intent", "page"):
        # Ordered results: the order is part of the answer.
        ok = reply["rows"] == [list(row) for row in req["ref_rows"]]
        detail = detail if ok else "row order differs"
    r["detail"] = detail
    return None if ok else "wrong"
