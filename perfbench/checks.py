"""Output checks and per-layer metrics for perfbench/run.py.

Every op's output is checked; an op that failed or returned a wrong
output counts in `failed`. Results are compared as digests of canonical
rows (`canon` mirrors perfbench.Json.canon in the harness): columns in
name order, rows sorted, values exact — the rules of scripts/check.py.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import statistics
import struct

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)


# ------------------------------------------------------------ canonical rows

def _num(d):
    if math.isnan(d):
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < 9.0e18:
        return "i%d" % int(d)
    return "d" + format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, (bool, np.bool_)):
        return "b1" if v else "b0"
    if isinstance(v, (int, np.integer)):
        return "i%d" % int(v)
    if isinstance(v, (float, np.floating)):
        return _num(float(v))
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value() and abs(v) < 2 ** 62:
            return "i%d" % int(v)
        return _num(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, dt.date):
        return "D%d" % (v - dt.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u0001".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\u0001".join(sorted(columns)).encode())
    for ln in lines:
        h.update(b"\n")
        h.update(ln.encode())
    return h.hexdigest()


def duck(inputs):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{os.path.join(inputs, 'duckdb_tmp')}'")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_digest(con, sql):
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


# --------------------------------------------------------------------- checks

class Verdict:
    def __init__(self, ops):
        self.ops = ops
        self.bad = set()      # indexes of failed ops
        self.notes = []

    def fail_op(self, i, why):
        if i not in self.bad:
            self.bad.add(i)
            self.notes.append(f"FAIL {self.ops[i]['kind']} {self.ops[i]['name']}: {why}")

    def fail_name(self, name, why):
        for i, o in enumerate(self.ops):
            if o["name"] == name:
                self.fail_op(i, why)

    def require(self, ok, name, why):
        if not ok:
            self.fail_name(name, why)


def digests(v):
    """Output digest by op name; an op that threw fails, and an op that
    ran more than once must return the same output each time."""
    first = {}
    for i, o in enumerate(v.ops):
        if o["digest"].startswith("error"):
            v.fail_op(i, o["digest"])
        elif o["digest"]:
            f = first.setdefault(o["name"], o["digest"])
            if f != o["digest"]:
                v.fail_op(i, "output differs from the op's first execution")
    return first


def check_olap(v, res, inputs):
    first = digests(v)
    con = duck(inputs)
    sql = res["check"]["oracle_sql"]
    for name, d in sorted(first.items()):
        v.require(oracle_digest(con, sql[name]) == d, name, "differs from the DuckDB oracle")


def trigrams(text):
    ws = [w for w in text.strip().split(" ") if w]
    if len(ws) < 3:
        return {" ".join(ws)}
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def bm25(docs, terms, k):
    """Search.bm25Rank over the documents ingested so far, in floats."""
    n = len(docs)
    dl = {d: len([w for w in t.strip().split(" ") if w]) for d, t in docs.items()}
    avgdl = sum(dl.values()) / n
    tf = {}
    for d, t in docs.items():
        for w in t.strip().split(" "):
            if w in terms:
                tf[(d, w)] = tf.get((d, w), 0) + 1
    df = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    score = {}
    for (d, w), f in tf.items():
        idf = round(math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5)), 6)
        score[d] = score.get(d, 0.0) + idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
    return sorted(((round(s, 6), d) for d, s in score.items()), key=lambda x: (-x[0], x[1]))[:k]


def check_store(v, res, inputs):
    first = digests(v)
    ck = res["check"]
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    seed = pq.read_table(os.path.join(inputs, "seed_documents.parquet"), columns=["doc_id", "text"]).to_pydict()
    docs = dict(zip(seed["doc_id"], seed["text"]))
    vt = pq.read_table(os.path.join(inputs, "seed_embeddings.parquet"), columns=["vec_id"]).to_pydict()
    vec_ids = set(vt["vec_id"])
    stats = {"items": {"stores": len(docs) + len(vec_ids)}}
    classified = {}
    for mb, doc, status, match in ck.get("classified", []):
        classified[(mb, doc)] = (status, match)
    near_total = near_hit = 0
    for lab in truth["labels"]:
        b = lab["batch"]
        bdir = os.path.join(inputs, "doc_batches", f"batch={b:03d}", "part-0.parquet")
        bt = pq.read_table(bdir, columns=["doc_id", "text"]).to_pydict()
        if f"rows.bm25.b{b}" not in ck:
            break
        for d, kind in lab["kinds"].items():
            d = int(d)
            status, match = classified.get((b, d), (None, None))
            if status is None:
                v.fail_name(f"b{b}", f"doc {d} not classified")
                continue
            text = dict(zip(bt["doc_id"], bt["text"]))[d]
            if status == "near":
                ok = match in docs and match != d and jaccard(trigrams(text), trigrams(docs[match])) >= 0.5
                v.require(ok, f"b{b}", f"doc {d} classified near {match} below the threshold")
            expect_near = kind.endswith("near")
            if expect_near:
                near_total += 1
                near_hit += status == "near"
            elif status != "unique":
                v.fail_name(f"b{b}", f"doc {d} ({kind}) classified {status}")
        for d, t in zip(bt["doc_id"], bt["text"]):
            docs.setdefault(d, t)
        vb = pq.read_table(os.path.join(inputs, "vec_batches", f"batch={b:03d}", "part-0.parquet"),
                           columns=["vec_id"]).to_pydict()
        vec_ids.update(vb["vec_id"])
        stats["items"][f"b{b}"] = len(bt["doc_id"]) + len(vb["vec_id"])
        # ranked search against brute-force BM25 over the documents so far
        terms = set(pq.read_table(os.path.join(inputs, "search_terms.parquet")).to_pydict()["terms"][b])
        got = [(r[1], r[0]) for r in ck[f"rows.bm25.b{b}"]["rows"]]
        want = bm25(docs, terms, len(got) or 10)
        ok = len(got) == len(want) and all(abs(g[0] - w[0]) <= 1e-5 for g, w in zip(got, want))
        # ids must agree except where scores tie at the cut
        ok = ok and {d for s, d in got if s > got[-1][0] + 1e-5} == {d for s, d in want if s > got[-1][0] + 1e-5}
        v.require(ok, f"bm25_b{b}", "top-k differs from brute-force BM25")
        # ANN search: ids exist, each query's planted source is found
        rows = ck[f"rows.ivfpq.b{b}"]["rows"]
        v.require(all(r[1] in vec_ids for r in rows), f"ivfpq_b{b}", "returned a vector not ingested")
        src = truth["ann_source"]
        hits = {(r[0], r[1]) for r in rows}
        qs = [q for q in src if int(q) // 100 == b]
        found = sum((int(q), src[q]) in hits for q in qs)
        stats.setdefault("ann_found", 0)
        stats["ann_found"] += found
        stats.setdefault("ann_queries", 0)
        stats["ann_queries"] += len(qs)
    if near_total:
        stats["near_recall"] = near_hit / near_total
        v.require(stats["near_recall"] >= 0.95, "b0", f"near-duplicate recall {stats['near_recall']:.3f} < 0.95")
    if stats.get("ann_queries"):
        r = stats["ann_found"] / stats["ann_queries"]
        v.require(r >= 0.75, "ivfpq_b0", f"planted neighbour found for {r:.2f} of ANN queries (< 0.75)")
    return stats


def check(workload, res, inputs):
    v = Verdict(res["ops"])
    stats = {"olap_sql": check_olap, "store_ingest": check_store}[workload](v, res, inputs)
    res["stats"] = stats or {}
    return {"attempted": len(v.ops), "failed": len(v.bad), "notes": v.notes}


# ------------------------------------------------------------ per-layer metrics

def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for aa in (m * (b - m) * x / ((qam + m2) * (a + m2)),
                   -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-13:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_median(xs):
    """Harrell-Davis estimate of the median: a beta-weighted mean of all
    order statistics. Where a sample's values leave a gap around the
    middle (olap_sql queries fall into cost groups), it moves smoothly
    while the plain sample median jumps across the gap."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    a = (n + 1) / 2.0
    cdf = [betainc(a, a, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count); the maximum when there are ten
    samples or fewer."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def per_layer(workload, res):
    """Per-layer metrics of a traced run, per op unless named otherwise
    (see README.md for the map). Op latencies here exclude the tracer's
    own time."""
    spans = _load_spans(res)
    ops = res["ops"]
    top = [s for s in spans if s["parent"] < 0]
    n = max(len(top), 1)
    net = {}
    for s in top:
        net.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"] - s["tracer_ns"]) / 1e9)

    def per_op(counter):
        return sum(s["counters"].get(counter, 0.0) for s in top) / n

    def span_time(name):
        return sum((s["end_ns"] - s["start_ns"] - s["tracer_ns"]) / 1e9 for s in spans if s["name"] == name) / n

    def latencies(kind):
        return [x for name, xs in net.items() if name.startswith(kind + ":") for x in xs]

    rows_out = sum(o["rows"] for o in ops)
    run_s = sum(s["counters"].get("spark.run_s", 0.0) for s in top)
    exec_s = sum(s["counters"].get("spark.exec_s", 0.0) for s in top)
    m = {
        "session.start_s": res["session_start_s"],
        "operators.build_s": span_time("operators.build"),
        "sources.rows_read_per_row_out": per_op("sources.rows_read") * n / rows_out if rows_out else 0.0,
        "spark.parallelism": run_s / exec_s if exec_s else 0.0,
        "spark.peak_heap_mb": res["peak_heap_mb"],
        "trace.overhead_s": res["trace_overhead_s"] / n,
    }
    for c in ("plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.exchanges",
              "plans.codegen_stages", "plans.graft_nodes", "sources.input_bytes", "sources.output_bytes",
              "sources.output_files", "spark.exec_s", "spark.cpu_s", "spark.jobs", "spark.tasks",
              "spark.task_wait_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
              "spark.spill_bytes", "spark.gc_s"):
        m[c] = per_op(c)
    m.update(res["kernels"])
    for layer in ("workload", "operators", "plans", "spark", "sources", "streaming"):
        m[f"{layer}.self_s"] = res["layer_self_s"].get(layer, 0.0) / n
    stats = res.get("stats", {})
    items = stats.get("items", {})
    busy = sum(x for xs in net.values() for x in xs)
    m["workload.docs_per_s"] = sum(items.get(s["name"].split(":", 1)[1], 0) for s in top) / busy if busy else 0.0
    searches = latencies("search")
    m["workload.search_p50_s"] = statistics.median(searches) if searches else 0.0
    m["workload.search_tail_s"] = tail(searches)[0]
    ingests = latencies("ingest")
    m["operators.ingest_batch_s"] = statistics.median(ingests) if ingests else 0.0
    m.update(_store_metrics(res, top))
    return m


def _load_spans(res):
    with open(res["_trace_path"]) as f:
        return json.load(f)


def _store_metrics(res, top):
    m = {k: 0.0 for k in (
        "operators.compact_s", "operators.compactions_per_append",
        "operators.files_per_append", "operators.compact_bytes_rewritten", "operators.search_files_scanned",
        "streaming.batch_s", "streaming.add_batch_s", "streaming.wal_commit_s",
        "streaming.query_planning_s", "workload.space_amp")}
    ep = res["extra"].get("episode")
    if not ep:
        return m
    # per append into the signature store: a replayed batch appends nothing
    appends = [b for b in ep["batches"] if b["sig_files_appended"]] or [{}]
    na = len(appends)
    m["operators.compactions_per_append"] = sum(b.get("sig_compacted", 0) for b in appends) / na
    m["operators.compact_s"] = sum(b.get("sig_compact_s", 0) for b in appends) / na
    m["operators.files_per_append"] = sum(b.get("sig_files_appended", 0) for b in appends) / na
    m["operators.compact_bytes_rewritten"] = sum(b["sig_bytes"] for b in appends if b.get("sig_compacted")) / na
    searches = [s for s in top if s["name"].startswith("search:")]
    if searches:
        m["operators.search_files_scanned"] = sum(s["counters"].get("sources.files_scanned", 0.0)
                                                  for s in searches) / len(searches)
    prog = [p for q in ep["progress"].values() for p in q]
    if prog:
        for key, name in (("triggerExecution", "batch_s"), ("addBatch", "add_batch_s"),
                          ("walCommit", "wal_commit_s"), ("queryPlanning", "query_planning_s")):
            m[f"streaming.{name}"] = sum(p.get(key, 0) for p in prog) / 1e3 / len(prog)
    m["workload.space_amp"] = ep["store_bytes"] / ep["input_bytes"]
    return m
