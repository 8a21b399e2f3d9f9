#!/usr/bin/env python3
"""Seeded input generators, one per workload.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files, so two commits are measured on the same
bytes. The generators follow the layout of graft's testdata tables
(TPC-H-style star schema, an `events` stream, a `documents` text corpus
and 64-d unit `embeddings`), so every graft entry runs on them as is.

    python3 perfbench/gen.py --workload store_ingest --seed 7 --out DIR
    python3 perfbench/gen.py --workload olap_sql --seed 7 --check-determinism

The first prints the generated tables with their rows and bytes; the
second generates twice into fresh directories and compares the bytes.
"""
import argparse
import hashlib
import json
import os
import sys
import tempfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("olap_sql", "store_ingest")

# Table sizes of olap_sql: testdata's row counts at this scale factor.
OLAP_SF = 0.01

# The testdata corpus vocabulary (30 words, "the"/"a" are stopwords the
# quality gate counts), extended with three more stopwords and a Zipf
# tail of pseudo-words so that unrelated documents rarely share
# trigrams: near-duplicates are then the planted ones, not chance.
BASE_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()
STOPWORDS_EXTRA = ["of", "in", "is"]
N_TAIL_WORDS = 4000

VEC_DIM = 64

# store_ingest stream shape
INGEST_BATCHES = 4
INGEST_BATCH_DOCS = 120        # documents per batch
INGEST_SEED_DOCS = 600         # corpus the stores are built from
INGEST_NEAR_FRAC = 0.25        # near-duplicates of earlier documents
INGEST_SEED_VECS = 600
INGEST_BATCH_VECS = 60
INGEST_QUERY_TERMS = 3
INGEST_QUERIES = 4          # ANN queries per batch


def rng(seed, name):
    """Independent stream per (seed, table): adding a table never shifts
    the values of another."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def vocabulary():
    r = np.random.default_rng(0)  # fixed: the vocabulary is not an input knob
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    tail = set()
    while len(tail) < N_TAIL_WORDS:
        n = int(r.integers(3, 10))
        w = "".join(r.choice(letters, n))
        if w not in BASE_WORDS and w not in STOPWORDS_EXTRA:
            tail.add(w)
    words = BASE_WORDS + STOPWORDS_EXTRA + sorted(tail)
    # Zipf-like weights: testdata's 30 words stay the most frequent
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    p = 1.0 / ranks ** 0.9
    return np.array(words, dtype=object), p / p.sum()


def write(table, out, name):
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def ts_us(days, start, n, r):
    """n uniform microsecond timestamps in [start, start + days)."""
    base = np.datetime64(start, "us")
    span = np.int64(days) * 86_400_000_000
    return base + r.integers(0, span, n).astype("timedelta64[us]")


def random_texts(r, n, words, p, lo=10, hi=100):
    lens = r.integers(lo, hi + 1, n)
    flat = r.choice(len(words), int(lens.sum()), p=p)
    out, o = [], 0
    for ln in lens:
        out.append(" ".join(words[flat[o:o + ln]]))
        o += ln
    return out


def documents_table(ids, texts, r):
    langs = np.array(["en", "en", "en", "es", "zh", "de", "fr"], dtype=object)
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[r.integers(0, len(langs), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def unit_rows(m):
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def embeddings_table(ids, vecs, labels):
    flat = pa.array(np.asarray(vecs, dtype=np.float32).ravel())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(ids) * VEC_DIM + 1, VEC_DIM, dtype=np.int32)), flat)
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
    })


def clustered_vectors(r, n, centers):
    labels = r.integers(0, len(centers), n)
    v = unit_rows(centers[labels] * 0.5 + r.normal(0, 1, (n, VEC_DIM)) / np.sqrt(VEC_DIM))
    return v, labels


# ---------------------------------------------------------------- olap_sql

def gen_olap(seed, out):
    sf = OLAP_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    money = lambda r, lo, hi, n: np.round(r.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    r = rng(seed, "customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, n_cust)], pa.string())})
    r = rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n_supp))})
    r = rng(seed, "part")
    adj = np.array("blue old small new red large hot cold".split(), dtype=object)
    noun = np.array("widget gizmo bolt plate rod anvil ring gear".split(), dtype=object)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(adj[r.integers(0, 8, n_part)] + " " + noun[r.integers(0, 8, n_part)], pa.string()),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pa.array(types[r.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1))})
    r = rng(seed, "orders")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    day0 = np.datetime64("1995-01-01", "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array((day0 + r.integers(0, 2404, n_ord).astype("timedelta64[D]")).astype("datetime64[us]")),
        "o_orderpriority": pa.array(prios[r.integers(0, 5, n_ord)], pa.string())})
    r = rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[r.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array((np.datetime64("1995-01-02", "D") + r.integers(0, 2498, n_li)
                                .astype("timedelta64[D]")).astype("datetime64[us]"))})
    r = rng(seed, "events")
    etypes = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.sort(ts_us(30, "2024-01-01", n_ev, r))),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(etypes[r.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    words, p = vocabulary()
    r = rng(seed, "documents")
    texts = random_texts(r, n_docs, words[:30], None)
    t["documents"] = documents_table(np.arange(n_docs), texts, r)
    r = rng(seed, "embeddings")
    centers = unit_rows(r.normal(0, 1, (10, VEC_DIM)))
    v, labels = clustered_vectors(r, n_docs, centers)
    t["embeddings"] = embeddings_table(np.arange(n_docs), v, labels)
    for name, tab in t.items():
        write(tab, out, name)
    return {}


# ------------------------------------------------------------ store_ingest

def edit_words(r, text, n_edits, words, p):
    ws = text.split(" ")
    for _ in range(n_edits):
        ws[int(r.integers(0, len(ws)))] = words[int(r.choice(len(words), p=p))]
    return " ".join(ws)


def gen_store(seed, out):
    """A seed corpus the stores are built from, then INGEST_BATCHES
    batches of documents and vectors. Each batch mixes fresh documents
    and one-word edits of documents the signature store holds (the seed
    corpus and earlier fresh documents); one batch replays an earlier
    batch with the same ids. Planted labels say what each batch document
    is; each ANN query is a small perturbation of an ingested vector, its
    planted nearest neighbour."""
    words, p = vocabulary()
    r = rng(seed, "store_docs")
    seed_texts = random_texts(r, INGEST_SEED_DOCS, words, p, lo=30, hi=80)
    seed_ids = list(range(INGEST_SEED_DOCS))
    next_id = INGEST_SEED_DOCS
    write(documents_table(seed_ids, seed_texts, r), out, "seed_documents")
    corpus = dict(zip(seed_ids, seed_texts))  # documents the signature store holds
    labels, batches = [], []
    replay_of = {2: 1}  # batch 2 replays batch 1
    for b in range(INGEST_BATCHES):
        if b in replay_of:
            ids, texts, kinds = batches[replay_of[b]]
            kinds = ["replay-" + k for k in kinds]
        else:
            n_near = int(INGEST_BATCH_DOCS * INGEST_NEAR_FRAC)
            fresh = random_texts(r, INGEST_BATCH_DOCS - n_near, words, p, lo=30, hi=80)
            pool = sorted(corpus)
            near = [edit_words(r, corpus[pool[int(r.integers(0, len(pool)))]], 1, words, p)
                    for _ in range(n_near)]
            texts = fresh + near
            kinds = ["fresh"] * len(fresh) + ["near"] * n_near
            order = r.permutation(len(texts))
            texts = [texts[i] for i in order]
            kinds = [kinds[i] for i in order]
            ids = list(range(next_id, next_id + len(texts)))
            next_id += len(texts)
        batches.append((ids, texts, kinds))
        bdir = os.path.join(out, "doc_batches", f"batch={b:03d}")
        os.makedirs(bdir, exist_ok=True)
        write(documents_table(ids, texts, r), bdir, "part-0")
        for i, t, k in zip(ids, texts, kinds):
            if k == "fresh":
                corpus[i] = t
        labels.append({"batch": b, "kinds": dict(zip(map(int, ids), kinds))})

    r = rng(seed, "store_vecs")
    centers = unit_rows(r.normal(0, 1, (10, VEC_DIM)))
    v, lab = clustered_vectors(r, INGEST_SEED_VECS, centers)
    write(embeddings_table(np.arange(INGEST_SEED_VECS), v, lab), out, "seed_embeddings")
    pool = [v]
    qb, qid, qvec, qsrc = [], [], [], []
    for b in range(INGEST_BATCHES):
        vb, lb = clustered_vectors(r, INGEST_BATCH_VECS, centers)
        ids = INGEST_SEED_VECS + b * INGEST_BATCH_VECS + np.arange(INGEST_BATCH_VECS)
        bdir = os.path.join(out, "vec_batches", f"batch={b:03d}")
        os.makedirs(bdir, exist_ok=True)
        write(embeddings_table(ids, vb, lb), bdir, "part-0")
        pool.append(vb)
        # ANN queries: small perturbations of vectors ingested so far,
        # so each query's planted nearest neighbour is its source
        allv = np.concatenate(pool)
        for j, s in enumerate(r.choice(len(allv), INGEST_QUERIES, replace=False)):
            qb.append(b)
            qid.append(b * 100 + j)
            qvec.append(unit_rows((allv[s] + r.normal(0, 0.01, VEC_DIM))[None, :])[0])
            qsrc.append(int(s))
    t = embeddings_table(qid, qvec, np.zeros(len(qid)))
    write(pa.table({"batch": pa.array(np.array(qb, dtype=np.int32)), "query_id": t["vec_id"],
                    "embedding": t["embedding"]}), out, "search_vectors")
    # ranked-search terms per batch: frequent words, so every search has hits
    terms = [[str(w) for w in r.choice(words[:60], INGEST_QUERY_TERMS, replace=False)]
             for _ in range(INGEST_BATCHES)]
    write(pa.table({"batch": pa.array(np.arange(INGEST_BATCHES, dtype=np.int32)),
                    "terms": pa.array(terms, pa.list_(pa.string()))}), out, "search_terms")
    # a miniature of the stream for the untimed warm-up episode: 100 seed
    # documents and vectors, one small batch, its searches
    for sub, name, n in (("", "seed_documents", 100), ("", "seed_embeddings", 100),
                         ("doc_batches/batch=000", "part-0", 20), ("vec_batches/batch=000", "part-0", 10),
                         ("", "search_terms", 1), ("", "search_vectors", INGEST_QUERIES)):
        os.makedirs(os.path.join(out, "warmup", sub), exist_ok=True)
        write(pq.read_table(os.path.join(out, sub, name + ".parquet")).slice(0, n),
              os.path.join(out, "warmup", sub), name)
    return {"labels": labels, "ann_source": dict(zip(qid, qsrc))}


GENERATORS = {"olap_sql": gen_olap, "store_ingest": gen_store}


def generate(workload, seed, out):
    """Write the inputs of `workload` under `out` and the planted truth
    to `out/truth.json`. Returns [(relative path, rows, bytes)]."""
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    sizes = []
    for root, _, files in sorted(os.walk(out)):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rows = pq.ParquetFile(path).metadata.num_rows if fn.endswith(".parquet") else 0
            sizes.append((os.path.relpath(path, out), rows, os.path.getsize(path)))
    return sizes


def digest(out):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for fn in sorted(files):
            path = os.path.join(root, fn)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out")
    ap.add_argument("--check-determinism", action="store_true")
    a = ap.parse_args(argv)
    if a.check_determinism:
        with tempfile.TemporaryDirectory(dir=a.out) as t1, tempfile.TemporaryDirectory(dir=a.out) as t2:
            generate(a.workload, a.seed, t1)
            generate(a.workload, a.seed, t2)
            d1, d2 = digest(t1), digest(t2)
        print(f"{a.workload} seed {a.seed}: {d1} / {d2}")
        return 0 if d1 == d2 else 1
    if not a.out:
        ap.error("--out is required")
    total_rows = total_bytes = 0
    for path, rows, size in generate(a.workload, a.seed, a.out):
        print(f"{path}\t{rows} rows\t{size} bytes")
        total_rows += rows
        total_bytes += size
    print(f"total\t{total_rows} rows\t{total_bytes} bytes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
