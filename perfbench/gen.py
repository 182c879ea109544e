"""Seeded input generator for the perfbench workloads.

Every input a workload reads is written here from `--seed` alone, next to
an `expected.json` that holds the answers planted in it (survivor counts,
blob counts, near-dup verdicts, appended ids). The engine sees only the
written files; the harness compares its outputs against `expected.json`.

    python3 perfbench/gen.py --workload curation_batch --seed 1 --out DIR

The same (workload, seed) always gives byte-identical files
(`perfbench/test_gen.py` checks this).
"""
import argparse
import datetime as dt
import gzip
import hashlib
import io
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("curation_batch", "raster_batch", "interactive_mix", "stream_ingest")
STOP = ["the", "a", "of", "and", "in", "to", "is", "that"]
LANGS = ["en", "de", "fr", "es"]
SOURCES = [f"src{i}" for i in range(8)]
# one fixed mtime for every written file, so a rerun writes the same bytes
# and the same stat() the engine's layout fingerprints read
EPOCH = 1700000000

# Sizes, and why: each workload must finish its timed units (pipeline
# passes, requests, shards) inside a 20 s run on 4 cores, and a whole run
# (session, warm-up, measure) must stay near a minute.
SIZES = {
    "curation_batch": dict(
        bases=300, low_wordcount=0.08, low_lorem=0.04, exact_share=0.25,
        near_share=0.15, semantic_pairs=15, dim=128, shards=8,
        why="~400 docs in 8 WET shards: the pass is dominated by the "
            "engine's fixed per-stage cost (k-means 32-way spreads, GraphCC "
            "rounds), so more docs lengthen the run without changing its shape"),
    "raster_batch": dict(
        frames=32, h=192, w=192, nframes=8, blobs=80, radius=4,
        why="32x192x192 uint8 stack (1.2 Mpx) in 4 chunks of 8 frames: "
            "every stencil and the labeling cross chunk faces; one pass "
            "takes ~11 s on 4 cores at the latency profile's one shuffle "
            "partition, so a 20 s run times two or three passes"),
    "interactive_mix": dict(
        orders=6000, lines_per_order=4, customers=600, corpus_docs=1500,
        vectors=4000, dim=64, requests=600, probe_batch=6, append_batch=4,
        why="sf0.01-sized facts (24k lineitem rows over 84 months) and "
            "1.5k-doc/4k-vector indexes: each request is one to a few "
            "Spark jobs, so dispatch and index reads dominate"),
    "stream_ingest": dict(
        shards=90, docs_per_shard=12, interval_ms=800, near_share=0.2,
        low_share=0.1,
        why="12-doc WET shards due every 0.8 s: a warm micro-batch takes "
            "~0.45 s, so the stream runs at ~55% load and its queue stays "
            "short; 25 shards per 20 s run; the last 15 prime the measured "
            "query, so a run can measure up to 60 s"),
}


def touch(path):
    os.utime(path, (EPOCH, EPOCH))


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")
    touch(path)


def write_bytes(path, data):
    with open(path, "wb") as f:
        f.write(data)
    touch(path)


def write_json(path, obj):
    write_bytes(path, json.dumps(obj, sort_keys=True, indent=1).encode())


# ------------------------------------------------------------- text corpus
def vocab(rng, n=3000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def good_doc(rng, words, lo=70, hi=140):
    n = int(rng.integers(lo, hi))
    toks = []
    for _ in range(n):
        if rng.random() < 0.2:
            toks.append(STOP[int(rng.integers(len(STOP)))])
        else:
            toks.append(words[int(rng.integers(len(words)))])
    return toks


def minhash(toks):
    """The engine's 32-permutation MinHash over distinct 3-token shingles
    (TextOps.minhashSigFoldExpr, the same formula its DuckDB oracle
    replays): h1/h2 from the shingle's md5, h_i = (h1 + i*h2) mod p."""
    sh = {" ".join(toks[k:k + 3]) for k in range(len(toks) - 2)}
    hs = [hashlib.md5(x.encode()).hexdigest() for x in sorted(sh)]
    h1 = np.array([int(h[:15], 16) for h in hs], dtype=np.int64)
    h2 = np.array([int(h[16:31], 16) % 1000000007 for h in hs], dtype=np.int64)
    return ((h1[:, None] + np.arange(32)[None, :] * h2[:, None]) % 4294967291).min(axis=0)


def near_copy(rng, toks, words):
    """One token appended: every original shingle survives and one is new
    (jaccard ~0.99). Redrawn until the copy agrees with the original on
    >= 26 of the 32 MinHash values -- the engine's verify threshold, which
    also guarantees a shared LSH band -- since a new shingle with a very
    small hash can take over several of the correlated permutations."""
    want = minhash(toks)
    while True:
        out = toks + [words[int(rng.integers(len(words)))]]
        if (minhash(out) == want).sum() >= 26:
            return out


def wet_gz(records):
    """Common-Crawl layout: one gzip member per record, warcinfo first."""
    buf = io.BytesIO()

    def member(headers, body):
        head = "\r\n".join(headers + [f"Content-Length: {len(body)}", "", ""])
        z = io.BytesIO()
        with gzip.GzipFile(fileobj=z, mode="wb", mtime=0) as g:
            g.write(head.encode())
            g.write(body)
            g.write(b"\r\n\r\n")
        buf.write(z.getvalue())

    member(["WARC/1.0", "WARC-Type: warcinfo",
            "Content-Type: application/warc-fields"], b"software: perfbench\r\n")
    for uri, text in records:
        member(["WARC/1.0", "WARC-Type: conversion", f"WARC-Target-URI: {uri}",
                "Content-Type: text/plain"], text.encode())
    return buf.getvalue()


def uri_of(doc_id, lang, source):
    return f"http://crawl.example/{source}/{lang}/{doc_id}"


def chunk_geometry(n):
    nc = 1 if n <= 128 else 1 + -(-(n - 128) // 112)
    return nc, sum(min(128, n - i * 112) for i in range(nc))


def topic_embeddings(rng, topics, dim, weight):
    """Unit vectors = weight * topic centre + isotropic noise: clustered
    data, the case an IVF index is built for."""
    c = rng.standard_normal((int(topics.max()) + 1, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    x = weight * c[topics] + rng.standard_normal((len(topics), dim)) / np.sqrt(dim)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def unit(rng, n, dim):
    x = rng.standard_normal((n, dim))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


# ---------------------------------------------------------- curation_batch
def gen_curation(rng, out, cfg):
    words = vocab(rng)
    nb = cfg["bases"]
    kinds = rng.choice(["good", "short", "lorem"], nb,
                       p=[1 - cfg["low_wordcount"] - cfg["low_lorem"],
                          cfg["low_wordcount"], cfg["low_lorem"]])
    bases = []
    for k in kinds:
        if k == "short":
            bases.append(good_doc(rng, words, 15, 40))
        elif k == "lorem":
            t = good_doc(rng, words)
            bases.append(t[:20] + ["lorem", "ipsum", "dolor", "sit", "amet"] + t[20:])
        else:
            bases.append(good_doc(rng, words))
    good = [i for i in range(nb) if kinds[i] == "good"]
    # copies: (base, tokens); each good base gets at most one of each kind
    exact_of = rng.choice(good, int(cfg["exact_share"] * len(good)), replace=False)
    near_of = rng.choice(good, int(cfg["near_share"] * len(good)), replace=False)
    docs = [(b, bases[b]) for b in range(nb)]
    docs += [(int(b), bases[b]) for b in exact_of]
    docs += [(int(b), near_copy(rng, bases[b], words)) for b in near_of]
    ids = rng.permutation(len(docs))
    base_of = np.array([d[0] for d in docs])
    lang = rng.integers(0, len(LANGS), nb)
    src = rng.integers(0, len(SOURCES), nb)

    # embeddings: a doc's vector is its base's (content-derived). Random
    # directions, resampled until no two good bases reach cosine 0.36, so
    # the engine's 0.40 threshold removes exactly the planted pairs (u, v),
    # whose v sits at cosine 0.9 from u.
    dim = cfg["dim"]
    emb = unit(rng, nb, dim)
    g = np.array(good)
    while True:
        sim = emb[g] @ emb[g].T
        np.fill_diagonal(sim, -1)
        bad = np.unique(np.nonzero(sim >= 0.36)[0])
        if len(bad) == 0:
            break
        emb[g[bad]] = unit(rng, len(bad), dim)
    pairs = [(int(u), int(v)) for u, v in
             rng.choice(good, (cfg["semantic_pairs"], 2), replace=False)]
    for u, v in pairs:
        noise = rng.standard_normal(dim)
        noise -= noise.dot(emb[u]) * emb[u]
        noise /= np.linalg.norm(noise)
        emb[v] = 0.9 * emb[u] + np.sqrt(1 - 0.81) * noise
    emb = emb.astype(np.float32)

    # expected survivors: per base group the kept doc is its min id (exact
    # keep-first, then near-dup component min); a semantic pair drops the
    # group whose kept id is larger
    keep = {}
    for i, b in enumerate(base_of):
        keep[b] = min(keep.get(b, 1 << 60), int(ids[i]))
    survivors = {b: keep[b] for b in good}
    for u, v in pairs:
        drop = u if survivors[u] > survivors[v] else v
        del survivors[drop]
    tokens_of = {int(ids[k]): docs[k][1] for k in range(len(docs))}
    n_chunks = n_tok = 0
    for b in survivors:
        nc, nt = chunk_geometry(len(tokens_of[survivors[b]]))
        n_chunks += nc
        n_tok += nt

    os.makedirs(os.path.join(out, "wet"), exist_ok=True)
    order = np.argsort(ids)
    per = -(-len(docs) // cfg["shards"])
    wet_bytes = 0
    for s in range(cfg["shards"]):
        recs = []
        for j in order[s * per:(s + 1) * per]:
            b = base_of[j]
            recs.append((uri_of(int(ids[j]), LANGS[lang[b]], SOURCES[src[b]]),
                         " ".join(docs[j][1])))
        data = wet_gz(recs)
        wet_bytes += len(data)
        write_bytes(os.path.join(out, "wet", f"shard_{s:03d}.warc.wet.gz"), data)
    write_parquet(pa.table({
        "vec_id": pa.array(ids[order].astype(np.int64)),
        "embedding": pa.array(list(emb[base_of[order]]), type=pa.list_(pa.float32())),
        "label": pa.array(np.zeros(len(docs), dtype=np.int32)),
    }), os.path.join(out, "embeddings.parquet"))
    n_low = int((kinds != "good").sum())
    return {
        "docs": len(docs), "wet_bytes": wet_bytes,
        "after_quality": len(docs) - n_low,
        "after_exact": len(docs) - n_low - len(exact_of),
        "after_minhash": len(good),
        "survivors": len(survivors),
        "survivor_id_sum": int(sum(survivors.values())),
        "chunks": n_chunks, "chunk_tokens": n_tok,
        "shares": {"low_quality": n_low / len(docs),
                   "exact_dup": len(exact_of) / len(docs),
                   "near_dup": len(near_of) / len(docs),
                   "semantic_pairs": len(pairs)},
    }


# ------------------------------------------------------------ raster_batch
def blob_stack(rng, f, h, w, r, blobs, out, sub):
    """A uint8 (f, h, w) stack of noise in [10, 50) with up to `blobs`
    non-touching balls of radius r (centres >= 2r+6 apart, fully inside)
    at [190, 230), written as one binary PGM per frame under out/sub.
    Returns the number of balls placed."""
    vol = rng.integers(10, 50, (f, h, w)).astype(np.uint8)
    centres = []
    gap = 2 * r + 6
    tries = 0
    while len(centres) < blobs and tries < 200000:
        tries += 1
        c = (int(rng.integers(r + 1, f - r - 1)), int(rng.integers(r + 1, h - r - 1)),
             int(rng.integers(r + 1, w - r - 1)))
        if all(max(abs(c[0] - o[0]), abs(c[1] - o[1]), abs(c[2] - o[2])) >= gap
               for o in centres):
            centres.append(c)
    zz, yy, xx = np.ogrid[-r:r + 1, -r:r + 1, -r:r + 1]
    ball = zz * zz + yy * yy + xx * xx <= r * r
    for z, y, x in centres:
        sl = vol[z - r:z + r + 1, y - r:y + r + 1, x - r:x + r + 1]
        sl[ball] = rng.integers(190, 230, int(ball.sum())).astype(np.uint8)
    os.makedirs(os.path.join(out, sub), exist_ok=True)
    for i in range(f):
        data = f"P5\n{w} {h}\n255\n".encode() + vol[i].tobytes()
        write_bytes(os.path.join(out, sub, f"frame_{i:04d}.pgm"), data)
    return len(centres)


def gen_raster(rng, out, cfg):
    f, h, w, r = cfg["frames"], cfg["h"], cfg["w"], cfg["radius"]
    n = blob_stack(rng, f, h, w, r, cfg["blobs"], out, "frames")
    # warm-up stack: same chunking and code paths, a tenth of the pixels
    blob_stack(rng, 2 * cfg["nframes"], 64, 64, r, 4, out, "warmup")
    return {"blobs": n, "frames": f, "h": h, "w": w,
            "nframes": cfg["nframes"], "pixels": f * h * w}


# --------------------------------------------------------- interactive_mix
def gen_tables(rng, out, cfg):
    """TPC-H-shaped facts with the columns the Relational month/bucketed
    keys read; ship dates span 1992-1998 (84 months)."""
    no, nc = cfg["orders"], cfg["customers"]
    day0 = dt.datetime(1992, 1, 1)
    span = (dt.datetime(1998, 12, 1) - day0).total_seconds()
    odate = rng.uniform(0, span * 0.95, no)
    lpo = cfg["lines_per_order"]
    lkey = np.repeat(np.arange(1, no + 1), lpo)
    ship = np.repeat(odate, lpo) + rng.uniform(86400, 120 * 86400, no * lpo)
    ship = np.minimum(ship, span)
    us = lambda secs: (np.int64(day0.timestamp() * 1e6) + (secs * 1e6).astype(np.int64))
    n = no * lpo
    write_parquet(pa.table({
        "l_orderkey": pa.array(lkey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(1, 2000, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 100, n).astype(np.int64)),
        "l_linenumber": pa.array(np.tile(np.arange(1, lpo + 1), no).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(us(ship), type=pa.timestamp("us")),
    }), os.path.join(out, "lineitem.parquet"))
    write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(1, no + 1).astype(np.int64)),
        "o_custkey": pa.array(rng.integers(1, nc + 1, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, no), 2)),
        "o_orderdate": pa.array(us(odate), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], no)),
    }), os.path.join(out, "orders.parquet"))
    write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1).astype(np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, nc + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)),
    }), os.path.join(out, "customer.parquet"))


OLAP_KEYS = ["q1_partitioned", "date_trunc_agg_partitioned", "time_slice_quarter",
             "time_slice_day", "q3_bucketed"]


def gen_interactive(rng, out, cfg):
    gen_tables(rng, out, cfg)
    words = vocab(rng)
    nd = cfg["corpus_docs"]
    corpus = [good_doc(rng, words) for _ in range(nd)]
    write_parquet(pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array([" ".join(t) for t in corpus]),
        "lang": pa.array(rng.choice(LANGS, nd)),
        "source": pa.array(rng.choice(SOURCES, nd)),
        "n_chars": pa.array(np.array([len(" ".join(t)) for t in corpus], dtype=np.int64)),
    }), os.path.join(out, "documents.parquet"))
    nv, dim = cfg["vectors"], cfg["dim"]
    topics = rng.integers(0, 10, nv)
    topics[:10] = np.arange(10)
    vecs = topic_embeddings(rng, topics, dim, weight=0.8)
    write_parquet(pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(topics.astype(np.int32)),
    }), os.path.join(out, "embeddings.parquet"))

    # per-client closed-loop request sequences. Appends are followed by a
    # probe that must return what was appended.
    pb, ab = cfg["probe_batch"], cfg["append_batch"]
    probe_rows, app_docs, app_vecs, q_rows = [], [], [], []
    next_doc, next_vec = 1_000_000, 1_000_000
    clients = []
    for c in range(2):
        seq = []
        while len(seq) < cfg["requests"]:
            x = rng.random()
            if x < 0.40:
                seq.append({"op": "olap", "key": OLAP_KEYS[int(rng.integers(len(OLAP_KEYS)))]})
            elif x < 0.65:
                qid = len(q_rows)
                base = int(rng.integers(nv))
                q = vecs[base] + 0.05 * rng.standard_normal(dim)
                q_rows.append((qid, q / np.linalg.norm(q)))
                seq.append({"op": "ann", "query": qid})
            elif x < 0.90:
                batch = len(probe_rows)
                dups = sorted(int(d) for d in rng.choice(nd, pb // 2, replace=False))
                rows = [(1 << 40) + batch * 100 + i for i in range(pb)]
                texts = [near_copy(rng, corpus[d], words) for d in dups]
                texts += [good_doc(rng, words) for _ in range(pb - len(dups))]
                probe_rows.append((batch, rows, texts, rows[:len(dups)]))
                seq.append({"op": "neardup", "batch": batch})
            else:
                if rng.random() < 0.5:
                    ids = list(range(next_doc, next_doc + ab))
                    next_doc += ab
                    texts = [good_doc(rng, words) for _ in ids]
                    app_docs.append((len(app_docs), ids, texts))
                    seq.append({"op": "append_docs", "batch": len(app_docs) - 1})
                    # the next probe carries a near copy of an appended doc
                    batch = len(probe_rows)
                    rows = [(1 << 40) + batch * 100 + i for i in range(pb)]
                    ptexts = [near_copy(rng, texts[0], words)] + \
                        [good_doc(rng, words) for _ in range(pb - 1)]
                    probe_rows.append((batch, rows, ptexts, rows[:1]))
                    seq.append({"op": "neardup", "batch": batch})
                else:
                    ids = list(range(next_vec, next_vec + ab))
                    next_vec += ab
                    t = rng.integers(0, 10, ab)
                    cent = vecs[:10][t]
                    v = 0.8 * cent + rng.standard_normal((ab, dim)) / np.sqrt(dim)
                    v /= np.linalg.norm(v, axis=1, keepdims=True)
                    app_vecs.append((len(app_vecs), ids, v))
                    seq.append({"op": "append_vecs", "batch": len(app_vecs) - 1})
                    qid = len(q_rows)
                    q_rows.append((qid, v[0]))
                    seq.append({"op": "ann", "query": qid, "expect": ids[0]})
        clients.append(seq)
    write_parquet(pa.table({
        "batch": pa.array([b for b, r, _, _ in probe_rows for _ in r], type=pa.int64()),
        "doc_id": pa.array([i for _, r, _, _ in probe_rows for i in r], type=pa.int64()),
        "text": pa.array([" ".join(t) for _, _, ts, _ in probe_rows for t in ts]),
        "source": pa.array(["probe"] * sum(len(r) for _, r, _, _ in probe_rows)),
    }), os.path.join(out, "probe_docs.parquet"))
    write_parquet(pa.table({
        "batch": pa.array([b for b, ids, _ in app_docs for _ in ids], type=pa.int64()),
        "doc_id": pa.array([i for _, ids, _ in app_docs for i in ids], type=pa.int64()),
        "text": pa.array([" ".join(t) for _, _, ts in app_docs for t in ts]),
        "source": pa.array(["append"] * (len(app_docs) * ab)),
    }), os.path.join(out, "append_docs.parquet"))
    write_parquet(pa.table({
        "batch": pa.array([b for b, ids, _ in app_vecs for _ in ids], type=pa.int64()),
        "vec_id": pa.array([i for _, ids, _ in app_vecs for i in ids], type=pa.int64()),
        "embedding": pa.array([row.astype(np.float32) for _, _, v in app_vecs for row in v],
                              type=pa.list_(pa.float32())),
    }), os.path.join(out, "append_vecs.parquet"))
    write_parquet(pa.table({
        "qid": pa.array([q for q, _ in q_rows], type=pa.int64()),
        "qv": pa.array([v.astype(np.float64) for _, v in q_rows], type=pa.list_(pa.float64())),
    }), os.path.join(out, "queries.parquet"))
    write_json(os.path.join(out, "requests.json"), clients)
    return {"neardup_expected": {str(b): d for b, _, _, d in probe_rows},
            "olap_keys": OLAP_KEYS, "vectors": nv, "corpus_docs": nd,
            "lineitem_rows": cfg["orders"] * cfg["lines_per_order"]}


# ----------------------------------------------------------- stream_ingest
def gen_stream(rng, out, cfg):
    words = vocab(rng)
    per = cfg["docs_per_shard"]
    n = cfg["shards"] * per
    # every shard holds the same mix (shuffled), so runs on different
    # seeds do the same amount of work: near copies of earlier docs that
    # passed the gate, docs too short for it, and fresh docs
    n_near = round(cfg["near_share"] * per)
    n_low = round(cfg["low_share"] * per)
    kinds = [k for _ in range(cfg["shards"]) for k in rng.permutation(
        ["near"] * n_near + ["low"] * n_low + ["fresh"] * (per - n_near - n_low))]
    texts, drop, low, kept = [], [], [], []
    for i, kind in enumerate(kinds):
        if kind == "near" and kept:
            texts.append(near_copy(rng, texts[kept[int(rng.integers(len(kept)))]], words))
        else:
            texts.append(good_doc(rng, words, 15, 40) if kind == "low" else good_doc(rng, words))
            if kind != "low":
                kept.append(i)
        drop.append(kind == "near" and len(texts) - 1 not in kept)
        low.append(kind == "low")
    os.makedirs(os.path.join(out, "shards"), exist_ok=True)
    src = rng.integers(0, len(SOURCES), n)
    for s in range(cfg["shards"]):
        recs = [(uri_of(i, "en", SOURCES[src[i]]), " ".join(texts[i]))
                for i in range(s * per, (s + 1) * per)]
        write_bytes(os.path.join(out, "shards", f"shard_{s:05d}.warc.wet.gz"), wet_gz(recs))
    shard = lambda flags: [int(sum(flags[s * per:(s + 1) * per])) for s in range(cfg["shards"])]
    return {"docs": n, "docs_per_shard": per, "interval_ms": cfg["interval_ms"],
            "due_ms": [s * cfg["interval_ms"] for s in range(cfg["shards"])],
            "shard_dropped": shard(drop), "shard_low": shard(low)}


GEN = {"curation_batch": (1, gen_curation), "raster_batch": (2, gen_raster),
       "interactive_mix": (3, gen_interactive), "stream_ingest": (4, gen_stream)}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into `out` (atomically: a
    partial directory never looks complete)."""
    tag, fn = GEN[workload]
    tmp = out + ".partial"
    if os.path.isdir(tmp):
        import shutil
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, tag])
    cfg = SIZES[workload]
    expected = fn(rng, tmp, cfg)
    expected["sizes"] = cfg
    write_json(os.path.join(tmp, "expected.json"), expected)
    os.rename(tmp, out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if os.path.isdir(a.out):
        print(f"exists: {a.out}", file=sys.stderr)
        return
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
