#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py

run.py calls `generate` for each run. Everything the benchmarked program
reads is written here, from the seed alone: link files for `station`;
for `curation` two tranches of documents, 64-d embeddings and 64-bit
image hashes, the takedown ids, the parquet tables its declared queries
read (the repository's TPC-H-shaped test tables plus documents and
embeddings), the ANN query vectors, the unseen near-dup probe documents
and the request order. `traffic.json` records the traffic dimensions
used; `truth.json` records what was planted, so the run can check the
program's verdicts against it.

Run as a script, it checks itself: it generates every workload twice
with one seed and once with another, and exits non-zero unless the
first two are byte-identical and the third differs.
"""
import datetime as dt
import hashlib
import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic dimensions. Each comes from a figure the repository records,
# cited beside it; the few it records nothing for are marked "chosen",
# with the reason.
STATION = dict(
    # one link file is one run of the reference's cron job, which reads
    # 11 URLs from 19 lines (BASELINE.md: "workload size", links.txt:5-23)
    links_per_file=11, other_lines_per_file=8,
    # chosen: how those 8 other lines split into comments and blank lines
    # is not recorded; half each
    comment_lines=4,
    # FIXTURES.md A1: a link file carries a duplicate URL and a
    # whitespace-padded URL
    within_file_dups=1, padded_urls=1,
    # chosen: the reference re-reads all of links.txt on every run, so a
    # new file repeats URLs published before; 2 of its 11
    cross_file_dups=2,
    # chosen: the bootstrap file, 4 warm-up files and seven rounds of 5
    # (StationWorkload), more than a run of --seconds 5 uses
    increments=41)
CURATION = dict(
    # FIXTURES.md B (documents, embeddings at sf0.001): the deployment's
    # corpus is 500 documents with 64-d embeddings labelled 0..9
    docs=500, dim=64, labels=10,
    # chosen: the last 100 of them are the timed tranche, the rest the
    # bootstrap, so the timed commit probes a standing store four times
    # its size
    tranche_docs=100,
    # measured on that documents table: word salad over the 31 words of
    # VOCAB, 10 to 99 words a document, uniform
    min_words=10, max_words=99,
    # chosen (no recorded figure): planted shares of the timed tranche,
    # about ten of each kind so the checks and dedup_recall have samples
    exact_dup_share=0.10, near_dup_share=0.10, within_tranche_dup_share=0.05,
    # chosen: a small takedown, the ANN batch and the probe pool
    takedowns=6, ann_queries=200, probe_docs=40,
    # FIXTURES.md B row counts at sf0.001 for the declared queries'
    # tables; 15 distinct users in events, measured on that table
    events=1000, event_users=15, customers=150, orders=1500,
    lineitems=6000, parts=200, suppliers=10,
    # chosen: one request per kind in a round, in one fixed order
    rounds=64,
    mix={"serveAnn": 1, "searchEmbeddings": 1, "probeNearDupIndex": 1,
         "a10_asof_native": 1, "a13_range_join_native": 1,
         "x74_hll_distinct": 1, "x75_bloom_prefilter": 1,
         "flagship_station": 1, "x12_tfidf": 1, "x90_bm25": 1})

# The vocabulary of the deployment's documents table (FIXTURES.md B,
# sf0.001), used uniformly as there. It holds x90_bm25's query words.
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _text(rng, lo, hi):
    n = int(rng.integers(lo, hi + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n))


def _near(rng, text):
    """One word replaced by a word outside VOCAB: the word-bigram Jaccard
    to the source stays above the default 0.6 threshold."""
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    words[i] = VOCAB[int(rng.integers(0, len(VOCAB)))] + "x"
    return " ".join(words)


def _unit(v):
    return v / np.linalg.norm(v)


def station(rng, out):
    d = STATION
    os.makedirs(f"{out}/increments")
    seen = []
    for f in range(d["increments"]):
        fresh = d["links_per_file"] - d["within_file_dups"] - (d["cross_file_dups"] if seen else 0)
        urls = [_url(rng) for _ in range(fresh)]
        lines = list(urls)
        lines += [urls[int(i)] for i in rng.integers(0, fresh, d["within_file_dups"])]
        if seen:
            lines += [seen[int(i)] for i in rng.choice(len(seen), d["cross_file_dups"],
                                                       replace=False)]
        # surrounding whitespace exercises the trim in parsing
        for i in range(d["padded_urls"]):
            lines[i] = f"  {lines[i]} "
        lines += [f"# playlist note {int(rng.integers(0, 10**6))}"
                  for _ in range(d["comment_lines"])]
        lines += ["   " if rng.random() < 0.5 else ""
                  for _ in range(d["other_lines_per_file"] - d["comment_lines"])]
        seen.extend(urls)
        with open(f"{out}/increments/{f:05d}.txt", "w") as fh:
            fh.write("\n".join(lines[int(i)] for i in rng.permutation(len(lines))) + "\n")
    return dict(d), {}


def _url(rng):
    alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
    vid = "".join(alphabet[i] for i in rng.integers(0, len(alphabet), size=11))
    return f"https://www.youtube.com/watch?v={vid}"


def corpus(rng, out):
    """Tranche 0 (the bootstrap corpus) and tranche 1 (the timed commit).

    Embeddings follow the deployment's embeddings table (measured at
    sf0.001): unit vectors in no preferred direction, with labels drawn
    independently of them. Tranche 1 plants exact copies and edits of
    tranche-0 documents (cross-tranche repeats: the text loses one word,
    the embedding moves by a cosine of about 0.99, the image hash flips
    two bits) and exact copies within itself. The takedown is drawn from
    tranche 0 among documents that are no planted duplicate's original.
    """
    d = CURATION
    dim = d["dim"]
    bootstrap = d["docs"] - d["tranche_docs"]
    os.makedirs(f"{out}/tranches")
    docs = []  # (doc_id, text, emb, hash, label)
    protected, planted_exact, planted_near = set(), [], []
    for t, n in enumerate((bootstrap, d["tranche_docs"])):
        earlier = len(docs)
        rows = []
        for _ in range(n):
            doc_id = len(docs) + len(rows) + 1
            u = rng.random()
            if t > 0 and u < d["exact_dup_share"]:
                src = docs[int(rng.integers(0, earlier))]
                protected.add(src[0])
                planted_exact.append(doc_id)
                rows.append((doc_id,) + src[1:])
            elif t > 0 and u < d["exact_dup_share"] + d["near_dup_share"]:
                src = docs[int(rng.integers(0, earlier))]
                protected.add(src[0])
                planted_near.append(doc_id)
                flip = (1 << int(rng.integers(0, 63))) | (1 << int(rng.integers(0, 63)))
                emb = _unit(src[2] + rng.normal(0.0, 0.02, size=dim))
                rows.append((doc_id, _near(rng, src[1]), emb, src[3] ^ flip, src[4]))
            elif t > 0 and rows and u < (d["exact_dup_share"] + d["near_dup_share"]
                               + d["within_tranche_dup_share"]):
                rows.append((doc_id,) + rows[int(rng.integers(0, len(rows)))][1:])
            else:
                h = int(rng.integers(-2**63, 2**63 - 1, dtype=np.int64))
                rows.append((doc_id, _text(rng, d["min_words"], d["max_words"]),
                             _unit(rng.normal(0.0, 1.0, size=dim)), h,
                             int(rng.integers(0, d["labels"]))))
        docs.extend(rows)
        _write_tranche(out, t, rows)
    pool = [r[0] for r in docs[:bootstrap] if r[0] not in protected]
    truth = {"planted_exact": planted_exact, "planted_near": planted_near,
             "takedowns": sorted(int(x) for x in rng.choice(
                 pool, size=d["takedowns"], replace=False))}
    return docs, truth


def _write_tranche(out, t, rows):
    ids = pa.array([r[0] for r in rows], pa.int64())
    _write_parquet(pa.table({"doc_id": ids,
                             "text": pa.array([r[1] for r in rows], pa.string())}),
                   f"{out}/tranches/t{t:04d}_docs.parquet")
    _write_parquet(pa.table({
        "vec_id": ids,
        "embedding": pa.array([np.asarray(r[2], np.float32).tolist() for r in rows],
                              pa.list_(pa.float32())),
        "label": pa.array([r[4] for r in rows], pa.int32())}),
        f"{out}/tranches/t{t:04d}_emb.parquet")
    _write_parquet(pa.table({"doc_id": ids,
                             "hash": pa.array([r[3] for r in rows], pa.int64())}),
                   f"{out}/tranches/t{t:04d}_img.parquet")


def curation(rng, out):
    s = CURATION
    docs, truth = corpus(rng, out)
    os.makedirs(f"{out}/sf")
    # documents.parquet is the deployment's corpus, so the declared text
    # kernels read the same documents the deployment curates
    # (value domains of lang and source as FIXTURES.md B records them)
    langs = ["de", "en", "es", "fr", "zh"]
    _write_parquet(pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": pa.array([r[1] for r in docs], pa.string()),
        "lang": pa.array([langs[int(rng.integers(0, 5))] for _ in docs], pa.string()),
        "source": pa.array([f"src{int(rng.integers(0, 20))}" for _ in docs], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in docs], pa.int64())}),
        f"{out}/sf/documents.parquet")
    _write_parquet(pa.table({
        "vec_id": pa.array([r[0] for r in docs], pa.int64()),
        "embedding": pa.array([np.asarray(r[2], np.float32).tolist() for r in docs],
                              pa.list_(pa.float32())),
        "label": pa.array([r[4] for r in docs], pa.int32())}),
        f"{out}/sf/embeddings.parquet")
    _tables(rng, s, f"{out}/sf")
    # ANN queries: fresh vectors near corpus vectors, at a cosine of about
    # 0.94 to them (chosen); ids far above every document id, so no query
    # matches itself
    qs = np.asarray([docs[int(i)][2] for i in rng.integers(0, len(docs), s["ann_queries"])])
    qs = qs + rng.normal(0.0, 0.35 / np.sqrt(s["dim"]), size=qs.shape)
    _write_parquet(pa.table({
        "vec_id": pa.array(np.arange(s["ann_queries"]) + 10**9, pa.int64()),
        "embedding": pa.array([np.asarray(q, np.float32).tolist() for q in qs],
                              pa.list_(pa.float32()))}), f"{out}/ann_queries.parquet")
    # unseen documents for the near-dup probe: half are edits of corpus
    # documents, half are fresh text
    probe = []
    for i in range(s["probe_docs"]):
        src = docs[int(rng.integers(0, len(docs)))]
        text = _near(rng, src[1]) if i % 2 == 0 else _text(
            rng, s["min_words"], s["max_words"])
        probe.append((2 * 10**9 + i, text))
    _write_parquet(pa.table({
        "doc_id": pa.array([p[0] for p in probe], pa.int64()),
        "text": pa.array([p[1] for p in probe], pa.string())}), f"{out}/probe_docs.parquet")
    # the request order: rounds of one request per unit of the mix's
    # weights, in one fixed order for every seed, so that which requests
    # run side by side does not change with the seed
    unit = [n for n in sorted(s["mix"]) for _ in range(s["mix"][n])]
    truth["round"] = len(unit)
    truth["requests"] = unit * s["rounds"]
    return dict(s), truth


def _tables(rng, s, out):
    """TPC-H-shaped tables with the columns and value ranges FIXTURES.md B
    records for the repository's test tables."""
    n_e = s["events"]
    types = ["click", "error", "purchase", "signup", "view"]
    base = dt.datetime(2024, 1, 1)
    _write_parquet(pa.table({
        "event_id": pa.array(np.arange(1, n_e + 1), pa.int64()),
        "ts": pa.array([base + dt.timedelta(seconds=int(x)) for x in
                        rng.integers(0, 30 * 86400, n_e)], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, s["event_users"] + 1, n_e), pa.int64()),
        "event_type": pa.array([types[i] for i in rng.integers(0, 5, n_e)], pa.string()),
        "value": pa.array(np.round(rng.uniform(0.0, 330.0, n_e), 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_e)],
                          pa.string())}), f"{out}/events.parquet")
    n_o = s["orders"]
    # orders fall in 1995-2001, before every event; distinct order dates
    # (chosen) keep every as-of match unique
    base = dt.datetime(1995, 1, 1)
    o_days = rng.choice(2404, size=n_o, replace=False)
    _write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(1, n_o + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, s["customers"] + 1, n_o), pa.int64()),
        "o_orderstatus": pa.array([["O", "F", "P"][i] for i in rng.integers(0, 3, n_o)],
                                  pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(100, 5000, n_o), 2), pa.float64()),
        "o_orderdate": pa.array([base + dt.timedelta(days=int(d)) for d in o_days],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([f"{i}-PRI" for i in rng.integers(1, 6, n_o)],
                                    pa.string())}), f"{out}/orders.parquet")
    n_l = s["lineitems"]
    _write_parquet(pa.table({
        "l_orderkey": pa.array(rng.integers(1, n_o + 1, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, s["parts"] + 1, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, s["suppliers"] + 1, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 9000, n_l), 2), pa.float64()),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_l), 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_l), 2), pa.float64()),
        "l_returnflag": pa.array([["R", "A", "N"][i] for i in rng.integers(0, 3, n_l)],
                                 pa.string()),
        "l_linestatus": pa.array([["O", "F"][i] for i in rng.integers(0, 2, n_l)],
                                 pa.string()),
        "l_shipdate": pa.array([base + dt.timedelta(days=int(x)) for x in
                                rng.integers(1, 2499, n_l)], pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    n_p = s["parts"]
    colors = ["almond", "azure", "blush", "coral", "ivory", "khaki", "linen", "plum"]
    _write_parquet(pa.table({
        "p_partkey": pa.array(np.arange(1, n_p + 1), pa.int64()),
        "p_name": pa.array([" ".join(colors[j] for j in rng.integers(0, 8, 2))
                            for _ in range(n_p)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(11, 56, n_p)], pa.string()),
        "p_type": pa.array(["STANDARD BRUSHED TIN"] * n_p, pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_p), 2), pa.float64())}),
        f"{out}/part.parquet")
    # the remaining TPC-H-shaped tables, so every declared query's oracle
    # finds the tables it names
    n_c, n_s = s["customers"], s["suppliers"]
    _write_parquet(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                           pa.string())}), f"{out}/region.parquet")
    _write_parquet(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}), f"{out}/nation.parquet")
    _write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(1, n_c + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_c + 1)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_c), 2), pa.float64()),
        "c_mktsegment": pa.array([["BUILDING", "AUTOMOBILE", "MACHINERY"][i]
                                  for i in rng.integers(0, 3, n_c)], pa.string())}),
        f"{out}/customer.parquet")
    _write_parquet(pa.table({
        "s_suppkey": pa.array(np.arange(1, n_s + 1), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_s + 1)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_s), 2), pa.float64())}),
        f"{out}/supplier.parquet")


WORKLOADS = {"station": station, "curation": curation}


def generate(workload, seed, out):
    """Writes the workload's inputs under `out`; returns the traffic dims."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    dims, truth = WORKLOADS[workload](rng, out)
    dims = dict(dims, workload=workload, seed=seed)
    with open(f"{out}/traffic.json", "w") as fh:
        json.dump(dims, fh, sort_keys=True)
    with open(f"{out}/truth.json", "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return dims


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def self_check(scratch):
    ok = True
    for w in sorted(WORKLOADS):
        digests = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            out = os.path.join(scratch, f"{w}-{tag}")
            generate(w, seed, out)
            digests.append(tree_digest(out))
        same, differ = digests[0] == digests[1], digests[0] != digests[2]
        ok &= same and differ
        print(f"{w}: seed 7 twice byte-identical={same}, seed 8 differs={differ}")
    return ok


def main():
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
    os.makedirs(root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=root) as scratch:
        sys.exit(0 if self_check(scratch) else 1)


if __name__ == "__main__":
    main()
