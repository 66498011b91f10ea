"""Seeded input generator for the graft benchmark.

Every input a workload reads is derived from one integer seed with
numpy's PCG64 generator, so the same seed gives byte-identical parquet
files and a different seed gives different files. The tables follow
the shape of the engine's sf0.1 testdata (TPC-H-like star schema, an
events stream, a text corpus and an embedding table), which is what the
catalog queries and their DuckDB oracles expect.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch sort value "
         "hash filter big data dup part column order scan a slow agg key window table "
         "merge vector join").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DIM = 64

# sf0.1 row counts
N_CUSTOMER, N_SUPPLIER, N_PART = 15000, 1000, 20000
N_ORDERS, N_LINEITEM, N_EVENTS = 150000, 600000, 100000
N_DOCS, N_VECS = 5000, 2000

# corpus_curate: word-tagged replicas of the sf0.1 documents/embeddings
# (the replica factor; 10 would be the sf1 point) and the planted rates
# (shares of a replica's docs/vectors)
CURATE_FACTOR = 1
CURATE_DOCS, CURATE_VECS = 2000, 1000
PLANT_EXACT, PLANT_NEAR, PLANT_CONTAINED, PLANT_VEC = 0.02, 0.05, 0.05, 0.05
CURATE_QUERIES = 40  # IVF probe queries per replica

# daily_cycle: bootstrap corpus size (the first docs of the sf0.1
# documents), days, docs per drop, and the drop mix
DAILY_DOCS, DAYS, DROP_DOCS = 500, 2, 100
DROP_EXACT, DROP_NEAR = 0.2, 0.2

PLANT_ID0 = 50_000_000
LAKE_RANGES = 4  # distinct range windows per run

US_PER_DAY = 86_400_000_000


def _ts(base, us):
    return pa.array(np.datetime64(base, "us") + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _vectors(rng, labels, centers):
    v = centers[labels] + rng.normal(0.0, 0.12, (len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vec_column(v):
    return pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), DIM).cast(pa.list_(pa.float32()))


def documents(rng, n=N_DOCS):
    texts = _texts(rng, n)
    # a few verbatim duplicates, as a real crawl has
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[(i + 1) % n]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n=N_VECS):
    centers = rng.normal(0.0, 1.0, (10, DIM)) / np.sqrt(DIM) * 1.2
    labels = rng.integers(0, 10, n).astype(np.int32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": _vec_column(_vectors(rng, labels, centers)),
        "label": labels,
    })


def lake_tables(rng):
    """The ten sf0.1 tables the catalog queries read."""
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)})
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    names = [f"{a} {n}" for a in ADJ for n in NOUN]
    t["part"] = pa.table({
        "p_partkey": pk, "p_name": rng.choice(names, N_PART),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PTYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    odays = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], N_ORDERS),
        "o_totalprice": money(1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts("1995-01-01", odays * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)})
    lok = rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64)
    ship = odays[lok] + rng.integers(1, 122, N_LINEITEM)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
        "l_shipdate": _ts("1995-01-01", ship * US_PER_DAY)})
    ets = np.sort(rng.integers(0, 30 * US_PER_DAY, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts("2024-01-01", ets),
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    t["documents"] = documents(rng)
    t["embeddings"] = embeddings(rng)
    return t


def lake_requests(rng, names, n_ranges):
    """The request sequence: every named catalog entry once, in the given
    order, with a range read after every len(names) // n_ranges entries.
    The seed picks the n_ranges distinct windows (1-7 days of the 30-day
    events lake). The order is the same for every seed: a request's
    first call pays compile costs that depend on which calls ran before
    it, so a seed-shuffled order made a run's median swing with the order
    rather than with the program."""
    windows = []
    while len(windows) < n_ranges:
        span = int(rng.integers(1, 8))
        start = np.datetime64("2024-01-01") + int(rng.integers(0, 31 - span))
        if (str(start), str(start + span - 1)) not in windows:
            windows.append((str(start), str(start + span - 1)))
    per = max(1, len(names) // n_ranges)
    out = []
    for i, n in enumerate(names):
        out.append({"kind": "entry", "name": n, "key": n})
        if (i + 1) % per == 0 and (i + 1) // per <= n_ranges:
            a, b = windows[(i + 1) // per - 1]
            out.append({"kind": "range", "start": a, "end": b, "key": f"range_{a}_{b}"})
    return out


def _near(rng, words):
    """A near copy: one word swapped and a short tail appended, so the
    3-gram Jaccard with the source stays high (> 0.8 at >= 30 words)."""
    w = list(words)
    w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w + ["graft", "near", "copy"])


def curate_replica(rng, k, base_texts, base_vecs, base_labels):
    """Replica k of the sf0.1 documents and embeddings for corpus_curate
    (words tagged `~k` and vectors perturbed for k >= 1, so no shingle or
    near-duplicate crosses replicas), plus planted exact, near and
    contained copies and near-duplicate vectors, whose pairs are the
    ground truth. Returns (documents, embeddings, truth)."""
    n_docs, n_vecs = len(base_texts), len(base_vecs)
    ids = [int(i) + k * 1_000_000 for i in range(n_docs)]
    texts = list(base_texts) if k == 0 else [" ".join(w + f"~{k}" for w in t.split(" ")) for t in base_texts]
    by_id = dict(zip(ids, texts))
    long_ids = [i for i in ids if len(by_id[i].split(" ")) >= 40]
    truth = {"exact": [], "near": [], "contained": [], "vector": []}
    nid = PLANT_ID0 + k * 1_000_000
    for kind, rate in (("exact", PLANT_EXACT), ("near", PLANT_NEAR), ("contained", PLANT_CONTAINED)):
        for src in rng.choice(ids if kind == "exact" else long_ids, int(n_docs * rate), replace=False):
            w = by_id[int(src)].split(" ")
            t = {"exact": by_id[int(src)], "near": None, "contained": " ".join(w[: len(w) // 2])}[kind]
            ids.append(nid)
            texts.append(_near(rng, w) if kind == "near" else t)
            truth[kind].append([int(src), nid])
            nid += 1
    docs = pa.table({
        "doc_id": np.array(ids, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, len(ids), p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    v = base_vecs if k == 0 else base_vecs + rng.normal(0.0, 0.06, base_vecs.shape)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    vids = [int(i) + k * 1_000_000 for i in range(n_vecs)]
    src = rng.choice(n_vecs, int(n_vecs * PLANT_VEC), replace=False)
    dup = v[src] + rng.normal(0.0, 0.004, (len(src), DIM))
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    dup_ids = [PLANT_ID0 + k * 1_000_000 + j for j in range(len(src))]
    truth["vector"] = [[vids[int(r)], d] for r, d in zip(src, dup_ids)]
    emb = pa.table({"vec_id": np.array(vids + dup_ids, dtype=np.int64),
                    "embedding": _vec_column(np.concatenate([v, dup]).astype(np.float32)),
                    "label": np.concatenate([base_labels, base_labels[src]]).astype(np.int32)})
    truth["queries"] = sorted(int(vids[int(q)]) for q in rng.choice(n_vecs, CURATE_QUERIES, replace=False))
    return docs, emb, truth


def daily_inputs(rng):
    """The bootstrap corpus (sf0.1 documents) and DAYS drops. Each drop
    mixes exact copies and near copies of docs that arrived earlier with
    novel docs carrying day-tagged words."""
    corpus = documents(rng).select(["doc_id", "text"]).slice(0, DAILY_DOCS)
    seen = corpus.column("text").to_pylist()
    drops = []
    for d in range(1, DAYS + 1):
        n_ex, n_near = int(DROP_DOCS * DROP_EXACT), int(DROP_DOCS * DROP_NEAR)
        texts = []
        for i in rng.choice(len(seen), n_ex):
            texts.append(seen[int(i)])
        long_seen = [t for t in seen if t.count(" ") >= 39]
        for i in rng.choice(len(long_seen), n_near):
            texts.append(_near(rng, long_seen[int(i)].split(" ")))
        for t in _texts(rng, DROP_DOCS - n_ex - n_near, 20, 80):
            w = t.split(" ")
            for j in rng.choice(len(w), len(w) // 2, replace=False):
                w[int(j)] = f"d{d}w{int(rng.integers(0, 5000))}"
            texts.append(" ".join(w))
        order = rng.permutation(len(texts))
        texts = [texts[int(i)] for i in order]
        seen.extend(texts)
        drops.append(pa.table({
            "doc_id": np.arange(len(texts), dtype=np.int64) + d * 10_000_000,
            "text": texts}))
    return corpus, drops


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def generate(workload, seed, out, entry_names=()):
    """Write the workload's inputs under `out` (atomically: a finished
    directory holds a `_DONE` marker) and return its manifest."""
    rng = np.random.default_rng(seed)
    manifest = {"workload": workload, "seed": seed}
    if workload == "lake_serve":
        for name, t in lake_tables(rng).items():
            _write(t, f"{out}/tables/{name}.parquet")
        manifest["requests"] = lake_requests(rng, list(entry_names), n_ranges=LAKE_RANGES)
    elif workload == "corpus_curate":
        base_docs, base_vecs = documents(rng, CURATE_DOCS), embeddings(rng, CURATE_VECS)
        texts = base_docs.column("text").to_pylist()
        vecs = np.stack(base_vecs.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        labels = base_vecs.column("label").to_numpy()
        parts = [curate_replica(rng, k, texts, vecs, labels) for k in range(CURATE_FACTOR)]
        _write(pa.concat_tables([p[0] for p in parts]), f"{out}/documents.parquet")
        _write(pa.concat_tables([p[1] for p in parts]), f"{out}/embeddings.parquet")
        manifest["truth"] = {k: [x for p in parts for x in p[2][k]] for k in parts[0][2]}
        manifest["docs"] = sum(p[0].num_rows for p in parts)
    elif workload == "daily_cycle":
        corpus, drops = daily_inputs(rng)
        _write(corpus, f"{out}/corpus.parquet")
        for d, t in enumerate(drops, start=1):
            _write(t, f"{out}/drops/day{d:02d}.parquet")
        manifest["drop_docs"] = [t.num_rows for t in drops]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    manifest["inputs_sha256"] = inputs_hash(out)
    return manifest


def inputs_hash(out):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            if f.startswith("_"):
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps({k: v for k, v in generate(w, s, o).items() if k in ("workload", "seed", "inputs_sha256")}))
