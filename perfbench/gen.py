"""Seeded input generator for the perfbench workloads.

Everything a run feeds the program comes from here and from the seed
alone: the fixture tables (same schemas and value domains as the repo's
synthetic sf fixtures), the interactive request sequence, the corpus
sample and the ingest batches. Key columns are shifted by a per-seed
offset of whole 1e8 strides, the replication rule the sf1 fixture
synthesis uses, so two seeds never share a key.

    python3 perfbench/gen.py <out_dir> <seed> [workload [seconds]]

writes the inputs (of one workload, or of all) plus `manifest.json`
(sha256 per file). The request sequence and the ingest batches are sized
from the window length (`seconds`): enough for a window of operations
several times faster than today's, and no more. The same seed and window
give byte-identical files.
"""
import math
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Table sizes: the sf0.01 fixture's, so per-request cost stays dominated
# by per-job overhead, planning and dialect lowering (the regime the
# interactive mix measures) while a run still fits its time box.
SCALE = 0.01
N_CUSTOMER = int(150_000 * SCALE)
N_SUPPLIER = int(10_000 * SCALE)
N_PART = int(200_000 * SCALE)
N_ORDERS = int(1_500_000 * SCALE)
N_EVENTS = int(1_000_000 * SCALE)
N_USERS = int(15_000 * SCALE)
N_DOCUMENTS = int(50_000 * SCALE)
N_EMBEDDINGS = int(20_000 * SCALE)
DIM = 64

# corpus_pipeline: one document + embedding sample per run, plus a small
# one of the same shape that warms every stage up
CORPUS_DOCS = 1200
CORPUS_EXACT_DUPS = 40       # planted exact replicas (must always collapse)
CORPUS_NEAR_DUPS = 40        # planted near replicas (one appended token)
CORPUS_VEC_DUPS = 30         # planted identical embeddings (semdedup)
CORPUS_WARMUP_SHARE = 10     # the warm-up sample is 1/10 of the run's

# ingest_mixed: batch 0 warms up, the next INGEST_PRELOAD batches are
# committed in set-up, then one batch per step
INGEST_PRELOAD = 2
INGEST_MIN_STEP_S = 1.0      # a step takes ~7 s today on 4 cores
INGEST_EVENTS_PER_STEP = 2000
INGEST_DOCS_PER_STEP = 150
INGEST_UPSERT_EVERY = 2      # every k-th step, the first included, also compacts and upserts
INGEST_UPSERT_ROWS = 200
INGEST_STREAM_ROWS = 500     # frames fed to the streaming leg per step

KEY_STRIDE = 100_000_000

# interactive_mix: four request classes over read-only named queries plus
# two remote scans the benchmark builds over RemoteTableServer.
RELATIONAL = ["q04_join_agg", "q11_window_rank"]
TEMPORAL = ["q22_asof_join", "q60_kerf_asof"]
DIALECT = ["q142_kerf_order", "q162_kerf_fby"]
REMOTE = ["remote_federated", "remote_agg"]
REQUEST_CLASSES = {"relational": RELATIONAL, "temporal": TEMPORAL,
                   "dialect": DIALECT, "remote": REMOTE}
REQUEST_MIN_S = 0.05         # a request takes ~0.5 s today on 4 cores
DEFAULT_SECONDS = 10

WORDS = ("a the key agg row scan slow fast table value part hash line data "
         "column window spark order join small big batch merge filter group "
         "query sort stream customer vector").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "black", "white", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Day-granular timestamps between two ISO dates (µs precision)."""
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _texts(rng, n):
    lens = rng.integers(8, 90, n)
    return [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in lens]


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _docs_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _vec_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events_table(ids, ts_us, users, types, values, props):
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def tables(rng, shift, out):
    os.makedirs(out, exist_ok=True)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    ck = np.arange(N_CUSTOMER, dtype=np.int64) + shift
    customer = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER)),
    })
    _write(customer, f"{out}/customer.parquet")
    # the remote sites: customer split by key parity (the federated folio)
    # and customer in four fragments (the pushed-down remote aggregate)
    even = pa.array(ck % 2 == 0)
    for site, t in [("site_a", customer.filter(even)),
                    ("site_b", customer.filter(pc.invert(even)))]:
        os.makedirs(f"{out}/remote/{site}", exist_ok=True)
        _write(t, f"{out}/remote/{site}/part-0.parquet")
    os.makedirs(f"{out}/remote/cust", exist_ok=True)
    step = -(-N_CUSTOMER // 4)
    for i in range(4):
        _write(customer.slice(i * step, step), f"{out}/remote/cust/part-{i}.parquet")
    sk = np.arange(N_SUPPLIER, dtype=np.int64) + shift
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    }), f"{out}/supplier.parquet")
    pk = np.arange(N_PART, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk + shift,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")
    ok = np.arange(N_ORDERS, dtype=np.int64) + shift
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS) + shift,
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS)),
    }), f"{out}/orders.parquet")
    # TPC-H lines: 1-7 per order, numbered 1..n, so (l_orderkey,
    # l_linenumber) is a key and every ORDER BY over it is total
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    perm = rng.permutation(n_li)
    l_orderkey = (np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines) + shift)[perm]
    l_linenumber = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)[perm]
    _write(pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, N_PART, n_li) + shift,
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li) + shift,
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(_days(rng, "1995-01-01", "2001-12-31", n_li),
                               pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, N_EVENTS))
    _write(_events_table(np.arange(N_EVENTS, dtype=np.int64) + shift, ts,
                         rng.integers(0, N_USERS, N_EVENTS) + shift,
                         rng.choice(EVENT_TYPES, N_EVENTS),
                         _money(rng, 0.0, 100.0, N_EVENTS),
                         [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
           f"{out}/events.parquet")
    texts = _texts(rng, N_DOCUMENTS)
    # planted near-duplicates, as in the fixture: a few docs re-appear
    # with one extra token
    for i in range(0, N_DOCUMENTS - 1, 300):
        texts[i + 1] = texts[i] + " dup"
    _write(_docs_table(np.arange(N_DOCUMENTS, dtype=np.int64) + shift, texts,
                       rng.choice(LANGS, N_DOCUMENTS, p=LANG_P),
                       [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)]),
           f"{out}/documents.parquet")
    _write(_vec_table(np.arange(N_EMBEDDINGS, dtype=np.int64) + shift,
                      _unit_vectors(rng, N_EMBEDDINGS),
                      rng.integers(0, 10, N_EMBEDDINGS)),
           f"{out}/embeddings.parquet")


def requests(rng, seconds):
    """Closed-loop request sequence: each round is a seeded permutation of
    the whole mix, so every run covers every request class evenly."""
    names = [n for ns in REQUEST_CLASSES.values() for n in ns]
    seq = []
    for _ in range(math.ceil(seconds / (REQUEST_MIN_S * len(names)))):
        seq.extend(names[i] for i in rng.permutation(len(names)))
    return seq


def _dirty(rng, text):
    """Raw web text: markup, a URL, and now and then PII to redact."""
    r = rng.random()
    if r < 0.1:
        text = f"{text} contact user{rng.integers(1000)}@example.com"
    elif r < 0.15:
        text = f"{text} from 10.{rng.integers(256)}.{rng.integers(256)}.7"
    return f"<p>{text}</p> https://example.org/{rng.integers(10**6)}"


def corpus(rng, shift, out, share=1):
    """A document + embedding sample with planted duplicates; `share`
    divides every size (the warm-up sample)."""
    n_docs, n_exact, n_near, n_vec = (x // share for x in (
        CORPUS_DOCS, CORPUS_EXACT_DUPS, CORPUS_NEAR_DUPS, CORPUS_VEC_DUPS))
    os.makedirs(out, exist_ok=True)
    base = _texts(rng, n_docs)
    ids = list(range(n_docs))
    texts = list(base)
    exact = rng.choice(n_docs, n_exact, replace=False)
    near = rng.choice(np.setdiff1d(np.arange(n_docs), exact),
                      n_near, replace=False)
    groups = []
    for j, i in enumerate(exact):
        ids.append(n_docs + j)
        texts.append(base[i])
        groups.append([int(i) + shift, n_docs + j + shift])
    for j, i in enumerate(near):
        ids.append(n_docs + n_exact + j)
        texts.append(base[i] + " dup")
    n = len(ids)
    # exact replicas repeat the raw text; cleaning strips the markup and URL
    raw = [_dirty(rng, t) for t in texts[:n_docs]]
    raw += [raw[i] for i in exact]
    raw += [_dirty(rng, t) for t in texts[n_docs + n_exact:]]
    _write(_docs_table(np.array(ids, dtype=np.int64) + shift, raw,
                       rng.choice(LANGS, n, p=LANG_P),
                       [f"src{s}" for s in rng.integers(0, 20, n)]),
           f"{out}/docs.parquet")
    vecs = _unit_vectors(rng, n)
    vdup = rng.choice(n_docs, n_vec, replace=False)
    vec_groups = []
    for j, i in enumerate(vdup):
        vecs[n - 1 - j] = vecs[i]
        vec_groups.append([int(i) + shift, ids[n - 1 - j] + shift])
    _write(_vec_table(np.array(ids, dtype=np.int64) + shift, vecs,
                      rng.integers(0, 10, n)), f"{out}/embeddings.parquet")
    return {"exact_dup_groups": groups, "vec_dup_groups": vec_groups, "docs": n}


def ingest(rng, shift, out, seconds):
    """Per batch: fresh events (new keys), fresh documents, stream frames;
    the warm-up batch and every k-th step also get an upsert of keys
    committed before it. Returns the batch plan."""
    os.makedirs(out, exist_ok=True)
    first = 1 + INGEST_PRELOAD
    steps = list(range(first, first + math.ceil(seconds / INGEST_MIN_STEP_S)))
    n_batches = steps[-1] + 2            # the last step probes one batch ahead
    upsert_at = {0} | {s for s in steps if (s - first) % INGEST_UPSERT_EVERY == 0}
    t0 = np.datetime64("2024-02-01", "us").astype("int64")
    next_id = shift + KEY_STRIDE // 2
    doc_id = shift + KEY_STRIDE // 4
    step_us = US_PER_DAY // 4
    for s in range(n_batches):
        n = INGEST_EVENTS_PER_STEP
        if s == 1:
            first_id = next_id           # the stores' keys start here
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        ts = np.sort(rng.integers(t0 + s * step_us, t0 + (s + 1) * step_us, n))
        _write(_events_table(ids, ts, rng.integers(0, N_USERS, n) + shift,
                             rng.choice(EVENT_TYPES, n), _money(rng, 0.0, 100.0, n),
                             [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
               f"{out}/events_{s:04d}.parquet")
        texts = _texts(rng, INGEST_DOCS_PER_STEP)
        # a few docs repeat the previous batch's text, so the probe finds hits
        if s > 0:
            for i in range(0, INGEST_DOCS_PER_STEP, 25):
                texts[i] = prev_texts[i + 1]
        prev_texts = texts
        ids = np.arange(doc_id, doc_id + INGEST_DOCS_PER_STEP, dtype=np.int64)
        doc_id += INGEST_DOCS_PER_STEP
        _write(_docs_table(ids, texts, rng.choice(LANGS, len(texts), p=LANG_P),
                           [f"src{x}" for x in rng.integers(0, 20, len(texts))]),
               f"{out}/docs_{s:04d}.parquet")
        if s in upsert_at:
            # corrections: new values for keys committed up to this batch
            lo = next_id - n if s == 0 else first_id
            keys = np.sort(rng.choice(next_id - lo, INGEST_UPSERT_ROWS, replace=False)) + lo
            ts_u = t0 + (keys - lo) * (step_us // INGEST_EVENTS_PER_STEP)
            _write(_events_table(keys, ts_u, rng.integers(0, N_USERS, len(keys)) + shift,
                                 rng.choice(EVENT_TYPES, len(keys)),
                                 _money(rng, 100.0, 200.0, len(keys)),
                                 ['{"k": -1}'] * len(keys)),
                   f"{out}/upsert_{s:04d}.parquet")
        m = INGEST_STREAM_ROWS
        lines = [f"{u},{e},{v:.2f}" for u, e, v in
                 zip(rng.integers(0, N_USERS, m), rng.choice(EVENT_TYPES, m),
                     _money(rng, 0.0, 100.0, m))]
        with open(f"{out}/stream_{s:04d}.txt", "w") as f:
            f.write("\n".join(lines) + "\n")
    return {"warmup": 0, "preload": list(range(1, first)), "steps": steps,
            "upsert_every": INGEST_UPSERT_EVERY}


PARTS = {"interactive_mix": ["tables", "requests"], "corpus_pipeline": ["corpus"],
         "ingest_mixed": ["ingest"]}
PART_IDS = ("tables", "requests", "corpus", "ingest", "corpus_warmup")


def generate(out, seed, workload=None, seconds=DEFAULT_SECONDS):
    """Write the inputs of `workload` (all workloads when None) for a
    window of `seconds`. Each part
    draws from its own stream of the seed, so a part's bytes do not
    depend on which other parts are generated."""
    parts = PARTS[workload] if workload else [p for ps in PARTS.values() for p in ps]
    shift = (seed % 97) * KEY_STRIDE
    os.makedirs(out, exist_ok=True)
    meta = {"seed": seed, "key_shift": shift, "request_classes": REQUEST_CLASSES}

    def rng(part):
        return np.random.default_rng([seed, list(PART_IDS).index(part)])
    if "tables" in parts:
        tables(rng("tables"), shift, f"{out}/tables")
    if "requests" in parts:
        meta["requests"] = requests(rng("requests"), seconds)
    if "corpus" in parts:
        meta["corpus"] = corpus(rng("corpus"), shift, f"{out}/corpus")
        corpus(rng("corpus_warmup"), shift, f"{out}/corpus/warmup", CORPUS_WARMUP_SHARE)
    if "ingest" in parts:
        meta["ingest"] = ingest(rng("ingest"), shift, f"{out}/ingest", seconds)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    manifest = {}
    for root, _, files in sorted(os.walk(out)):
        for name in sorted(files):
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                manifest[os.path.relpath(p, out)] = hashlib.sha256(f.read()).hexdigest()
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3] if len(sys.argv) > 3 else None,
             float(sys.argv[4]) if len(sys.argv) > 4 else DEFAULT_SECONDS)
