"""Seeded input generator for the benchmark workloads.

Every table is synthesized from `--seed` with the shapes of the
project's star-schema test data (TPC-H-like dims and facts, an
`events` stream, a word-salad `documents` corpus and unit-norm 64-dim
`embeddings`), then grown by the shard construction of
`tools/gen_sf1.py`:

 - ids are offset by a per-shard stride, so shards never collide;
 - document text is Caesar-rotated per shard (letters and digits), so
   every within-shard similarity relation is preserved exactly while
   cross-shard near-duplicates cannot arise by accident;
 - embeddings are cyclically dim-shifted per shard and labels offset
   per shard, so within-shard dot products are bit-identical while
   cross-shard cosines decorrelate.

The seed picks the per-shard rotations and shifts, a planted set of
cross-shard near-duplicates (the `tools/gen_sf1_planted.py` shapes:
exact, truncated and word-edited copies of documents, 2x-scaled copies
of embeddings), and `ingest`'s daily batch cut and re-send overlap.
The same seed gives byte-identical files.

Layout: enrich's fact tables (events, orders, lineitem) are
directories of FACT_FILES single-row-group files, so a scan is already
well split; the curate/ann corpora are one file with one row group.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FACT_FILES = max(8, os.cpu_count() or 1)
AZ = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join order data column small customer query "
         "big stream filter group vector").split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = (["en", "de", "fr", "es", "zh"], [0.41, 0.15, 0.15, 0.15, 0.14])
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00
EPOCH_1995_US = 788_918_400_000_000     # 1995-01-01T00:00:00

# Sizes: rows of ONE base shard, and the shard count. The corpus is
# small because the correctness gate's DuckDB oracles grow with about the
# square of it (d2 compares every document pair): measured on 4 vCPUs,
# 93 documents take 4.5 s to check, 408 take 42 s and 1218 take 286 s,
# while a warm pass grows only from about 8 s to 8.5 s.
ENRICH = dict(shards=2, events=10_000, customer=1_000, orders=8_000,
              lineitem=30_000)
INGEST = dict(events_per_day=1_500, users=600, base_days=8, batches=1)
CORPUS = dict(shards=3, documents=25, embeddings=120, planted=3)
WORKLOADS = ("curation", "etl")
STRIDE = 1_000_000      # id stride between shards (a multiple of 100)


def _write(table, path, row_groups=1):
    """One file with `row_groups` row groups, or — for a fact table —
    a directory of FACT_FILES files (row_groups < 0)."""
    if row_groups < 0:
        os.makedirs(path, exist_ok=True)
        n = table.num_rows
        step = -(-n // FACT_FILES)
        for i in range(FACT_FILES):
            part = table.slice(i * step, max(0, min(step, n - i * step)))
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
        return
    pq.write_table(table, path,
                   row_group_size=max(1, -(-table.num_rows // row_groups)))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ---- base shards ----------------------------------------------------

def base_events(rng, n, users, days=30, start_us=EPOCH_2024_US):
    ts = np.sort(rng.integers(start_us, start_us + days * DAY_US, n))
    return dict(
        event_id=np.arange(n, dtype=np.int64),
        ts=ts,
        user_id=rng.integers(0, users, n).astype(np.int64),
        event_type=rng.choice(EVENT_TYPES, n),
        value=_money(rng, 0.5, 20.0, n),
        props=np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    )


def events_table(cols):
    return pa.table(dict(
        event_id=pa.array(cols["event_id"], pa.int64()),
        ts=_ts(cols["ts"]),
        user_id=pa.array(cols["user_id"], pa.int64()),
        event_type=pa.array(cols["event_type"], pa.string()),
        value=pa.array(cols["value"], pa.float64()),
        props=pa.array(cols["props"], pa.string()),
    ))


def base_docs(rng, n):
    words = rng.integers(8, 100, n)
    texts = [" ".join(rng.choice(VOCAB, w)) for w in words]
    # a handful of exact twins inside the shard, as a real crawl has
    for i in rng.choice(n, max(1, n // 250), replace=False):
        texts[(i + 7) % n] = texts[i]
    return dict(
        doc_id=np.arange(n, dtype=np.int64),
        text=texts,
        lang=rng.choice(LANGS[0], n, p=LANGS[1]),
        source=np.array([f"src{i % 20}" for i in range(n)]),
    )


def base_embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return dict(vec_id=np.arange(n, dtype=np.int64),
                embedding=x.astype(np.float32),
                label=rng.integers(0, 10, n).astype(np.int32))


# ---- shard construction ---------------------------------------------

def rotate(text, r):
    if r == 0:
        return text
    table = str.maketrans(AZ + AZ.upper() + DIGITS,
                          AZ[r:] + AZ[:r] + AZ.upper()[r:] + AZ.upper()[:r]
                          + DIGITS[r % 10:] + DIGITS[:r % 10])
    return text.translate(table)


def shard_plan(rng, shards, dim=64):
    """Per-shard Caesar rotations and embedding dim shifts, distinct;
    shard 0 stays verbatim (its English stop-words keep the quality
    filters' survivors non-empty)."""
    rots = [0] + list(rng.choice(np.arange(1, 26), shards - 1, replace=False))
    shifts = [0] + list(rng.choice(np.arange(1, dim), shards - 1, replace=False))
    return [int(r) for r in rots], [int(s) for s in shifts]


def sharded_docs(base, rots):
    ids, texts, langs, sources = [], [], [], []
    for ci, r in enumerate(rots):
        ids.append(base["doc_id"] + ci * STRIDE)
        texts += [rotate(t, r) for t in base["text"]]
        langs.append(base["lang"])
        sources.append(base["source"])
    return dict(doc_id=np.concatenate(ids), text=texts,
                lang=np.concatenate(langs), source=np.concatenate(sources))


def sharded_embeddings(base, shifts):
    ids, vecs, labels = [], [], []
    for ci, k in enumerate(shifts):
        ids.append(base["vec_id"] + ci * STRIDE)
        vecs.append(np.roll(base["embedding"], -k, axis=1))
        labels.append(base["label"] + ci * 100)
    return dict(vec_id=np.concatenate(ids), embedding=np.concatenate(vecs),
                label=np.concatenate(labels).astype(np.int32))


def plant_docs(rng, docs, shards, n_base, per_shard):
    """Cross-shard near-duplicates under new ids in a pseudo-shard:
    per chosen base document an exact copy, a truncated copy (last
    ~15% of words cut) and a word-edited copy (two words replaced)."""
    planted = []
    next_id = shards * STRIDE
    for ci in range(1, shards):
        lo = ci * n_base
        long_docs = [i for i in range(lo, lo + n_base)
                     if len(docs["text"][i].split()) >= 40]
        for i in rng.choice(long_docs, per_shard, replace=False):
            words = docs["text"][i].split()
            cut = words[:len(words) - max(1, len(words) * 15 // 100)]
            edit = list(words)
            for j in rng.choice(len(edit), 2, replace=False):
                edit[j] = words[(j + 1) % len(words)]
            for text in (docs["text"][i], " ".join(cut), " ".join(edit)):
                planted.append((next_id, text, docs["lang"][i],
                                docs["source"][i], int(docs["doc_id"][i])))
                next_id += 1
    return planted


def plant_embeddings(rng, emb, shards, n_base, per_shard):
    """2x-scaled copies (exact in IEEE floats: the cosine is exactly
    1.0 and every hyperplane sign is unchanged) inheriting the label."""
    planted = []
    next_id = shards * STRIDE
    for ci in range(1, shards):
        lo = ci * n_base
        cand = [i for i in range(lo, lo + n_base) if emb["vec_id"][i] % 100]
        for i in rng.choice(cand, per_shard, replace=False):
            planted.append((next_id, emb["embedding"][i] * np.float32(2.0),
                            int(emb["label"][i]), int(emb["vec_id"][i])))
            next_id += 1
    return planted


def docs_table(d):
    return pa.table(dict(
        doc_id=pa.array(d["doc_id"], pa.int64()),
        text=pa.array(d["text"], pa.string()),
        lang=pa.array(d["lang"], pa.string()),
        source=pa.array(d["source"], pa.string()),
        n_chars=pa.array([len(t) for t in d["text"]], pa.int64()),
    ))


def embeddings_table(e):
    return pa.table(dict(
        vec_id=pa.array(e["vec_id"], pa.int64()),
        embedding=pa.array(list(e["embedding"]), pa.list_(pa.float32())),
        label=pa.array(e["label"], pa.int32()),
    ))


# ---- workloads ------------------------------------------------------

def gen_corpus(rng, out, sz):
    manifest = {}
    rots, shifts = shard_plan(rng, sz["shards"])
    manifest["shard_rotations"], manifest["shard_dim_shifts"] = rots, shifts
    base = base_docs(rng, sz["documents"])
    docs = sharded_docs(base, rots)
    planted = plant_docs(rng, docs, sz["shards"], sz["documents"], sz["planted"])
    manifest["planted_docs"] = [[p[0], p[4]] for p in planted]
    for col, k in (("doc_id", 0), ("text", 1), ("lang", 2), ("source", 3)):
        vals = [p[k] for p in planted]
        docs[col] = (docs[col] + vals if col == "text"
                     else np.concatenate([docs[col], np.array(vals)]))
    _write(docs_table(docs), f"{out}/documents.parquet")
    n_emb = sz["embeddings"]
    emb = sharded_embeddings(base_embeddings(rng, n_emb), shifts)
    planted = plant_embeddings(rng, emb, sz["shards"], n_emb, sz["planted"])
    manifest["planted_vecs"] = [[p[0], p[3]] for p in planted]
    emb["vec_id"] = np.concatenate([emb["vec_id"], [p[0] for p in planted]])
    emb["embedding"] = np.concatenate(
        [emb["embedding"], np.stack([p[1] for p in planted])])
    emb["label"] = np.concatenate(
        [emb["label"], np.array([p[2] for p in planted], np.int32)])
    _write(embeddings_table(emb), f"{out}/embeddings.parquet")
    return manifest


def gen_enrich(rng, out, sz):
    s = sz["shards"]
    n_cust = sz["customer"]
    # fixed dims, shared by every shard as a real scale-up would be
    pq.write_table(pa.table(dict(
        r_regionkey=pa.array(range(5), pa.int32()),
        r_name=pa.array(REGIONS, pa.string()))), f"{out}/region.parquet")
    pq.write_table(pa.table(dict(
        n_nationkey=pa.array(range(25), pa.int32()),
        n_name=pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        n_regionkey=pa.array([i % 5 for i in range(25)], pa.int32()))),
        f"{out}/nation.parquet")
    cust = dict(c_custkey=[], c_name=[], c_nationkey=[], c_acctbal=[],
                c_mktsegment=[])
    orders = dict(o_orderkey=[], o_custkey=[], o_orderstatus=[],
                  o_totalprice=[], o_orderdate=[], o_orderpriority=[])
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    ev = {k: [] for k in ("event_id", "ts", "user_id", "event_type",
                          "value", "props")}
    # one base shard, replicated with id strides (the dims and facts of
    # every shard reference only their own shard's keys)
    n_ord, n_li = sz["orders"], sz["lineitem"]
    b_cust = dict(
        c_custkey=np.arange(n_cust, dtype=np.int64),
        c_name=np.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        c_nationkey=rng.integers(0, 25, n_cust).astype(np.int32),
        c_acctbal=_money(rng, -999.99, 9999.99, n_cust),
        c_mktsegment=rng.choice(SEGMENTS, n_cust))
    b_ord = dict(
        o_orderkey=np.arange(n_ord, dtype=np.int64),
        o_custkey=rng.integers(0, n_cust, n_ord).astype(np.int64),
        o_orderstatus=rng.choice(["O", "F", "P"], n_ord),
        o_totalprice=_money(rng, 1000, 500000, n_ord),
        o_orderdate=EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US,
        o_orderpriority=rng.choice(PRIORITIES, n_ord))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    b_li = dict(
        l_orderkey=rng.integers(0, n_ord, n_li).astype(np.int64),
        l_partkey=rng.integers(0, 2000, n_li).astype(np.int64),
        l_suppkey=rng.integers(0, 100, n_li).astype(np.int64),
        l_linenumber=rng.integers(1, 8, n_li).astype(np.int32),
        l_quantity=qty,
        l_extendedprice=np.round(qty * rng.uniform(900, 2000, n_li), 2),
        l_discount=rng.integers(0, 11, n_li) / 100.0,
        l_tax=rng.integers(0, 9, n_li) / 100.0,
        l_returnflag=rng.choice(["A", "N", "R"], n_li),
        l_linestatus=rng.choice(["O", "F"], n_li),
        l_shipdate=EPOCH_1995_US + rng.integers(1, 2499, n_li) * DAY_US)
    b_ev = base_events(rng, sz["events"], max(1, sz["events"] // 67))
    for ci in range(s):
        off = ci * STRIDE
        for k, v in b_cust.items():
            cust[k].append(v + off if k == "c_custkey" else v)
        for k, v in b_ord.items():
            orders[k].append(v + off if k in ("o_orderkey", "o_custkey") else v)
        for k, v in b_li.items():
            li[k].append(v + off if k in ("l_orderkey", "l_partkey", "l_suppkey")
                         else v)
        for k, v in b_ev.items():
            ev[k].append(v + off if k in ("event_id", "user_id") else v)
    cat = lambda d: {k: np.concatenate(v) for k, v in d.items()}
    cust, orders, li, ev = cat(cust), cat(orders), cat(li), cat(ev)
    pq.write_table(pa.table(cust), f"{out}/customer.parquet")
    for name, cols, tcol in (("orders", orders, "o_orderdate"),
                             ("lineitem", li, "l_shipdate")):
        cols = dict(cols)
        cols[tcol] = _ts(cols[tcol])
        _write(pa.table(cols), f"{out}/{name}.parquet", row_groups=-1)
    _write(events_table(ev), f"{out}/events.parquet", row_groups=-1)
    return {"shards": s}


def gen_ingest(rng, out, sz):
    """Daily batches of an events stream. Batch b holds the events of
    day window b (cut at a seed-chosen hour), a seed-chosen share of
    the previous window re-sent (some with revised `value`s that
    keep-first must ignore), a few stale rows from four to six days
    back (below the lookback watermark) and a few in-batch repeats
    re-stamped a few seconds later (keep-first keeps the earlier)."""
    per_day, users = sz["events_per_day"], sz["users"]
    days = sz["base_days"] + sz["batches"]
    cut_hour = int(rng.integers(0, 24))
    overlap = float(rng.uniform(0.1, 0.3))
    start = EPOCH_2024_US + cut_hour * 3_600_000_000
    ev = base_events(rng, per_day * days, users, days, start)
    day_of = (ev["ts"] - start) // DAY_US
    idx = lambda d0, d1: np.nonzero((day_of >= d0) & (day_of < d1))[0]

    def take(rows):
        return {k: v[rows] for k, v in ev.items()}

    os.makedirs(f"{out}/batches", exist_ok=True)
    os.makedirs(f"{out}/base", exist_ok=True)
    _write(events_table(take(idx(0, sz["base_days"]))), f"{out}/base/events.parquet")
    manifest = {"cut_hour": cut_hour, "resend_overlap": round(overlap, 4),
                "offered_rows": []}
    for b in range(sz["batches"]):
        d = sz["base_days"] + b
        new, prev = idx(d, d + 1), idx(d - 1, d)
        resent = np.sort(rng.choice(prev, int(len(prev) * overlap), replace=False))
        stale = np.sort(rng.choice(idx(d - 6, d - 4), 5, replace=False))
        repeat = np.sort(rng.choice(new, 5, replace=False))
        parts = [take(new), take(resent), take(stale), take(repeat)]
        revised = rng.random(len(resent)) < 0.1
        parts[1]["value"] = np.where(revised, parts[1]["value"] + 1.0,
                                     parts[1]["value"])
        parts[3]["ts"] = parts[3]["ts"] + rng.integers(1_000_000, 60_000_000, 5)
        batch = {k: np.concatenate([p[k] for p in parts]) for k in ev}
        os.makedirs(f"{out}/batches/b{b:04d}", exist_ok=True)
        _write(events_table(batch), f"{out}/batches/b{b:04d}/events.parquet")
        manifest["offered_rows"].append(len(batch["event_id"]))
    # the user dim cache starts with half the users; upsertDim backfills
    pq.write_table(pa.table(dict(
        user_id=pa.array(range(0, users, 2), pa.int64()),
        name=pa.array([f"user_{i}" for i in range(0, users, 2)], pa.string()),
        src=pa.array(["cached"] * len(range(0, users, 2)), pa.string()))),
        f"{out}/users.parquet")
    return manifest


def table_layout(out):
    """rows and splits (files x row groups) per table, for the manifest"""
    layout = {}
    for root, _, files in os.walk(out):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, out)
            name = rel.split("/part-")[0] if "/part-" in rel else rel
            md = pq.ParquetFile(path).metadata
            ent = layout.setdefault(name, {"rows": 0, "files": 0, "row_groups": 0})
            ent["rows"] += md.num_rows
            ent["files"] += 1
            ent["row_groups"] += md.num_row_groups
    return dict(sorted(layout.items()))


def generate(workload, seed, out):
    """Write `workload`'s inputs under `out`; return the manifest.
    `etl` gets the star schema and events (enrich) plus the daily
    batches, their stored base and the user dim (ingest); `curation`
    gets the documents and embeddings corpus."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "etl":
        manifest = {"enrich": gen_enrich(rng, out, ENRICH),
                    "ingest": gen_ingest(rng, out, INGEST)}
    else:
        manifest = gen_corpus(rng, out, CORPUS)
    manifest.update(workload=workload, seed=seed, tables=table_layout(out))
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

