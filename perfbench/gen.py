"""Seeded inputs for the benchmark.

Everything the program receives is written here from `--seed`: the ten
parquet tables the graft queries read (same schema and value
distributions as the repository's synthetic test corpus, at a chosen
scale), and for serve_ingest the request stream and the ingest batches.
The same seed and scale always give byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (the sf0.1 corpus); `scale` multiplies them.
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "events": 100000, "documents": 5000, "embeddings": 2000,
}
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = np.array(["blue", "hot", "large", "red", "green", "small", "old", "new"])
PART_NOUN = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DUP_FRAC = 0.05
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))


def _rows(name, scale):
    return max(int(BASE_ROWS[name] * scale), 10)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n):
    lens = rng.integers(8, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def make_documents(rng, n, first_id=0):
    """`n` documents; DUP_FRAC of them are a copy of another one plus
    the word ' dup' (the corpus' planted near-duplicates)."""
    texts = _texts(rng, n)
    dups = rng.choice(n, size=int(n * DUP_FRAC), replace=False)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return {
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, size=n).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def make_tables(out_dir, seed, scale, documents=None, order_days=ORDER_DAYS):
    """Write the ten tables at `scale` × the sf0.1 row counts.
    `documents` overrides the documents table (serve_ingest holds some
    out for ingestion); orders are dated over `order_days` from
    1995-01-01."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5)})

    n_cust = _rows("customer", scale)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})

    n_supp = _rows("supplier", scale)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})

    n_part = _rows("part", scale)
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                                       rng.choice(PART_NOUN, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})

    n_ord = _rows("orders", scale)
    odate = EPOCH_1995 + rng.integers(0, order_days + 1, n_ord) * np.timedelta64(1, "D")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})

    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.cumsum(per_order) - per_order
    lineno = (np.arange(n_li) - np.repeat(starts, per_order) + 1).astype(np.int32)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})

    n_ev = _rows("events", scale)
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    if documents is None:
        documents = make_documents(rng, _rows("documents", scale))
    _write(out_dir, "documents", documents)

    n_emb = _rows("embeddings", scale)
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_emb + 1, 64, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


# ---------------------------------------------------------------- serve
# The serve_ingest stream is a list of blocks. A block is one ingest op,
# then `per_kind` lookups of each LOOKUP_KIND in a seeded order, then one
# compaction: lookups always read tables holding at least one freshly
# appended batch. No traffic mix is recorded for the reference's query
# API, so the lookup mix (equal counts per kind), the lookups per ingest
# and the compaction cadence are assumptions of this benchmark; the
# planted near-duplicate rate of a batch is the corpus' own (DUP_FRAC).
LOOKUP_KINDS = ("point", "range", "period_keys", "search", "report_list", "bm25_probe")
RANGE_MONTHS = 6
ZIPF_S = 1.1  # entity skew of the lookups; an assumption, like the mix


def block_ops(per_kind):
    """Ops in a block of `per_kind` lookups of each kind."""
    return len(LOOKUP_KINDS) * per_kind + 2


def zipf_ranks(rng, n_items, size, s=ZIPF_S):
    """Item indices drawn with P(rank r) ∝ 1 / r^s over a seeded
    permutation of the items."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    order = rng.permutation(n_items)
    return order[rng.choice(n_items, size=size, p=w / w.sum())]


def planted_per_batch(batch_docs):
    return max(1, round(batch_docs * DUP_FRAC))


def make_serve(out_dir, seed, scale, blocks, batch_docs, order_days=ORDER_DAYS):
    """Tables plus the serve_ingest request stream.

    `blocks` lists each block's lookups per kind. The documents table
    holds the set-up corpus; held-out documents and planted
    near-duplicates of corpus documents (text + ' dup') form one parquet
    batch per ingest op under `batches/`. Lookup entities are
    Zipf-skewed; point lookups name (entity, month) keys that exist in
    the monthly rollup of the orders table. The stream is written to
    `stream.jsonl` and returned."""
    rng = np.random.default_rng([seed, 7])
    n_docs = _rows("documents", scale)
    planted_n = planted_per_batch(batch_docs)
    n_held = len(blocks) * (batch_docs - planted_n)
    docs = make_documents(rng, n_docs + n_held)
    corpus = {k: v.slice(0, n_docs) for k, v in docs.items()}
    held = {k: v.slice(n_docs) for k, v in docs.items()}
    make_tables(out_dir, seed, scale, documents=corpus, order_days=order_days)

    orders = pq.read_table(os.path.join(out_dir, "orders.parquet"),
                           columns=["o_custkey", "o_orderdate"])
    cust = orders.column("o_custkey").to_numpy()
    month = orders.column("o_orderdate").to_numpy().astype("datetime64[M]").astype(str)
    keys = sorted(set(zip(cust.tolist(), month.tolist())))
    by_entity = {}
    for c, m in keys:
        by_entity.setdefault(c, []).append(m)
    entities = sorted(by_entity)
    months = sorted(set(month.tolist()))

    bdir = os.path.join(out_dir, "batches")
    os.makedirs(bdir, exist_ok=True)
    corpus_text = corpus["text"].to_pylist()
    held_ids, held_text = held["doc_id"].to_pylist(), held["text"].to_pylist()
    next_id = n_docs + n_held
    ents = iter(zipf_ranks(rng, len(entities), len(LOOKUP_KINDS) * sum(blocks)))
    ops = []
    for b, per_kind in enumerate(blocks):
        n_new = batch_docs - planted_n
        src = sorted(rng.choice(n_docs, planted_n, replace=False).tolist())
        ids = held_ids[b * n_new:(b + 1) * n_new]
        texts = held_text[b * n_new:(b + 1) * n_new]
        planted = list(range(next_id, next_id + planted_n))
        next_id += planted_n
        ids += planted
        texts += [corpus_text[s] + " dup" for s in src]
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(ids)),
            "source": pa.array(["ingest"] * len(ids)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
            os.path.join(bdir, f"batch_{b:04d}.parquet"))
        ops.append({"op": "ingest", "batch": b, "docs": len(ids),
                    "text_bytes": sum(len(t.encode()) for t in texts),
                    "planted": [[p, s] for p, s in zip(planted, src)],
                    "period": months[int(rng.integers(0, len(months)))]})
        deck = [LOOKUP_KINDS[j % len(LOOKUP_KINDS)]
                for j in rng.permutation(len(LOOKUP_KINDS) * per_kind)]
        for i, kind in enumerate(deck):
            e = int(entities[next(ents)])
            ms = by_entity[e]
            if kind == "point":
                ops.append({"op": kind, "entity": e, "period": ms[int(rng.integers(0, len(ms)))]})
            elif kind == "range":
                # a fixed-length window, so every range scans as many months
                a = int(rng.integers(0, len(months) - RANGE_MONTHS + 1))
                ops.append({"op": kind, "entity": e, "start": months[a],
                            "end": months[a + RANGE_MONTHS - 1]})
            elif kind == "period_keys":
                ops.append({"op": kind, "entity": e, "grain": "day" if i % 2 == 0 else "month"})
            elif kind == "search":
                w = rng.choice(len(VOCAB), 2)
                ops.append({"op": kind, "needle": f"{VOCAB[w[0]]} {VOCAB[w[1]]} "})
            elif kind == "report_list":
                ops.append({"op": kind, "needle": str(int(rng.integers(0, 100))),
                            "page": int(rng.integers(1, 4)), "limit": 9})
            else:
                w = rng.choice(len(VOCAB), 3, replace=False)
                ops.append({"op": kind, "query": " ".join(VOCAB[j] for j in w)})
        ops.append({"op": "compact"})
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"corpus_text_bytes": sum(len(t.encode()) for t in corpus_text)}, f)
    with open(os.path.join(out_dir, "stream.jsonl"), "w") as f:
        for o in ops:
            f.write(json.dumps(o, sort_keys=True) + "\n")
    return ops
