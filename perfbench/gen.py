"""Seeded input generator for the perfbench workloads.

Every table the program reads is written here, from the seed alone, so
the same seed always gives byte-identical inputs. The base tables carry
the schema and value domains of the repo's fixture star schema (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings); `sf` scales the row counts the way the fixtures do
(sf=0.1 -> 15k customers, 150k orders, ~600k lineitems, 5k documents).

Workload inputs:
  query_mix     base tables at `sf`; the seed sets every value, the row
                order and (in run.py) the query order.
  llm_curation  documents + embeddings of one base generation, replicated
                with a seeded letter permutation (text) and a seeded
                per-dimension sign pattern (vectors) per replica, so the
                duplicate density stays constant as the corpus grows.
  etl_daily     15 days x 10 countries x {images, sessions} parquet files
                derived from customer, orders and documents, plus one
                documents batch per day; the seed sets the per-day split
                and the re-delivered share.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
COUNTRIES = ["KE", "UG", "TZ", "RW", "ET", "NG", "GH", "ZA", "ZM", "MW"]
DAYS = 15
DIM = 64
# Documents landing through the etl_daily dedup door over the 15 days.
DOOR_DOCS = 3000

# Row counts per unit sf, as in the fixture tables.
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "events": 1_000_000, "documents": 50_000,
          "embeddings": 20_000}


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_docs(rng, n, dup_share=0.05):
    """Random word documents; a `dup_share` of them are an earlier-or-later
    document plus the marker word ' dup' (word-3-gram Jaccard ~0.98)."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(vocab), lens.sum())
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[words[offs[i]:offs[i + 1]]]) for i in range(n)]
    dups = rng.choice(n, int(n * dup_share), replace=False)
    srcs = rng.integers(0, n, len(dups))
    for d, s in zip(dups, srcs):
        if d != s:
            texts[d] = texts[s] + " dup"
    return texts


def gen_embeddings(rng, n, labels=10):
    centers = rng.normal(size=(labels, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, labels, n)
    v = centers[lab] * 0.45 + rng.normal(scale=1.0 / np.sqrt(DIM), size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), lab.astype(np.int32)


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offs = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offs, flat),
                     "label": pa.array(labels, pa.int32())})


def _doc_table(ids, texts, rng):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, len(ids), p=LANG_P)),
        "source": pa.array(["src%d" % i for i in rng.integers(0, 20, len(ids))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_tables(rng, sf):
    """The ten fixture-schema tables at scale `sf`, as pyarrow tables."""
    n = {k: max(int(v * sf), 1) for k, v in PER_SF.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npt = n["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, npt), " "),
                              rng.choice(noun, npt)),
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, npt)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO",
                              "SMALL", "MEDIUM"], npt),
        "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npt) % 1000) / 10.0, 1)})
    no = n["orders"]
    day_us = 86_400_000_000
    d0 = 9131  # 1995-01-01
    odays = rng.integers(0, 2404, no)  # .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts((d0 + odays) * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no), nl)
    ln = np.concatenate([np.arange(1, k + 1) for k in nl]) if no else np.array([])
    m = len(lk)
    li = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npt, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, m), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _ts((d0 + odays[lk] + rng.integers(1, 122, m)) * day_us)})
    t["lineitem"] = li.take(pa.array(rng.permutation(m)))
    ne = n["events"]
    ev_ts = np.sort(rng.integers(0, 30 * day_us, ne)) + 19723 * day_us  # 2024-01-01
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(int(15000 * sf), 1), ne), pa.int64()),
        "event_type": rng.choice(["error", "view", "purchase", "signup", "click"], ne),
        "value": np.round(rng.exponential(60.0, ne).clip(0, 560.21), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    t["documents"] = _doc_table(np.arange(nd), gen_docs(rng, nd), rng)
    vecs, lab = gen_embeddings(rng, n["embeddings"])
    t["embeddings"] = _emb_table(np.arange(len(lab)), vecs, lab)
    return t


def write_tables(tables, out_dir):
    stats = {}
    for name, tb in tables.items():
        rows, size = _write(tb, os.path.join(out_dir, name + ".parquet"))
        stats[name] = {"rows": rows, "bytes": size}
    return stats


def gen_query_mix(seed, out, sf):
    """Base tables in a seeded row order (every query orders its result by
    a unique key). Keys keep their fixture ranges: queries address fixed
    key slices such as `vec_id < 16`."""
    rng = np.random.default_rng([seed, 1])
    tables = base_tables(rng, sf)
    return write_tables({n: tb.take(pa.array(rng.permutation(tb.num_rows)))
                         for n, tb in tables.items()}, out)


def gen_llm_curation(seed, out, base_docs, base_vecs, replicas):
    rng = np.random.default_rng([seed, 2])
    texts = gen_docs(rng, base_docs)
    meta = _doc_table(np.arange(base_docs), texts, rng)
    vecs, lab = gen_embeddings(rng, base_vecs)
    letters = "abcdefghijklmnopqrstuvwxyz"
    all_texts, all_vecs = [], []
    for r in range(replicas):
        if r == 0:
            all_texts += texts
            all_vecs.append(vecs)
            continue
        perm = "".join(rng.permutation(list(letters)))
        tr = str.maketrans(letters, perm)
        all_texts += [t.translate(tr) for t in texts]
        all_vecs.append(vecs * rng.choice([-1.0, 1.0], DIM).astype(np.float32))
    ids = np.arange(base_docs * replicas)
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(all_texts, pa.string()),
        "lang": pa.concat_arrays([meta["lang"].combine_chunks()] * replicas),
        "source": pa.concat_arrays([meta["source"].combine_chunks()] * replicas),
        "n_chars": pa.array([len(t) for t in all_texts], pa.int64())})
    emb = _emb_table(np.arange(base_vecs * replicas), np.concatenate(all_vecs),
                     np.tile(lab, replicas))
    return write_tables({"documents": docs, "embeddings": emb}, out)


def gen_etl_daily(seed, out, sf):
    """Per-day, per-country landing files for images and sessions, and one
    documents batch per day for the dedup door."""
    rng = np.random.default_rng([seed, 3])
    base = base_tables(rng, sf)
    orders, customer = base["orders"], base["customer"]
    # the seed varies which rows land on which day, and by little how many:
    # run time follows input size, and runs of one benchmark use many seeds
    redeliver = float(rng.uniform(0.08, 0.12))
    no = orders.num_rows
    day_w = rng.dirichlet(np.full(DAYS, 400.0))
    sess_day = rng.choice(DAYS, no, p=day_w)
    cust = orders["o_custkey"].to_numpy()
    nation = customer["c_nationkey"].to_numpy()[cust]
    country = nation % len(COUNTRIES)
    status_of = {"F": "completed", "O": "pending", "P": "rejected"}
    status = np.array([status_of[s] for s in orders["o_orderstatus"].to_pylist()])
    started = orders["o_orderdate"].cast(pa.int64()).to_numpy()
    flagged = rng.choice(["True", "False"], no)

    docs = _doc_table(np.arange(DOOR_DOCS), gen_docs(rng, DOOR_DOCS), rng)
    texts = docs["text"].to_pylist()
    # one image record per (session, image slot); names come from doc words
    per_sess = rng.integers(1, 4, no)
    img_sess = np.repeat(np.arange(no), per_sess)
    n_img = len(img_sess)
    name_n = rng.integers(0, 5, n_img)  # 0 names -> empty packed string
    names = []
    for i in range(n_img):
        w = texts[int(rng.integers(0, len(texts)))].split()[:name_n[i]]
        names.append(",".join("%s_%d.jpg" % (x, i) for x in w))
    captured = started[img_sess] + rng.integers(0, 86_400_000_000, n_img)
    valid = rng.choice(["True", "False"], n_img, p=[0.9, 0.1])

    stats = {"redeliver_share": redeliver, "days": DAYS,
             "countries": len(COUNTRIES)}
    rows_in = bytes_in = 0
    delivered = [np.zeros(0, np.int64)] * len(COUNTRIES)
    for day in range(DAYS):
        today = np.nonzero(sess_day == day)[0]
        for ci, cc in enumerate(COUNTRIES):
            fresh = today[country[today] == ci]
            prev = delivered[ci]
            k = int(round(len(prev) * redeliver / max(day, 1)))
            again = rng.choice(prev, min(k, len(prev)), replace=False) if len(prev) else prev
            sess = np.concatenate([fresh, again]).astype(np.int64)
            delivered[ci] = np.concatenate([prev, fresh])
            # a re-delivered session may carry an updated status
            st = status[sess].copy()
            bump = rng.random(len(sess)) < 0.5
            bump[:len(fresh)] = False
            st[bump] = rng.choice(["completed", "pending", "rejected"], bump.sum())
            s_tb = pa.table({
                "session_id": pa.array(sess, pa.int64()),
                "customer_id": pa.array(cust[sess], pa.int64()),
                "status": pa.array(st, pa.string()),
                "started_at": _ts(started[sess]),
                "is_flagged": pa.array(flagged[sess], pa.string()),
                "agent": pa.array(["agent-%d" % (x % 7) for x in sess], pa.string())})
            img_idx = np.nonzero(np.isin(img_sess, sess))[0]
            i_tb = pa.table({
                "image_id": pa.array(img_idx, pa.int64()),
                "session_id": pa.array(img_sess[img_idx], pa.int64()),
                "image_names": pa.array([names[i] for i in img_idx], pa.string()),
                "url_base": pa.array(["https://img.example/%s/" % cc] * len(img_idx),
                                     pa.string()),
                "captured_at": _ts(captured[img_idx]),
                "is_valid": pa.array(valid[img_idx], pa.string()),
                "note": pa.array(["batch-%d" % day] * len(img_idx), pa.string())})
            for kind, tb in (("sessions", s_tb), ("images", i_tb)):
                r, b = _write(tb, os.path.join(
                    out, kind, cc, "day=%02d" % day, "part-0.parquet"))
                rows_in += r
                bytes_in += b
    # documents: each day takes a seeded slice of fresh documents plus
    # re-deliveries and near-duplicates of documents landed before
    nd = docs.num_rows
    doc_day = rng.choice(DAYS, nd, p=day_w)
    seen = np.zeros(0, np.int64)
    for day in range(DAYS):
        fresh = np.nonzero(doc_day == day)[0]
        k = int(round(len(seen) * redeliver / max(day, 1)))
        again = rng.choice(seen, min(k, len(seen)), replace=False) if len(seen) else seen
        ids = np.concatenate([fresh, again]).astype(np.int64)
        seen = np.concatenate([seen, fresh])
        tb = docs.take(pa.array(ids)).select(["doc_id", "text", "lang", "source"])
        r, b = _write(tb, os.path.join(out, "docs", "day=%02d" % day,
                                       "part-0.parquet"))
        rows_in += r
        bytes_in += b
    stats["rows"], stats["bytes"] = rows_in, bytes_in
    return stats


def main(workload, seed, out, **kw):
    if workload == "query_mix":
        stats = gen_query_mix(seed, out, kw.get("sf", 0.01))
    elif workload == "llm_curation":
        stats = gen_llm_curation(seed, out, kw.get("base_docs", 5000),
                                 kw.get("base_vecs", 2000), kw.get("replicas", 4))
    elif workload == "etl_daily":
        stats = gen_etl_daily(seed, out, kw.get("sf", 0.002))
    else:
        raise SystemExit("unknown workload: %s" % workload)
    with open(os.path.join(out, "_inputs.json"), "w") as f:
        json.dump(stats, f)
    return stats


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
