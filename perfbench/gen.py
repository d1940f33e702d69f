"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the program under test
only ever sees the files written here, never the seed. Amounts are
generated as whole cents so the ground truth is kept as exact decimals.
"""
import datetime
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = ["groceries", "rent", "utilities", "transport", "dining", "health",
              "insurance", "travel", "education", "entertainment", "clothing", "gifts"]
VENDORS = [f"vendor{i:03d}" for i in range(400)]
CATS_PER_UPLOAD = 6
VENDORS_PER_UPLOAD = 30
MALFORMED = ['not json: the fetch failed', '{"upload_id": 7, "begin_date": "2024-',
             '{"upload_id": 8}']


def _upload_doc(rng, upload_id, end_date):
    """One upload summary document and its (transactions, cents) truth.

    The report pipeline explodes `spending_per_category`, so its six
    entries are the upload's transactions; the vendor map is carried as
    landed but is not read by the pipeline (see BENCHMARK.json)."""
    cats = rng.choice(len(CATEGORIES), CATS_PER_UPLOAD, replace=False)
    cents = rng.integers(100, 50_000, CATS_PER_UPLOAD)
    vend = rng.choice(len(VENDORS), VENDORS_PER_UPLOAD, replace=False)
    vcents = rng.integers(100, 5_000, VENDORS_PER_UPLOAD)
    total = int(cents.sum())
    begin = end_date - datetime.timedelta(days=int(rng.integers(0, 28)))
    doc = {
        "upload_id": upload_id,
        "begin_date": begin.isoformat(),
        "end_date": end_date.isoformat(),
        "total_spent": float(Decimal(total) / 100),
        "total_transactions": CATS_PER_UPLOAD,
        "spending_per_category": {CATEGORIES[c]: float(Decimal(int(v)) / 100)
                                  for c, v in zip(cats, cents)},
        "spending_per_vendor": {VENDORS[v]: float(Decimal(int(x)) / 100)
                                for v, x in zip(vend, vcents)},
    }
    return json.dumps(doc), CATS_PER_UPLOAD, total


def uploads(seed, stream, out_dir, batches, per_batch, malformed_share, first_day, days):
    """Write `batches` directories of `per_batch` upload files each, one
    JSON document per file.

    A fixed share of the documents is malformed (unparseable or missing
    required fields) and must be dropped by the source. `stream` keeps
    the generators of one seed independent. Returns per-batch ground
    truth: valid and malformed counts, transactions, exact total, and
    the date span of the valid uploads."""
    rng = np.random.default_rng([seed, stream])
    n_bad = int(round(per_batch * malformed_share))
    truth = []
    upload_id = 0
    for b in range(batches):
        bdir = os.path.join(out_dir, f"b{b:04d}")
        os.makedirs(bdir)
        bad = set(rng.choice(per_batch, n_bad, replace=False).tolist()) if n_bad else set()
        valid = tx = cents = 0
        lo = hi = None
        for i in range(per_batch):
            upload_id += 1
            if i in bad:
                text = MALFORMED[upload_id % len(MALFORMED)]
            else:
                day = first_day + datetime.timedelta(days=int(rng.integers(0, days)))
                text, n, c = _upload_doc(rng, upload_id, day)
                valid += 1
                tx += n
                cents += c
                lo = day if lo is None or day < lo else lo
                hi = day if hi is None or day > hi else hi
            with open(os.path.join(bdir, f"s{stream}u{upload_id:07d}.json"), "w") as f:
                f.write(text + "\n")
        truth.append({"valid": valid, "malformed": len(bad), "transactions": tx,
                      "total_cents": cents, "begin": lo.isoformat(), "end": hi.isoformat()})
    return truth


def daily_uploads(seed, stream, out_dir, first_day, days):
    """Write one valid upload file per day for `days` days from
    `first_day`, each ending on its day, so `dailyReports` over them
    yields exactly `days` daily periods. Returns the ground truth:
    periods, transactions and the exact total."""
    rng = np.random.default_rng([seed, stream])
    os.makedirs(out_dir)
    tx = cents = 0
    for d in range(days):
        text, n, c = _upload_doc(rng, d + 1, first_day + datetime.timedelta(days=d))
        tx += n
        cents += c
        with open(os.path.join(out_dir, f"s{stream}d{d:05d}.json"), "w") as f:
            f.write(text + "\n")
    return {"periods": days, "transactions": tx, "total_spent": str(Decimal(cents) / 100)}


def cumulative(truth):
    """Running totals over batches: what the report must show after
    landing batches 0..k."""
    out = []
    valid = bad = tx = cents = 0
    lo = hi = None
    for t in truth:
        valid += t["valid"]
        bad += t["malformed"]
        tx += t["transactions"]
        cents += t["total_cents"]
        lo = t["begin"] if lo is None or t["begin"] < lo else lo
        hi = t["end"] if hi is None or t["end"] > hi else hi
        out.append({"valid": valid, "malformed": bad, "transactions": tx,
                    "total_spent": str(Decimal(cents) / 100), "begin": lo, "end": hi})
    return out


# ----------------------------------------------------------------------
# Analytics tables: the TPC-H-shaped star schema plus events, documents
# and embeddings, with the columns and value domains SparkEntry expects.

WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window join small big order data column customer query group "
         "stream filter vector dup").split()
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "nut"]


def _days(rng, start, end, n):
    span = (end - start).days
    return np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed, out_dir, scale):
    """Write one parquet file per table. `scale` 1.0 is the shape of the
    sf0.01 corpus (60,000 lineitems, 500 documents and embeddings)."""
    rng = np.random.default_rng([seed, 100])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb, n_user = int(500 * scale), int(500 * scale), max(10, int(150 * scale))

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    ts = lambda a: pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))
    write("region", {"r_regionkey": i32(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32([i % 5 for i in range(25)])})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
    write("customer", {"c_custkey": i64(range(n_cust)),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                       "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                       "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()})
    write("supplier", {"s_suppkey": i64(range(n_supp)),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                       "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
    write("part", {"p_partkey": i64(range(n_part)),
                   "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                              zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                   "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                   "p_type": types[rng.integers(0, 6, n_part)].tolist(),
                   "p_size": i32(rng.integers(1, 51, n_part)),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": i64(range(n_ord)),
                     "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                     "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)].tolist(),
                     "o_totalprice": _money(rng, 1000, 500000, n_ord),
                     "o_orderdate": ts(_days(rng, datetime.date(1995, 1, 1),
                                             datetime.date(2001, 8, 1), n_ord)),
                     "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist()})
    write("lineitem", {"l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                       "l_partkey": i64(rng.integers(0, n_part, n_li)),
                       "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                       "l_linenumber": i32(rng.integers(1, 8, n_li)),
                       "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                       "l_extendedprice": _money(rng, 900, 105000, n_li),
                       "l_discount": rng.integers(0, 11, n_li) / 100.0,
                       "l_tax": rng.integers(0, 9, n_li) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
                       "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)].tolist(),
                       "l_shipdate": ts(_days(rng, datetime.date(1995, 1, 2),
                                              datetime.date(2001, 11, 4), n_li))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    write("events", {"event_id": i64(range(n_ev)),
                     "ts": ts(np.datetime64("2024-01-01T00:00:00") + ev_us.astype("timedelta64[us]")),
                     "user_id": i64(rng.integers(0, n_user, n_ev)),
                     "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                         rng.integers(0, 5, n_ev)].tolist(),
                     "value": _money(rng, 0, 560, n_ev),
                     "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.15:
            # planted near-duplicate: an earlier document with a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "es", "zh", "de", "fr"])
    write("documents", {"doc_id": i64(range(n_doc)), "text": texts,
                        "lang": langs[rng.integers(0, len(langs), n_doc)].tolist(),
                        "source": [f"src{i % 20}" for i in range(n_doc)],
                        "n_chars": i64([len(t) for t in texts])})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    write("embeddings", {"vec_id": i64(range(n_emb)),
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                         "label": i32(labels)})
