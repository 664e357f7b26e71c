"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test only ever sees the files
written here. Each generator returns a manifest (sizes, planted shares,
expected counts) that the output checks and the result JSON use.
"""
import csv
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------
# etl_daily: D days of the five staging CSV tables
# ---------------------------------------------------------------------

# staged rows per table per day (fixed, so every seed does the same work)
ETL_ROWS_PER_DAY = {"places": 400, "reviews": 3000, "tweets": 3000,
                    "pemasukan": 1200, "pengeluaran": 1200}
ETL_REPEAT_SHARE = 0.20   # share of a day's rows whose key was staged on an earlier day
ETL_INDAY_DUP_SHARE = 0.02  # share of a day's rows that repeat a key of the same day

_WORDS = ("indah bagus mantap ramai sejuk bersih murah mahal pantai candi "
          "museum taman kuliner hotel pasar danau gunung air terjun pulau "
          "kota desa jalan malam pagi sore").split()
_PLACE_TYPES = ["beach", "temple", "museum", "park", "restaurant", "hotel",
                "market", "lake"]
_SECTORS = ["pantai", "candi", "museum", "kuliner", "alam", "budaya"]


def _text(rng, lo, hi):
    n = int(rng.integers(lo, hi + 1))
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


def _ts(rng, day):
    base = np.datetime64("2024-03-01T00:00:00") + np.timedelta64(day, "D")
    return str(base + np.timedelta64(int(rng.integers(0, 86400)), "s")).replace("T", " ")


def _etl_row(table, key, rng, day):
    t = _ts(rng, day)
    if table == "places":
        return [key, "Place " + key, round(float(rng.uniform(1, 5)), 1),
                "Detail " + key, "08%08d" % rng.integers(0, 10**8),
                "Mon: 9 | Tue: 9", _PLACE_TYPES[rng.integers(0, 8)],
                round(float(rng.uniform(-9, -6)), 6),
                round(float(rng.uniform(105, 116)), 6)]
    if table == "reviews":
        return [key, t, "pl%d" % rng.integers(0, 2000),
                "http://u/%d" % rng.integers(0, 10**6), _text(rng, 3, 20),
                float(rng.integers(1, 6))]
    if table == "tweets":
        return [key, "pl%d" % rng.integers(0, 2000), _WORDS[rng.integers(0, 24)],
                t, _text(rng, 4, 25), "u%d" % rng.integers(0, 5000),
                "kota%d" % rng.integers(0, 50), ""]
    proj = int(rng.integers(0, 60))
    head = [key, t, "pr%d" % proj, "Proyek %d" % proj, _SECTORS[proj % 6]]
    if table == "pemasukan":
        donor = int(rng.integers(0, 300))
        return head + ["d%d" % donor, "Donor %d" % donor,
                       ["pemerintah", "swasta"][donor % 2], "dana",
                       int(rng.integers(1, 10**7)), "b%d" % rng.integers(0, 10**6)]
    vendor, dep = int(rng.integers(0, 200)), int(rng.integers(0, 12))
    return head + ["v%d" % vendor, "Vendor %d" % vendor, "dep%d" % dep,
                   "Departemen %d" % dep, ["alat", "iklan", "jasa"][vendor % 3],
                   int(rng.integers(1, 10**7)), "b%d" % rng.integers(0, 10**6)]


ETL_HEADERS = {
    "places": ["place_id", "name", "rating_search", "name_detail", "phone_number",
               "opening_hours_text", "types_detail", "lat_detail", "lng_detail"],
    "reviews": ["id_review", "timestamp_review", "place_id", "author_url",
                "review_text", "rating"],
    "tweets": ["id_tweet", "place_id_source", "keyword_search", "created_at_tweet",
               "text_tweet", "id_author_twitter", "author_location",
               "tweet_geo_place_id"],
    "pemasukan": ["id_transaksi_original", "timestamp", "id_proyek", "nama_proyek",
                  "sektor_pariwisata", "id_penyumbang", "nama_penyumbang",
                  "jenis_penyumbang", "jenis_pemasukan", "jumlah", "bukti"],
    "pengeluaran": ["id_transaksi_original", "timestamp", "id_proyek",
                    "nama_proyek", "sektor_pariwisata", "id_vendor", "nama_vendor",
                    "id_departemen", "nama_departemen", "jenis_kebutuhan",
                    "jumlah", "bukti"],
}


def gen_etl(out_dir, seed, days):
    """Writes <out_dir>/day<k>/<table>/<table>_<k>.csv for k in 1..days.

    Returns the manifest: per day and table, rows staged and the number
    of keys never staged before (what the incremental load must append).
    """
    rng = np.random.default_rng([seed, 1])
    seen = {t: [] for t in ETL_ROWS_PER_DAY}
    next_key = {t: 0 for t in ETL_ROWS_PER_DAY}
    manifest = {"days": days, "rows_per_day": ETL_ROWS_PER_DAY,
                "repeat_share": ETL_REPEAT_SHARE,
                "in_day_dup_share": ETL_INDAY_DUP_SHARE,
                "expected_new": [], "staged_rows": [], "csv_bytes": []}
    for day in range(1, days + 1):
        new_keys, staged, nbytes = {}, {}, 0
        for table, n in ETL_ROWS_PER_DAY.items():
            n_rep = int(n * ETL_REPEAT_SHARE) if seen[table] else 0
            n_dup = int(n * ETL_INDAY_DUP_SHARE)
            n_new = n - n_rep - n_dup
            fresh = ["%s%d" % (table[:3], next_key[table] + i) for i in range(n_new)]
            next_key[table] += n_new
            old = seen[table]
            rep = [old[i] for i in rng.choice(len(old), n_rep, replace=False)] if n_rep else []
            dup = [fresh[i] for i in rng.integers(0, n_new, n_dup)]
            keys = fresh + rep + dup
            rng.shuffle(keys)
            d = os.path.join(out_dir, "day%d" % day, table)
            os.makedirs(d)
            path = os.path.join(d, "%s_%d.csv" % (table, day))
            with open(path, "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(ETL_HEADERS[table])
                for k in keys:
                    w.writerow(_etl_row(table, k, rng, day))
            nbytes += os.path.getsize(path)
            seen[table].extend(fresh)
            new_keys[table], staged[table] = n_new, n
        manifest["expected_new"].append(new_keys)
        manifest["staged_rows"].append(staged)
        manifest["csv_bytes"].append(nbytes)
    return manifest


# ---------------------------------------------------------------------
# analyst_queries: the ten registry tables in the testdata layout
# ---------------------------------------------------------------------

# row counts of the sf0.01 testdata layout
SF_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
           "lineitem": 60000, "events": 10000, "documents": 500,
           "embeddings": 500}

_DOC_VOCAB = ("a the key agg row scan slow fast table value part hash merge "
              "batch spark line sort window customer order data column join "
              "small query big stream filter group vector").split()


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, values):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"))


def gen_sf(out_dir, seed):
    """The registry tables (region nation customer supplier part orders
    lineitem events documents embeddings), one parquet file each, with
    the schema and value shapes of the sf0.01 testdata."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir)
    i32, i64 = pa.int32(), pa.int64()
    r = SF_ROWS
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))
    n = r["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": ["Customer#%09d" % i for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, n, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"])}))
    n = r["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": ["Supplier#%09d" % i for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)}))
    n = r["part"]
    adjs = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": [adjs[a] + " " + nouns[b] for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, n, ["ECONOMY", "MEDIUM", "SMALL", "STANDARD",
                                 "LARGE", "PROMO"]),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + np.arange(n) % 1000 / 10.0, 2)}))
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    n = r["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), i64),
        "o_orderstatus": _pick(rng, n, ["O", "F", "P"]),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2404, n).astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, n, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"])}))
    n = r["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, n, ["R", "A", "N"]),
        "l_linestatus": _pick(rng, n, ["O", "F"]),
        "l_shipdate": pa.array(day0 + rng.integers(1, 2500, n).astype("timedelta64[D]"),
                               pa.timestamp("us"))}))
    n = r["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    step = np.int64(30 * 86400 * 10**6 // n)
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(t0 + (np.arange(n) * step +
                             rng.integers(0, step, n)).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": _pick(rng, n, ["view", "click", "purchase", "signup", "error"]),
        "value": np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)]}))
    n = r["documents"]
    texts = [" ".join(_DOC_VOCAB[i] for i in
                      rng.integers(0, len(_DOC_VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n), i64), "text": texts,
        "lang": _pick(rng, n, ["en", "en", "en", "es", "zh", "de", "fr"]),
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)}))
    n = r["embeddings"]
    label = rng.integers(0, 10, n)
    centers = rng.uniform(-0.33, 0.33, (10, 64))
    emb = (centers[label] + rng.uniform(-0.05, 0.05, (n, 64))).astype("float32")
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, i32)}))
    return {"rows": dict(SF_ROWS, region=5, nation=25), "layout": "sf0.01"}


# ---------------------------------------------------------------------
# corpus_curate: zipf corpus with planted duplicates and junk
# ---------------------------------------------------------------------

CORPUS_DOCS = 2000
CORPUS_VOCAB = 50000
CORPUS_SHARES = {"exact_dup": 0.05, "near_dup": 0.15, "low_quality": 0.05}
NEAR_DUP_REDRAW = 0.03  # share of a near-dup copy's positions re-drawn


def gen_corpus(out_dir, seed, docs=CORPUS_DOCS):
    """documents.parquet: zipf(s=1) token streams over a 50k vocabulary,
    log-uniform lengths of 30..~410 tokens. Planted by share: exact
    duplicates (same text as a base doc), near-duplicates (a base doc
    with 3 % of positions re-drawn) and low-quality docs (too short or
    punctuation-heavy, dropped by the quality gate)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir)
    ln_v = math.log(CORPUS_VOCAB)

    def stream(n):
        return ["w%d" % r for r in np.floor(np.exp(rng.uniform(0, 1, n) * ln_v)).astype(int)]

    n_exact = int(docs * CORPUS_SHARES["exact_dup"])
    n_near = int(docs * CORPUS_SHARES["near_dup"])
    n_junk = int(docs * CORPUS_SHARES["low_quality"])
    n_base = docs - n_exact - n_near - n_junk
    base = [stream(int(10 + math.floor(math.exp(3.0 + 3.0 * rng.uniform()))))
            for _ in range(n_base)]
    texts = [" ".join(t) for t in base]
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_base))])
    for _ in range(n_near):
        toks = list(base[int(rng.integers(0, n_base))])
        for p in np.nonzero(rng.uniform(0, 1, len(toks)) < NEAR_DUP_REDRAW)[0]:
            toks[p] = stream(1)[0]
        texts.append(" ".join(toks))
    for j in range(n_junk):
        if j % 2:
            texts.append(" ".join(stream(int(rng.integers(1, 9)))))
        else:
            texts.append(" ".join(w + "!?;" for w in stream(int(rng.integers(20, 60)))))
    order = rng.permutation(docs)
    texts = [texts[i] for i in order]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()), "text": texts,
        "lang": _pick(rng, docs, ["en", "en", "en", "de", "fr"]),
        "source": ["src%d" % (i % 10) for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    return {"docs": docs, "vocab": CORPUS_VOCAB, "shares": CORPUS_SHARES,
            "near_dup_redraw": NEAR_DUP_REDRAW,
            "planted": {"base": n_base, "exact_dup": n_exact,
                        "near_dup": n_near, "low_quality": n_junk}}
