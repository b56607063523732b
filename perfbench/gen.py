"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of (seed, size):

* ``star_tables`` writes the ten catalog tables (the TPC-H-like star
  schema, the ``events`` stream table, ``documents`` and
  ``embeddings``) as one parquet file each, in the shapes described in
  FIXTURES.md section C: same column names, types, value domains and
  planted structure (near-duplicate documents that repeat another
  document's text with " dup" appended, label-clustered unit
  embeddings, monotone event timestamps).
* ``taxi_csv`` writes a raw taxi CSV in the shape of FIXTURES.md
  section A, with every anomaly the core model must handle planted at
  a known count, and returns the counts the pipeline must reproduce.
"""
import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "new", "blue", "old", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
         "big", "sort", "query", "fast", "the"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64").astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _day_us(lo, hi, n, rng):
    """n midnight timestamps drawn uniformly from [lo, hi] (dates)."""
    d0 = (np.datetime64(lo) - np.datetime64("1970-01-01")).astype(int)
    d1 = (np.datetime64(hi) - np.datetime64("1970-01-01")).astype(int)
    return rng.integers(d0, d1 + 1, n).astype("int64") * 86_400_000_000


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_tables(out_dir, seed, sf, n_docs, n_vecs):
    """Write the ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": _ts(_day_us("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(900.0, 105_000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _ts(_day_us("1995-01-02", "2001-11-04", n_line, rng))})
    # events: monotone timestamps over January 2024, one user pool
    start = (np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH).astype("int64")
    span = 30 * 86_400_000_000
    ts = start + np.sort(rng.integers(0, span, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", documents(rng, n_docs))
    _write(out_dir, "embeddings", embeddings(rng, n_vecs))


def documents(rng, n):
    """Word-salad documents; 5% repeat an earlier document's text plus
    one or two " dup" tokens (the planted near-duplicates)."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].removesuffix(" dup")
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def embeddings(rng, n):
    """Unit vectors around ten weak label centroids."""
    labels = rng.integers(0, 10, n)
    cent = rng.normal(0.0, 1.0, (10, EMB_DIM))
    cent = 0.14 * cent / np.linalg.norm(cent, axis=1, keepdims=True)
    v = cent[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}


TAXI_HEADER = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "pickup_longitude", "pickup_latitude",
    "RateCodeID", "store_and_fwd_flag", "dropoff_longitude", "dropoff_latitude",
    "payment_type", "fare_amount", "extra", "mta_tax", "tip_amount",
    "tolls_amount", "improvement_surcharge", "total_amount"]


def taxi_csv(path, seed, rows):
    """Write ``rows`` raw taxi trips and return the planted counts.

    Each anomaly is planted on 1.5-2.5 % of the rows, the share drawn
    from the seed. Every clean trip has a distinct fare (whole cents
    from the row index), so no two clean trips share the nine key
    columns. Planted anomalies, each on its own rows:
      * null pickup or dropoff timestamp (dropped by the core model);
      * exact duplicates of clean trips (collapsed to one);
      * zero or negative duration (dropped);
      * speed above 300 mph (dropped);
      * distance above 10 miles (kept, flagged ``is_long_trip``);
      * zero distance (kept, NULL ``avg_speed_mph``).
    """
    rng = np.random.default_rng(seed)

    def planted_count():
        return int(rng.integers(max(1, rows * 3 // 200), max(2, rows // 40) + 1))

    n_null, n_dup, n_nonpos, n_fast = (planted_count() for _ in range(4))
    n_clean = rows - n_null - n_dup - n_nonpos - n_fast
    base = dt.datetime(2015, 1, 1)
    recs = []

    def trip(i, kind):
        pick = base + dt.timedelta(seconds=int(rng.integers(0, 31 * 86400)))
        dur = int(rng.integers(120, 3600))
        dist = round(float(rng.uniform(0.3, 9.5)), 2)
        if kind == "long":
            dist = round(float(rng.uniform(10.5, 30.0)), 2)
            dur = int(rng.integers(1800, 7200))
        elif kind == "zero":
            dist = 0.0
        elif kind == "nonpos":
            dur = -int(rng.integers(0, 600))
        elif kind == "fast":
            dur = int(rng.integers(5, 30))
            dist = round(float(rng.uniform(5.0, 9.0)), 2)
        drop = pick + dt.timedelta(seconds=dur)
        fare = round(2.5 + i * 0.01, 2)
        r = [int(rng.integers(1, 3)), pick.strftime("%Y-%m-%d %H:%M:%S"),
             drop.strftime("%Y-%m-%d %H:%M:%S"), int(rng.integers(1, 7)), dist,
             round(float(rng.uniform(-74.05, -73.75)), 6),
             round(float(rng.uniform(40.6, 40.9)), 6), int(rng.integers(1, 7)),
             "N" if rng.random() < 0.98 else "Y",
             round(float(rng.uniform(-74.05, -73.75)), 6),
             round(float(rng.uniform(40.6, 40.9)), 6), int(rng.integers(1, 5)),
             fare, 0.5, 0.5, round(float(rng.uniform(0, 5)), 2), 0.0, 0.3]
        r.append(round(fare + 1.3 + r[15], 2))
        if kind == "null":
            r[1 if rng.random() < 0.5 else 2] = ""
        return r

    n_long, n_zero = planted_count(), planted_count()
    kinds = (["long"] * n_long + ["zero"] * n_zero
             + ["clean"] * (n_clean - n_long - n_zero))
    clean = [trip(i, k) for i, k in enumerate(kinds)]
    recs.extend(clean)
    for i in rng.choice(n_clean, n_dup, replace=False):
        recs.append(list(clean[int(i)]))
    for kind, n in (("null", n_null), ("nonpos", n_nonpos), ("fast", n_fast)):
        recs.extend(trip(n_clean + len(recs) + j, kind) for j in range(n))
    order = rng.permutation(len(recs))
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(TAXI_HEADER)
        w.writerows(recs[int(i)] for i in order)
    return {"ingested": len(recs), "core": n_clean, "long_trips": n_long,
            "null_speed": n_zero}


def arrivals(out_dir, table, seed):
    """Write a table's rows, in a seeded order, as the one arrival file
    under ``<out_dir>/<table>_arrivals`` that a stream drains."""
    t = pq.read_table(os.path.join(out_dir, f"{table}.parquet"))
    order = np.random.default_rng(seed + 1).permutation(t.num_rows)
    d = os.path.join(out_dir, f"{table}_arrivals")
    os.makedirs(d, exist_ok=True)
    pq.write_table(t.take(pa.array(order)), os.path.join(d, "part-00000.parquet"))


def main(out_dir, workload, seed, cfg):
    """Generate one workload's inputs under ``out_dir``. The taxi CSV's
    planted counts go to ``manifest.json`` for the pipeline's checks."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "dbt_pipeline":
        planted = taxi_csv(os.path.join(out_dir, "taxi.csv"), seed, cfg["taxi_rows"])
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump({"planted": planted}, f)
    else:
        star_tables(out_dir, seed, cfg["sf"], cfg["docs"], cfg["vecs"])
        arrivals(out_dir, "embeddings", seed)
