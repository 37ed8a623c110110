"""Seeded input generators for the benchmark.

Both generators are pure functions of their seed and size: the same seed
writes the same bytes, another seed writes other data.

- `taxi_csv` writes the raw 19-column NYC taxi CSV (FIXTURES.md section 1)
  with planted rows that fail each of the ETL's filters, so the exact
  number of rows the ETL must keep is known.
- `tables` writes the ten synthetic parquet tables the gates read, with
  the schemas and value distributions of the engine's test data
  (TESTDATA.md, FIXTURES.md section 5), at a given scale factor.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TAXI_COLUMNS = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "pickup_longitude", "pickup_latitude",
    "RateCodeID", "store_and_fwd_flag", "dropoff_longitude", "dropoff_latitude",
    "payment_type", "fare_amount", "extra", "mta_tax", "tip_amount",
    "tolls_amount", "improvement_surcharge", "total_amount",
]

# Planted rows, by the ETL filter each one fails (etl/Transformations):
#   F1 trip_distance > 0 AND fare_amount > 0 AND total_amount > 0
#      AND passenger_count > 0
#   F2 trip_duration_min BETWEEN 1 AND 180
#   F3 both ends inside the lon (-75, -72) x lat (40, 42) box
#   F4 avg_speed_kmh (miles per hour) BETWEEN 0 AND 120
# and rows the ETL keeps: the duration boundaries, and payment_type 7,
# which has no lookup match and keeps a NULL payment_desc.
DROPPED = ["f1_distance", "f1_fare", "f1_total", "f1_passengers",
           "f1_passengers_null", "f2_short", "f2_long", "f3_pickup_lon",
           "f3_dropoff_lat", "f4_speed"]
KEPT = ["keep_duration_1", "keep_duration_180", "keep_payment_7"]

EPOCH_2015 = np.datetime64("2015-01-01T00:00:00", "s")


def taxi_csv(path, seed, rows):
    """Write `rows` raw taxi rows to `path`; return the expected counts."""
    rng = np.random.default_rng(seed)
    n = rows
    dist = np.round(rng.uniform(0.3, 15.0, n), 2)
    speed = rng.uniform(6.0, 40.0, n)
    # at least two minutes, so every ordinary row keeps a speed <= 40 mph
    dur_s = np.maximum(120, np.round(dist / speed * 3600)).astype(np.int64)
    pickup = EPOCH_2015 + rng.integers(0, 31 * 86400, n).astype("timedelta64[s]")
    passengers = rng.integers(1, 7, n).astype(np.float64)
    pay = rng.choice([1, 2, 3, 4], n, p=[0.6, 0.37, 0.02, 0.01])
    fare = np.round(np.maximum(2.5, 2.5 + 2.5 * dist + 0.35 * dur_s / 60
                               + rng.normal(0.0, 1.0, n)), 2)
    extra = rng.choice([0.0, 0.5, 1.0], n)
    mta = np.full(n, 0.5)
    tip = np.where(pay == 1, np.round(fare * rng.uniform(0.1, 0.25, n), 2), 0.0)
    tolls = np.where(rng.random(n) < 0.05, 5.54, 0.0)
    improvement = np.full(n, 0.3)
    cols = {
        "VendorID": rng.integers(1, 3, n),
        "passenger_count": passengers,
        "trip_distance": dist,
        "pickup_longitude": np.round(rng.uniform(-74.05, -73.75, n), 6),
        "pickup_latitude": np.round(rng.uniform(40.58, 40.90, n), 6),
        "RateCodeID": np.where(rng.random(n) < 0.97, 1, 2),
        "store_and_fwd_flag": np.where(rng.random(n) < 0.98, "N", "Y"),
        "dropoff_longitude": np.round(rng.uniform(-74.05, -73.75, n), 6),
        "dropoff_latitude": np.round(rng.uniform(40.58, 40.90, n), 6),
        "payment_type": pay,
        "fare_amount": fare,
        "extra": extra,
        "mta_tax": mta,
        "tip_amount": tip,
        "tolls_amount": tolls,
        "improvement_surcharge": improvement,
    }

    per_kind = max(3, n // 400)
    kinds = DROPPED + KEPT
    picks = rng.choice(n, per_kind * len(kinds), replace=False)
    rows_of = {kind: picks[i * per_kind:(i + 1) * per_kind] for i, kind in enumerate(kinds)}
    for kind, idx in rows_of.items():
        if kind == "f1_distance":
            dist[idx] = 0.0
        elif kind == "f1_fare":
            fare[idx] = -2.5
        elif kind == "f1_passengers":
            passengers[idx] = 0
        elif kind == "f1_passengers_null":
            passengers[idx] = np.nan
        elif kind == "f2_short":
            dur_s[idx] = 30
        elif kind == "f2_long":
            dur_s[idx] = 200 * 60
        elif kind == "f3_pickup_lon":
            cols["pickup_longitude"][idx] = 0.0
        elif kind == "f3_dropoff_lat":
            cols["dropoff_latitude"][idx] = 45.0
        elif kind == "f4_speed":
            dist[idx] = 30.0
            dur_s[idx] = 600
        elif kind == "keep_duration_1":
            dist[idx] = 1.5
            dur_s[idx] = 60
        elif kind == "keep_duration_180":
            dist[idx] = 5.0
            dur_s[idx] = 180 * 60
        elif kind == "keep_payment_7":
            pay[idx] = 7
    total = np.round(fare + extra + mta + tip + tolls + improvement, 2)
    total[rows_of["f1_total"]] = 0.0
    cols["trip_distance"] = dist
    cols["fare_amount"] = fare
    cols["passenger_count"] = passengers
    cols["payment_type"] = pay

    pickup_s = pickup.astype("datetime64[s]")
    dropoff_s = pickup_s + dur_s.astype("timedelta64[s]")
    arrays = []
    for c in TAXI_COLUMNS:
        if c == "tpep_pickup_datetime":
            arrays.append(pa.array(pickup_s, pa.timestamp("s")))
        elif c == "tpep_dropoff_datetime":
            arrays.append(pa.array(dropoff_s, pa.timestamp("s")))
        elif c == "total_amount":
            arrays.append(pa.array(total))
        elif c == "passenger_count":
            arrays.append(pa.array(passengers, mask=np.isnan(passengers)).cast(pa.int64()))
        else:
            arrays.append(pa.array(cols[c]))
    table = pa.Table.from_arrays(arrays, names=TAXI_COLUMNS)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))
    planted = {kind: len(idx) for kind, idx in rows_of.items()}
    return {"raw_rows": n, "expected_clean": n - sum(planted[k] for k in DROPPED),
            "planted": planted}


WORDS = ("a the data table row column key value join hash sort merge filter scan "
         "group agg order line part customer query stream batch window spark "
         "fast slow big small vector").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, start, end, n):
    a, b = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")) \
        .astype("datetime64[ms]")


def tables(out_dir, seed, sf):
    """Write the ten gate tables at scale factor `sf` under `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord),
                                pa.timestamp("ms")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line),
                               pa.timestamp("ms"))})
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_cust, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random word strings; one in twenty repeats an earlier
    # document with " dup" appended, so the dedup gates find clusters
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 62))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
