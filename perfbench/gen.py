"""Seeded input generator for the benchmark workloads.

One process writes every corpus a seed needs, plus a manifest that gives
each taxi file its dialect, taxi type, expected month and expected class
(`valid`, `refused` or `ignored`). The same seed always writes the same
bytes. Nothing here is timed.

Corpora:
  taxi_drift/   ~90 small monthly files in five dialects (lat/lon era,
                yellow, green, FHV with epoch-millisecond or micros
                timestamps, HVFHV with both pickup columns) plus the odd
                files a real multi-year download holds.
  taxi_bulk/    a few large single-dialect yellow months.
  hostile/<cls> one small directory per hostile file class, each with a
                clean companion file.
  tables/       the star schema + events/documents/embeddings tables the
                query registry reads.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated bytes change, so cached corpora are rebuilt
GEN_VERSION = 5

US_PER_DAY = 86_400_000_000
TS_UTC = pa.timestamp("us", tz="UTC")


def month_start_us(y, m):
    return int(np.datetime64(f"{y:04d}-{m:02d}-01", "us").astype(np.int64))


def next_month(y, m):
    return (y + 1, 1) if m == 12 else (y, m + 1)


def months(start, end, step=1):
    y, m = start
    while (y, m) <= end:
        yield y, m
        for _ in range(step):
            y, m = next_month(y, m)


# ---------------------------------------------------------------- taxi rows


def trip_times(rng, y, m, n, hot_days, mismatch_share):
    """Pickup instants (epoch micros) for one file of month (y, m).

    Most rows fall on a few hot days so (date, place) groups clear the
    min-rides filter; a tail is spread over the whole month (small groups
    the filter drops) and a share lands in the neighbouring months (the
    report's month-mismatch counter).
    """
    lo = month_start_us(y, m)
    hi = month_start_us(*next_month(y, m))
    days = (hi - lo) // US_PER_DAY
    hot = rng.choice(days, size=hot_days, replace=False)
    kind = rng.random(n)
    day = np.where(kind < 0.90, rng.choice(hot, size=n), rng.integers(0, days, n))
    us = lo + day * US_PER_DAY + rng.integers(0, US_PER_DAY, n)
    out = kind > 1.0 - mismatch_share
    shift = np.where(rng.random(n) < 0.5, -1, 1) * rng.integers(1, 20, n) * US_PER_DAY
    return np.where(out, us + shift, us)


def trip_places(rng, n, hot_ids, domain):
    kind = rng.random(n)
    return np.where(kind < 0.90, rng.choice(hot_ids, size=n),
                    rng.integers(1, domain + 1, n))


def fmt_ts_strings(us, rng, bad_share):
    s = np.datetime_as_string(us.astype("datetime64[us]"), unit="s").astype(object)
    s = np.char.replace(s.astype(str), "T", " ").astype(object)
    r = rng.random(len(us))
    s[r < bad_share / 2] = None
    s[(r >= bad_share / 2) & (r < bad_share)] = "n/a"
    return s


def null_some(arr, rng, share):
    mask = rng.random(len(arr)) < share
    return pa.array(arr, mask=mask)


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# lat/lon points on a 0.001-degree grid; tails sit off the tie point so
# round(x, 3) is the same in every engine
LAT0, LON0 = 40.700, -74.020


def latlon_file(rng, y, m, n):
    us = trip_times(rng, y, m, n, hot_days=2, mismatch_share=0.02)
    hot = rng.integers(0, 60, size=6)
    cell = np.where(rng.random(n) < 0.9, rng.choice(hot, size=n), rng.integers(0, 3000, n))
    jitter = rng.choice([0.0001, 0.0002, 0.0003, 0.0004], size=n)
    lat = np.round(LAT0 + (cell // 60) * 0.001, 3) + jitter
    lon = np.round(LON0 + (cell % 60) * 0.001, 3) + jitter
    return pa.table({
        "vendor_name": pa.array(rng.choice(["VTS", "CMT", "DDS"], n)),
        "Trip_Pickup_DateTime": pa.array(fmt_ts_strings(us, rng, 0.01), pa.string()),
        "Start_Lon": pa.array(lon),
        "Start_Lat": pa.array(lat),
        "Fare_Amt": pa.array(np.round(rng.random(n) * 40, 2)),
    })


def locid_file(rng, y, m, n, dt_col, loc_col, loc_type, domain=265):
    us = trip_times(rng, y, m, n, hot_days=2, mismatch_share=0.02)
    loc = trip_places(rng, n, rng.integers(1, domain + 1, size=6), domain)
    return pa.table({
        "VendorID": pa.array(rng.integers(1, 3, n)),
        dt_col: null_some(us, rng, 0.005).cast(TS_UTC),
        loc_col: pa.array(loc).cast(loc_type),
        "DOLocationID": pa.array(rng.integers(1, domain + 1, n)),
        "fare_amount": pa.array(np.round(rng.random(n) * 40, 2)),
    })


def fhv_file(rng, y, m, n, epoch_ms):
    us = trip_times(rng, y, m, n, hot_days=2, mismatch_share=0.02)
    loc = trip_places(rng, n, rng.integers(1, 266, size=6), 265).astype(np.float64)
    ts = (pa.array(us // 1000, pa.int64()) if epoch_ms
          else pa.array(us).cast(TS_UTC))
    return pa.table({
        "dispatching_base_num": pa.array(rng.choice(["B00013", "B02510", "B02800"], n)),
        "pickup_datetime": ts,
        "dropOff_datetime": pa.array(us + 900_000_000).cast(TS_UTC),
        # nullable double location IDs, the way the FHV files ship them
        "PUlocationID": null_some(loc, rng, 0.05),
        "DOlocationID": null_some(loc, rng, 0.05),
    })


def hvfhv_file(rng, y, m, n):
    us = trip_times(rng, y, m, n, hot_days=2, mismatch_share=0.02)
    loc = trip_places(rng, n, rng.integers(1, 266, size=6), 265)
    return pa.table({
        "hvfhs_license_num": pa.array(rng.choice(["HV0003", "HV0005"], n)),
        "request_datetime": pa.array(us - rng.integers(60, 600, n) * 1_000_000).cast(TS_UTC),
        "pickup_datetime": pa.array(us).cast(TS_UTC),
        "PULocationID": pa.array(loc),
        "DOLocationID": pa.array(rng.integers(1, 266, n)),
    })


def truncated(table, path):
    write(table, path)
    size = os.path.getsize(path)
    with open(path, "r+b") as f:
        f.truncate(size - 64)


# dialect -> (dt column, dt kind, location spec) as the detector sees it;
# the oracle rebuilds each file's rows from this record
DIALECTS = {
    "latlon": {"dt": "Trip_Pickup_DateTime", "kind": "string",
               "lat": "Start_Lat", "lon": "Start_Lon"},
    "yellow": {"dt": "tpep_pickup_datetime", "kind": "ts", "loc": "PULocationID"},
    "green": {"dt": "lpep_pickup_datetime", "kind": "ts", "loc": "PULocationID"},
    "fhv_ms": {"dt": "pickup_datetime", "kind": "epoch", "loc": "PUlocationID"},
    "fhv": {"dt": "pickup_datetime", "kind": "ts", "loc": "PUlocationID"},
    "hvfhv": {"dt": "pickup_datetime", "kind": "ts", "loc": "PULocationID"},
}


def make_dialect_file(rng, dialect, y, m, n):
    if dialect == "latlon":
        return latlon_file(rng, y, m, n)
    if dialect == "yellow":
        return locid_file(rng, y, m, n, "tpep_pickup_datetime", "PULocationID", pa.int64())
    if dialect == "green":
        return locid_file(rng, y, m, n, "lpep_pickup_datetime", "PULocationID", pa.int32())
    if dialect in ("fhv", "fhv_ms"):
        return fhv_file(rng, y, m, n, epoch_ms=dialect == "fhv_ms")
    return hvfhv_file(rng, y, m, n)


def entry(path, root, dialect, taxi, y, m, cls, rows):
    return {"path": os.path.relpath(path, root), "dialect": dialect, "taxi_type": taxi,
            "year": y, "month": m, "class": cls, "rows": rows}


def gen_taxi_drift(rng, root, rows_per_file):
    """The reference's multi-year download, thinned to one month per
    quarter or half-year: the same dialect eras and drift, about a fifth
    of the files (still well past the 64 scan groups that switch the
    planner to its broadcast-join path)."""
    out = os.path.join(root, "taxi_drift")
    files = []
    plan = (
        [("latlon", "yellow", ym) for ym in months((2009, 1), (2010, 12), 3)]
        + [("yellow", "yellow", ym) for ym in months((2011, 1), (2023, 12), 6)]
        + [("green", "green", ym) for ym in months((2015, 7), (2023, 12), 6)]
        + [("fhv_ms" if ym[0] < 2019 else "fhv", "fhv", ym)
           for ym in months((2016, 1), (2023, 12), 6)]
        + [("hvfhv", "fhvhv", ym) for ym in months((2019, 4), (2023, 12), 3)])
    for dialect, prefix, (y, m) in plan:
        n = int(rows_per_file * rng.uniform(0.8, 1.2))
        path = os.path.join(out, f"{y:04d}", f"{prefix}_tripdata_{y:04d}-{m:02d}.parquet")
        write(make_dialect_file(rng, dialect, y, m, n), path)
        taxi = "fhv" if prefix == "fhvhv" else prefix
        files.append(entry(path, root, dialect, taxi, y, m, "valid", n))
    # odd files every real download holds
    d = os.path.join(out, "2024")
    p = os.path.join(d, "green_tripdata_2024-01.parquet")
    write(make_dialect_file(rng, "green", 2024, 1, 10).slice(0, 0), p)
    files.append(entry(p, root, "green", "green", 2024, 1, "valid", 0))
    p = os.path.join(d, "yellow_tripdata_2024-02.parquet")
    truncated(make_dialect_file(rng, "yellow", 2024, 2, rows_per_file), p)
    files.append(entry(p, root, "yellow", "yellow", 2024, 2, "refused", 0))
    p = os.path.join(d, "fhv_tripdata_2024-03.parquet")
    write(pa.table({"dispatching_base_num": pa.array(["B00013"] * 10),
                    "dropOff_datetime": pa.array(np.arange(10)).cast(TS_UTC)}), p)
    files.append(entry(p, root, None, "fhv", 2024, 3, "refused", 0))
    # both a micros and a string pickup column holding the same instants:
    # the detector's candidate order picks `pickup_datetime`
    p = os.path.join(d, "yellow_tripdata_2024-04.parquet")
    t = locid_file(rng, 2024, 4, rows_per_file, "tpep_pickup_datetime", "PULocationID", pa.int64())
    us = t.column("tpep_pickup_datetime").cast(pa.int64()).to_numpy(zero_copy_only=False)
    s = np.char.replace(np.datetime_as_string(us.astype("datetime64[us]"), unit="us"), "T", " ")
    s = pa.array(s, mask=t.column("tpep_pickup_datetime").is_null().to_numpy(zero_copy_only=False))
    write(t.append_column("pickup_datetime", s), p)
    files.append(entry(p, root, "both_pickup", "yellow", 2024, 4, "valid", t.num_rows))
    p = os.path.join(out, "misc", "taxi_zone_lookup.parquet")
    write(pa.table({"LocationID": pa.array(np.arange(1, 266)),
                    "Borough": pa.array(["Manhattan"] * 265)}), p)
    files.append(entry(p, root, None, "unknown", 0, 0, "ignored", 265))
    return files


def gen_taxi_bulk(rng, root, n_files, rows_per_file):
    """A few large yellow months: one dialect, a skewed 265-zone domain."""
    out = os.path.join(root, "taxi_bulk")
    files = []
    weights = 1.0 / np.arange(1, 266) ** 1.1
    weights /= weights.sum()
    zones = rng.permutation(np.arange(1, 266))
    for i in range(n_files):
        y, m = 2023, i + 1
        lo = month_start_us(y, m)
        hi = month_start_us(*next_month(y, m))
        us = rng.integers(lo, hi, rows_per_file)
        stray = rng.random(rows_per_file) < 0.005
        us = np.where(stray, us - 40 * US_PER_DAY, us)
        t = pa.table({
            "VendorID": pa.array(rng.integers(1, 3, rows_per_file)),
            "tpep_pickup_datetime": null_some(us, rng, 0.001).cast(TS_UTC),
            "PULocationID": pa.array(rng.choice(zones, size=rows_per_file, p=weights)),
            "fare_amount": pa.array(np.round(rng.random(rows_per_file) * 40, 2)),
        })
        path = os.path.join(out, f"yellow_tripdata_{y:04d}-{m:02d}.parquet")
        write(t, path)
        files.append(entry(path, root, "yellow", "yellow", y, m, "valid", rows_per_file))
    return files


def gen_hostile(rng, root):
    """One directory per hostile class: the hostile file + a clean file.

    `expect` is the answer a correct engine gives: `valid` files must be
    read (in `wide`, with NaN location IDs treated as missing), `refused`
    files must land in skippedFiles; a crash is never acceptable.
    """
    out = os.path.join(root, "hostile")
    files = []

    def clean(cls):
        p = os.path.join(out, cls, "yellow_tripdata_2022-05.parquet")
        write(make_dialect_file(rng, "yellow", 2022, 5, 1500), p)
        files.append(dict(entry(p, root, "yellow", "yellow", 2022, 5, "valid", 1500), group=cls))

    cls = "nan_location"
    clean(cls)
    t = fhv_file(rng, 2022, 6, 1500, epoch_ms=False)
    loc = t.column("PUlocationID").to_numpy(zero_copy_only=False).copy()
    loc[::7] = np.nan
    t = t.set_column(t.schema.get_field_index("PUlocationID"), "PUlocationID", pa.array(loc))
    p = os.path.join(out, cls, "fhv_tripdata_2022-06.parquet")
    write(t, p)
    files.append(dict(entry(p, root, "fhv", "fhv", 2022, 6, "valid", 1500), group=cls))

    cls = "zero_rows_alone"
    clean(cls)
    p = os.path.join(out, cls, "green_tripdata_2022-07.parquet")
    write(make_dialect_file(rng, "green", 2022, 7, 10).slice(0, 0), p)
    files.append(dict(entry(p, root, "green", "green", 2022, 7, "valid", 0), group=cls))

    cls = "nanos_timestamps"
    clean(cls)
    t = locid_file(rng, 2022, 8, 1500, "tpep_pickup_datetime", "PULocationID", pa.int64())
    t = t.set_column(1, "tpep_pickup_datetime",
                     t.column(1).cast(pa.timestamp("ns", tz="UTC")))
    p = os.path.join(out, cls, "yellow_tripdata_2022-08.parquet")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(t, p, version="2.6", coerce_timestamps=None)
    files.append(dict(entry(p, root, "yellow", "yellow", 2022, 8, "valid", 1500), group=cls))

    cls = "truncated_footer"
    clean(cls)
    p = os.path.join(out, cls, "yellow_tripdata_2022-09.parquet")
    truncated(make_dialect_file(rng, "yellow", 2022, 9, 1500), p)
    files.append(dict(entry(p, root, "yellow", "yellow", 2022, 9, "refused", 0), group=cls))

    cls = "undetectable"
    clean(cls)
    p = os.path.join(out, cls, "fhv_tripdata_2022-10.parquet")
    write(pa.table({"dispatching_base_num": pa.array(["B00013"] * 10)}), p)
    files.append(dict(entry(p, root, None, "fhv", 2022, 10, "refused", 0), group=cls))
    return files


# ------------------------------------------------------------ query tables

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()


def gen_tables(rng, root, sf):
    """The registry's tables, shaped like the sf testdata (same schemas,
    key ranges and value domains), scaled by `sf`."""
    out = os.path.join(root, "tables")
    os.makedirs(out, exist_ok=True)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs, n_emb = 500, 500

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def ts_days(start, n_days, n):
        base = np.datetime64(start, "us").astype(np.int64)
        return pa.array(base + rng.integers(0, n_days, n) * US_PER_DAY).cast(pa.timestamp("us"))

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["cold", "small", "large", "red", "hot", "old", "blue", "new"]
    noun = ["widget", "bolt", "plate", "ring", "rod", "gear", "gizmo", "anvil"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": ts_days("1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts_days("1995-01-02", 2498, n_li)})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us").astype(np.int64)
                    + rng.integers(0, 30 * US_PER_DAY, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev)),
        "ts": pa.array(ev_ts).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev)),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": money(0.01, 330, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs)),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "de", "fr", "es"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0, 0.07, (n_emb, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        write(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


SIZES = {
    "drift_rows_per_file": 2000,
    "bulk_files": 2,
    "bulk_rows_per_file": 750_000,
    "tables_sf": 0.004,
}


def generate(workload, seed, root):
    """Write the corpora `workload` needs under `root` (once per seed)."""
    done = os.path.join(root, "manifest.json")
    if os.path.exists(done):
        with open(done) as f:
            m = json.load(f)
        if m.get("version") == GEN_VERSION and m.get("seed") == seed:
            return m
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    # one independent stream per corpus: adding a corpus never changes
    # the bytes of another
    streams = np.random.SeedSequence(seed).spawn(4)
    rngs = [np.random.default_rng(s) for s in streams]
    m = {"version": GEN_VERSION, "seed": seed, "workload": workload, "sizes": SIZES}
    if workload == "taxi":
        m["taxi_drift"] = gen_taxi_drift(rngs[0], root, SIZES["drift_rows_per_file"])
        m["taxi_bulk"] = gen_taxi_bulk(rngs[1], root, SIZES["bulk_files"],
                                       SIZES["bulk_rows_per_file"])
        m["hostile"] = gen_hostile(rngs[2], root)
    else:
        m["tables"] = gen_tables(rngs[3], root, SIZES["tables_sf"])
    with open(done, "w") as f:
        json.dump(m, f)
    return m
