"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, so the
same seed always yields byte-identical inputs.

- taxi_month: yellow-taxi CSV for etl_medallion (a base month plus
  day-sized incremental batches) and the row counts silver and gold must
  end up with.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyarrow import csv

TAXI_COLUMNS = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge", "airport_fee"]
DEDUP_KEY = ["tpep_pickup_datetime", "tpep_dropoff_datetime", "VendorID",
             "total_amount"]


def _trips(rng, n, day0, days):
    """n valid trips with pickups spread over `days` days from `day0`."""
    start = np.datetime64(day0, "s")
    pickup = start + rng.integers(0, days * 86400, n).astype("timedelta64[s]")
    dur = rng.integers(120, 3600, n).astype("timedelta64[s]")
    dist = np.round(rng.gamma(2.0, 1.6, n) + 0.1, 2)
    fare = np.round(3.0 + dist * 2.5 + rng.random(n) * 4, 2)
    extra = rng.choice([0.0, 0.5, 1.0, 2.5], n)
    tip = np.round(fare * rng.choice([0.0, 0.1, 0.15, 0.2], n), 2)
    tolls = rng.choice([0.0, 0.0, 0.0, 6.55], n)
    total = np.round(fare + extra + 0.5 + tip + tolls + 0.3 + 2.5, 2)
    return pd.DataFrame({
        "VendorID": rng.integers(1, 3, n),
        "tpep_pickup_datetime": pickup,
        "tpep_dropoff_datetime": pickup + dur,
        "passenger_count": rng.integers(1, 6, n),
        "trip_distance": dist,
        "RatecodeID": rng.choice([1, 1, 1, 2, 5], n),
        "store_and_fwd_flag": rng.choice(["N", "N", "N", "Y"], n),
        "PULocationID": rng.integers(1, 264, n),
        "DOLocationID": rng.integers(1, 264, n),
        "payment_type": rng.integers(1, 5, n),
        "fare_amount": fare, "extra": extra, "mta_tax": 0.5,
        "tip_amount": tip, "tolls_amount": tolls,
        "improvement_surcharge": 0.3, "total_amount": total,
        "congestion_surcharge": 2.5,
        "airport_fee": rng.choice([0.0, 0.0, 0.0, 1.25], n),
    })[TAXI_COLUMNS]


def _spoil(rng, df, bad_frac, dup_frac):
    """Breaks a DQ filter on ~bad_frac of the rows (zero distance, or a
    negative fare and total) and appends ~dup_frac dedup-key duplicates of
    valid rows. Returns (frame, number of distinct valid keys)."""
    n = len(df)
    bad = rng.random(n) < bad_frac
    zero = bad & (rng.random(n) < 0.6)
    neg = bad & ~zero
    df.loc[zero, "trip_distance"] = 0.0
    df.loc[neg, "fare_amount"] = -df.loc[neg, "fare_amount"]
    df.loc[neg, "total_amount"] = -df.loc[neg, "total_amount"]
    valid = df[~bad]
    dups = valid.sample(n=int(n * dup_frac), random_state=rng.integers(2**31))
    dups = dups.assign(passenger_count=rng.integers(1, 6, len(dups)))
    out = pd.concat([df, dups]).sample(frac=1.0, random_state=rng.integers(2**31))
    return out, valid


def _write_csv(df, path):
    """Writes the frame as one CSV file: money with two decimals,
    timestamps as `YYYY-MM-DD HH:MM:SS`, nothing quoted."""
    cols = {}
    for c in df.columns:
        v = df[c].values
        if v.dtype.kind == "f":
            cols[c] = pa.array(v).cast(pa.decimal128(12, 2), safe=False)
        elif v.dtype.kind == "M":
            cols[c] = pa.array(v.astype("datetime64[s]"))
        else:
            cols[c] = pa.array(v)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "wb") as f:
        f.write((",".join(df.columns) + "\n").encode())
        csv.write_csv(pa.table(cols), f, csv.WriteOptions(
            include_header=False, quoting_style="none"))


def taxi_month(out, seed, rows, batches, bad_frac=0.05, dup_frac=0.01,
               late_frac=0.05):
    """Base month (January 2023) of `rows` trips plus `batches` one-day
    batches (February 1st on), each about a day of trips with ~late_frac
    late rows from January that the watermark filter must drop. Writes
    `expected.txt`: the planted row counts the pipeline must reproduce."""
    rng = np.random.default_rng(seed)
    exp = {"batches": batches}
    base, valid = _spoil(rng, _trips(rng, rows, "2023-01-01", 31),
                         bad_frac, dup_frac)
    _write_csv(base, f"{out}/base")
    keys = set(map(tuple, valid[DEDUP_KEY].astype(str).values))
    exp["rows_full"] = len(base)
    exp["silver_full"] = len(keys)
    per_day = max(1, rows // 31)
    for b in range(1, batches + 1):
        day = (np.datetime64("2023-02-01") + np.timedelta64(b - 1, "D")).astype(str)
        on_time = _trips(rng, per_day, day, 1)
        late = _trips(rng, max(1, int(per_day * late_frac)), "2023-01-01", 31)
        batch, valid = _spoil(rng, pd.concat([on_time, late]), bad_frac, dup_frac)
        _write_csv(batch, f"{out}/batch_{b:02d}")
        fresh = valid[valid["tpep_pickup_datetime"] >= np.datetime64(day)]
        new_keys = set(map(tuple, fresh[DEDUP_KEY].astype(str).values))
        keys |= new_keys
        exp[f"rows_batch_{b}"] = len(batch)
        exp[f"batch_valid_{b}"] = len(new_keys)
        exp[f"silver_after_{b}"] = len(keys)
    with open(f"{out}/expected.txt", "w") as f:
        for k, v in exp.items():
            f.write(f"{k} {v}\n")
