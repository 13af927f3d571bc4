"""Seeded input generators for the benchmark.

Everything here depends only on its arguments: the same seed writes the
same bytes. The engine under test sees only the files written here.

- ``write_yellow_months``: yellow-taxi-shaped monthly parquet files. The
  column logic follows the executor-side generator of
  ``examples/yellow_scale_run.py`` (same distributions, same real-file
  pathologies: NULL passenger_count/RatecodeID/congestion_surcharge,
  out-of-year stray pickups, 0.1% exact duplicates, payment type 0),
  re-expressed with numpy so input generation costs no Spark jobs and
  does not change when that script does.
- ``write_month_variant``: a re-delivered month with changed content
  for the incremental workload.
- ``write_zone_csv``: a 265-row taxi zone lookup.
- ``write_suite_tables``: the ten tables the query suite reads
  (TPC-H-like star schema, an events stream, documents, embeddings).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR = 2023
_STRAY = np.datetime64("2008-12-31T23:59:59", "us")


def _month_bounds(month: int) -> tuple[np.datetime64, int]:
    start = np.datetime64(f"{YEAR}-{month:02d}-01T00:00:00", "us")
    nxt = np.datetime64(
        f"{YEAR + month // 12}-{month % 12 + 1:02d}-01T00:00:00", "us"
    )
    return start, int((nxt - start) / np.timedelta64(1, "s"))


def _trips(rng: np.random.Generator, month: int, n: int, strays: bool) -> dict[str, pa.Array]:
    """n yellow rows with pickups in ``month`` (plus ~0.02% strays)."""
    start, secs = _month_bounds(month)
    pickup = start + rng.integers(0, secs, n).astype("timedelta64[s]")
    if strays:
        pickup = np.where(rng.integers(0, 5000, n) == 0, _STRAY, pickup)
    else:
        rng.integers(0, 5000, n)  # keep the stream aligned with strays=True
    dropoff = pickup + (60 + rng.integers(0, 5400, n)).astype("timedelta64[s]")
    fare = 3.0 + rng.integers(0, 7000, n) / 100.0
    tip = rng.integers(0, 2000, n) / 100.0
    tolls = np.where(rng.integers(0, 20, n) == 0, 6.55, 0.0)
    extra = np.where(rng.integers(0, 2, n) == 0, 0.5, 0.0)
    return {
        "VendorID": pa.array(1 + rng.integers(0, 2, n), pa.int64()),
        "tpep_pickup_datetime": pa.array(pickup, pa.timestamp("us")),
        "tpep_dropoff_datetime": pa.array(dropoff, pa.timestamp("us")),
        "store_and_fwd_flag": pa.array(np.where(rng.integers(0, 100, n) == 0, "Y", "N")),
        "RatecodeID": pa.array(
            (1 + rng.integers(0, 6, n)).astype(float), mask=rng.integers(0, 33, n) == 0
        ),
        "PULocationID": pa.array(1 + rng.integers(0, 265, n), pa.int64()),
        "DOLocationID": pa.array(1 + rng.integers(0, 265, n), pa.int64()),
        "passenger_count": pa.array(
            (1 + rng.integers(0, 4, n)).astype(float), mask=rng.integers(0, 25, n) == 0
        ),
        "trip_distance": pa.array(rng.integers(0, 3000, n) / 100.0),
        "fare_amount": pa.array(fare),
        "extra": pa.array(extra),
        "mta_tax": pa.array(np.full(n, 0.5)),
        "tip_amount": pa.array(tip),
        "tolls_amount": pa.array(tolls),
        "improvement_surcharge": pa.array(np.full(n, 1.0)),
        "total_amount": pa.array(fare + extra + 0.5 + tip + tolls + 1.0),
        "payment_type": pa.array(rng.integers(0, 6, n).astype(float)),
        "congestion_surcharge": pa.array(np.full(n, 2.5), mask=rng.integers(0, 10, n) == 0),
        "airport_fee": pa.array(np.where(rng.integers(0, 50, n) == 0, 1.75, 0.0)),
    }


def _with_duplicates(table: pa.Table) -> pa.Table:
    # ~0.1% exact duplicate rows appended (re-delivery artifacts)
    return pa.concat_tables([table, table.slice(0, max(1, table.num_rows // 1000))])


def month_path(raw_dir: str, month: int) -> str:
    return os.path.join(raw_dir, f"{YEAR}-{month:02d}.parquet")


def write_yellow_months(raw_dir: str, seed: int, rows_per_month: int, months: range) -> None:
    """One file ``<raw_dir>/2023-MM.parquet`` per month in ``months``."""
    os.makedirs(raw_dir, exist_ok=True)
    for m in months:
        rng = np.random.default_rng([seed, m])
        table = pa.table(_trips(rng, m, rows_per_month, strays=True))
        pq.write_table(_with_duplicates(table), month_path(raw_dir, m))


def write_month_variant(raw_dir: str, seed: int, rows_per_month: int, month: int, variant: int) -> None:
    """Re-deliver ``month`` with changed content.

    The variant keeps the base month's rows, re-prices ~2% of them and
    appends ~1% late rows, all with pickups inside ``month`` — so once
    later months are loaded every late row is earlier than the latest
    pickup already in the warehouse. Stray out-of-year rows are left as
    they were, so exactly one silver month changes.
    """
    rng = np.random.default_rng([seed, month])
    base = _trips(rng, month, rows_per_month, strays=True)
    vrng = np.random.default_rng([seed, month, 1000 + variant])
    pickup = base["tpep_pickup_datetime"].to_numpy(zero_copy_only=False)
    changed = (vrng.integers(0, 50, rows_per_month) == 0) & (
        pickup != _STRAY.astype("datetime64[us]")
    )
    bump = np.where(changed, vrng.integers(1, 500, rows_per_month) / 100.0, 0.0)
    for col in ("fare_amount", "total_amount"):
        base[col] = pa.array(base[col].to_numpy() + bump)
    late = _trips(vrng, month, max(1, rows_per_month // 100), strays=False)
    table = pa.concat_tables([pa.table(base), pa.table(late)])
    pq.write_table(_with_duplicates(table), month_path(raw_dir, month))


_BOROUGHS = ["Bronx", "Brooklyn", "EWR", "Manhattan", "Queens", "Staten Island"]
_SERVICE = ["Boro Zone", "Yellow Zone", "Airports", "EWR"]


def write_zone_csv(path: str, seed: int) -> None:
    """265 rows ``LocationID,Borough,Zone,service_zone`` with a header."""
    rng = np.random.default_rng([seed, 265])
    boroughs = rng.integers(0, len(_BOROUGHS), 265)
    service = rng.integers(0, len(_SERVICE), 265)
    with open(path, "w") as f:
        f.write("LocationID,Borough,Zone,service_zone\n")
        for i in range(265):
            f.write(f"{i + 1},{_BOROUGHS[boroughs[i]]},Zone {i + 1:03d},{_SERVICE[service[i]]}\n")


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(rng: np.random.Generator, first: str, span_days: int, n: int) -> np.ndarray:
    return np.datetime64(first, "us") + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Word-salad documents; 5% are exact copies of an earlier document
    with one word appended, so near-duplicate operators find pairs."""
    texts: list[str] = []
    n_dups = n_docs // 20
    for _ in range(n_docs - n_dups):
        words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
        texts.append(" ".join(_WORDS[w] for w in words))
    for src in rng.integers(0, len(texts), n_dups):
        texts.append(texts[src] + " dup")
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS[:1] * 2 + _LANGS, n_docs),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pa.Table:
    """Unit-ish float vectors around ten label centroids."""
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.1, (10, dim))
    vecs = (centroids[labels] + rng.normal(0.0, 0.1, (n_vecs, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def suite_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """The ten suite tables with ``scale`` orders per 1,000 of TPC-H
    sf1's ratio (scale=1500 matches sf0.001's row counts)."""
    rng = np.random.default_rng([seed, 10])
    n_cust, n_supp, n_part = scale // 10, max(10, scale // 150), scale * 2 // 15
    n_orders, n_line = scale, scale * 4
    n_events, n_users = scale * 2 // 3, 15
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")
    )
    extended = rng.integers(900_00, 105_000_00, n_line) / 100.0
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": rng.integers(-999_99, 9999_99, n_cust) / 100.0,
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": rng.integers(500_00, 6100_00, n_supp) / 100.0,
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 200) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": rng.integers(1000_00, 500_000_00, n_orders) / 100.0,
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n_orders), pa.timestamp("us")),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": extended,
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, n_line), pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": rng.integers(1, 33_000, n_events) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }


def write_suite_tables(out_dir: str, seed: int, scale: int) -> None:
    """``<out_dir>/<table>.parquet`` for each suite table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in suite_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
