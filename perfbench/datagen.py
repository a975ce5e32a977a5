"""Seeded input generators for the lake benchmark.

Everything the benchmark reads is built here from ``--seed``, inside the
run's own temp root: a TPC-H-shaped star schema plus an ``events`` table
(the same column names and types as the repository's query registry
expects), orders-shaped rows for the TxnLog tables and their CDC batches,
and landing-zone CSV.gz files for the ingestion pipeline.  The same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
EVENT_TYPES = np.array(["click", "view", "purchase", "error", "search"])

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``region nation customer supplier orders lineitem events`` as
    one parquet file each under ``out_dir``; returns row counts.  ``sf``
    scales like TPC-H (sf 0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 200)
    n_users = max(int(5_000 * sf), 15)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    _write(orders_table(rng, n_ord, n_cust), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line,
                                            dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(n_line // 30, 10), n_line,
                                           dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line,
                                           dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _EPOCH_1992 + rng.integers(0, 3650, n_line) * _DAY_US,
            pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")
    # events over two weeks: per-user gaps fall on both sides of the
    # 30-minute session cut
    ts = np.sort(rng.integers(0, 14 * _DAY_US, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    return {"customer": n_cust, "supplier": n_supp, "orders": n_ord,
            "lineitem": n_line, "events": n_ev}


def orders_table(rng: np.random.Generator, n: int, n_cust: int,
                 first_key: int = 0) -> pa.Table:
    """``orders``-shaped rows with keys ``first_key .. first_key + n - 1``."""
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n,
                                         dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(800, 500_000, n), 2),
        "o_orderdate": pa.array(
            _EPOCH_1992 + rng.integers(0, 2400, n) * _DAY_US,
            pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    })


# ---------------------------------------------------------------------------
# landing zone for the ingestion pipeline
# ---------------------------------------------------------------------------

#: Registry: LINEITEM_FEED changes layout on 2019/06/10 (6 → 7 columns), and
#: SALES_LOG declares one more column than its files carry (UNMATCH).
REGISTRY_CSV = (
    "TABLE,HEADLIST,TYPELIST,FEQ,STARTDATE,ENDDATE\n"
    "LINEITEM_FEED,L_ORDERKEY|L_SUPPKEY|L_QUANTITY|L_PRICE|L_FLAG|L_SHIPDATE,"
    "4|4|2|2|1|1,daily,2019/01/01,2019/06/10\n"
    "LINEITEM_FEED,L_ORDERKEY|L_SUPPKEY|L_QUANTITY|L_PRICE|L_FLAG|L_SHIPDATE"
    "|L_TAX,4|4|2|2|1|1|2,daily,2019/06/10,2030/01/01\n"
    "SALES_LOG,C1|C2|C3|C4|C5|C6,,daily,2019/01/01,2030/01/01\n"
    "EMPTY_FEED,A|B,,daily,2019/01/01,2030/01/01\n"
)
GROUP_MAPPING_CSV = ("TABLE,GROUP,FEQ,USER_BUCKET\n"
                     "LINEITEM_FEED,analytics,daily,user-bucket\n")

_FIRST_DAY = _dt.date(2019, 6, 1)


def landing_batch(landing_dir: str, rng: np.random.Generator, batch: int,
                  n_files: int, rows_per_file: int) -> dict:
    """Land ``n_files`` gzipped headerless CSVs for ingest pass ``batch``
    and return what routing must report for them.  Each pass writes one
    snapshot day, nine days apart, so pass 0 uses the 6-column layout and
    every later pass the 7-column one.  File 8k+7 is a quarantine or empty
    case, cycling UNMATCH, OUTOFCONFIG, IRREGULAR and EMPTY across the
    passes' 8-file groups, so two 16-file passes land all four."""
    os.makedirs(landing_dir, exist_ok=True)
    day = _FIRST_DAY + _dt.timedelta(days=batch * 9)
    ymd = day.strftime("%Y%m%d")
    wide = day >= _dt.date(2019, 6, 10)
    plan = {"processed": 0, "unmatch": 0, "outofconfig": 0, "irregular": 0,
            "empty": 0, "rows": 0, "day": day.isoformat()}
    for i in range(n_files):
        hhmmss = f"{i // 60:02d}{i % 60:02d}00"
        kind = "processed"
        if i % 8 == 7:
            kind = ("unmatch", "outofconfig", "irregular",
                    "empty")[(batch * (n_files // 8) + i // 8) % 4]
        if kind == "processed":
            name = f"LINEITEM_FEED_{ymd}_{hhmmss}.CSV.GZ"
            n = rows_per_file
            cols = {"k": rng.integers(0, 10**6, n),
                    "s": rng.integers(0, 1000, n),
                    "q": rng.integers(1, 51, n),
                    "p": np.round(rng.uniform(900, 100_000, n), 2),
                    "f": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                    "d": np.full(n, day.strftime("%Y/%m/%d"))}
            if wide:
                cols["t"] = rng.integers(0, 9, n) / 100.0
            plan["rows"] += n
            data = _csv(pa.table(cols))
        elif kind == "unmatch":
            name = f"SALES_LOG_{ymd}_{hhmmss}.CSV.GZ"
            data = _csv(pa.table({f"c{j}": rng.integers(0, 99, 4)
                                  for j in range(5)}))
        elif kind == "outofconfig":
            name = f"UNKNOWN_FEED_{ymd}_{hhmmss}.CSV.GZ"
            data = b"a,b\nc,d\n"
        elif kind == "irregular":
            name = f"badname_{batch}_{i}.CSV.GZ"
            data = b"x,y\n"
        else:
            name = f"EMPTY_FEED_{ymd}_{hhmmss}.CSV.GZ"
            data = None
        path = os.path.join(landing_dir, name)
        with open(path, "wb") as raw:
            if data is not None:
                with gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=1,
                                   mtime=0) as f:
                    f.write(data)
        plan[kind] += 1
    return plan


def _csv(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pacsv.write_csv(table, buf, pacsv.WriteOptions(include_header=False,
                                                   quoting_style="none"))
    return buf.getvalue()
