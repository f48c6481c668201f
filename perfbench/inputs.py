"""Seeded input generators and the answers expected from them.

Everything here is numpy + pyarrow, so inputs are made without Spark and the
same seed always yields byte-identical tables (``checksum``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The paper's raw table has 1.3M transactions over 983 cards and 537 days
# from 2019-01-01. Here: all 983 cards, but 30 days and 65k rows (the paper's
# rows per card-day), so one run fits its time budget.
TXN_ROWS = 65_000
N_CARDS = 983
N_DAYS = 30
TXN_START = dt.datetime(2019, 1, 1, tzinfo=dt.timezone.utc)

CATEGORIES = [
    "entertainment", "food_dining", "gas_transport", "grocery_net",
    "grocery_pos", "health_fitness", "home", "kids_pets", "misc_net",
    "misc_pos", "personal_care", "shopping_net", "shopping_pos", "travel",
]


def checksum(table: pa.Table) -> str:
    """SHA-256 of the table's Arrow IPC stream (schema and every value)."""
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def _utc_us(seconds: np.ndarray, origin: dt.datetime) -> pa.Array:
    base = int(origin.timestamp()) * 1_000_000
    return pa.array(base + seconds.astype(np.int64) * 1_000_000,
                    type=pa.timestamp("us", tz="UTC"))


def transactions(seed: int, rows: int = TXN_ROWS, cards: int = N_CARDS,
                 days: int = N_DAYS) -> pa.Table:
    """Raw card transactions in ``TRANSACTIONS_SCHEMA`` column order.

    Card activity is lognormal (a few busy cards, a long tail), timestamps
    are uniform over ``days`` at one-second resolution, and per-card fields
    (home location, gender, date of birth, city size) are fixed per card.
    """
    rng = np.random.default_rng(seed)
    # sorted distinct 16-digit card numbers
    card_ids = 10**15 + np.unique(rng.integers(0, 10**9, 2 * cards))[:cards]
    weight = rng.lognormal(0.0, 1.0, cards)
    card = rng.choice(cards, rows, p=weight / weight.sum())
    secs = rng.integers(0, days * 86_400, rows)
    home_lat = rng.normal(38.5, 5.1, cards)
    home_long = rng.normal(-90.2, 13.7, cards)
    dob_secs = rng.integers(-40 * 365 * 86_400, -18 * 365 * 86_400, cards)
    zips = rng.integers(10_000, 99_999, rows).astype(np.float64)
    zips[rng.random(rows) < 0.15] = np.nan
    return pa.table({
        "trans_date_trans_time": _utc_us(secs, TXN_START),
        "cc_num": pa.array(card_ids[card]),
        "merchant": pa.array([f"merchant_{m}" for m in rng.integers(0, 693, rows)]),
        "category": pa.array(np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), rows)]),
        "amt": pa.array(np.round(rng.exponential(70.0, rows) + 1.0, 2)),
        "gender": pa.array(np.where(rng.random(cards) < 0.5, "M", "F")[card]),
        "lat": pa.array(home_lat[card]),
        "long": pa.array(home_long[card]),
        "city_pop": pa.array(rng.integers(100, 3_000_000, cards)[card]),
        "dob": _utc_us(dob_secs[card], TXN_START),
        "trans_num": pa.array([f"{v:032x}" for v in rng.integers(0, 2**63, rows)]),
        "merch_lat": pa.array(home_lat[card] + rng.uniform(-1, 1, rows)),
        "merch_long": pa.array(home_long[card] + rng.uniform(-1, 1, rows)),
        "is_fraud": pa.array((rng.random(rows) < 0.006).astype(np.int32)),
        "merch_zipcode": pa.array(zips, from_pandas=True),
    })


class TxnAnswers:
    """Expected serving answers, computed from the raw arrays alone."""

    def __init__(self, txns: pa.Table):
        cc = txns.column("cc_num").to_numpy()
        ts = txns.column("trans_date_trans_time").cast(pa.int64()).to_numpy()
        amt = txns.column("amt").to_numpy()
        keys, inv, counts = np.unique(cc, return_inverse=True, return_counts=True)
        latest = np.full(len(keys), np.iinfo(np.int64).min)
        np.maximum.at(latest, inv, ts)
        amt_cents = np.zeros(len(keys), dtype=np.int64)
        np.add.at(amt_cents, inv, np.round(amt * 100).astype(np.int64))
        self.keys = keys
        self.rows_per_key = dict(zip(keys.tolist(), counts.tolist()))
        self.latest_us_per_key = dict(zip(keys.tolist(), latest.tolist()))
        self.amt_cents_per_key = dict(zip(keys.tolist(), amt_cents.tolist()))
        day = (ts // 86_400_000_000).astype(np.int64)
        self.first_day = int(day.min())
        self.rows_per_day = np.bincount(day - self.first_day)
        self.cum_rows_by_key = np.cumsum(counts)

    def rows_in_days(self, first: int, last: int) -> int:
        """Rows whose UTC day index (days since epoch) is in [first, last]."""
        lo = max(first - self.first_day, 0)
        return int(self.rows_per_day[lo:last - self.first_day + 1].sum())

    def bulk_boundary(self, limit: int) -> tuple[int, dict[int, int]]:
        """For the first ``limit`` rows in key order: the last key reached
        and the full row count of every key before it."""
        i = int(np.searchsorted(self.cum_rows_by_key, limit))
        full = {int(k): int(self.rows_per_key[int(k)]) for k in self.keys[:i]}
        return int(self.keys[i]), full


def zipf_keys(rng: np.random.Generator, keys: np.ndarray, n: int,
              s: float = 1.1) -> np.ndarray:
    """``n`` draws from ``keys`` with Zipf(s) popularity over a seeded
    ranking of the keys."""
    ranked = rng.permutation(keys)
    p = 1.0 / np.arange(1, len(keys) + 1) ** s
    return ranked[rng.choice(len(keys), n, p=p / p.sum())]


# -- the registry queries' star schema, for the operator mix -----------------

_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order join stream dup group query data "
          "filter customer column small big vector").split()
_ADJ = "small blue cold old new hot red large".split()
_NOUN = "widget rod ring anvil plate bolt gear gizmo".split()


def _ts_us(rng, n, lo: dt.datetime, days: int, whole_days: bool) -> pa.Array:
    if whole_days:
        off = rng.integers(0, days, n).astype(np.int64) * 86_400_000_000
    else:
        off = np.sort(rng.integers(0, days * 86_400_000_000, n))
    base = int(lo.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + off, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def testdata(seed: int, sf: float) -> dict[str, pa.Table]:
    """Tables with the names, columns and value ranges of the generated star
    schema the registry queries read (``schemas.TESTDATA_TABLES``), at scale
    ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 2)
    pick = lambda vals, n: pa.array(np.array(vals)[rng.integers(0, len(vals), n)])  # noqa: E731
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    t = {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts_us(rng, n_ord, dt.datetime(1995, 1, 1), 2404, True),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _ts_us(rng, n_li, dt.datetime(1995, 1, 2), 2498, True),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts_us(rng, n_ev, dt.datetime(2024, 1, 1), 30, False),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.clip(np.round(rng.gamma(2.0, 30.0, n_ev), 2), 0.01, 499.99)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    texts = [" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)])
             for k in rng.integers(8, 100, 500)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(500, dtype=np.int64)),
        "text": texts,
        "lang": pick(["en", "en", "en", "es", "zh", "de", "fr"], 500),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    centers = rng.normal(0, 0.15, (10, 64))
    label = rng.integers(0, 10, 500)
    vecs = (centers[label] + rng.normal(0, 0.08, (500, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(500, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(label),
    })
    return t


def write_testdata(tables: dict[str, pa.Table], sf_dir: str) -> int:
    """One parquet file per table, the layout ``load_table`` reads; returns
    bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = f"{sf_dir}/{name}.parquet"
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
