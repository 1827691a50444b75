"""Seeded input of the ``etl_write`` workload: the reference job's three
CSV inputs (transactions, currency rates, product categories) with the
schemas of FIXTURES.md section A. A pure function of its seed: the same
seed gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

#: currencies in the transactions CSV; ``XYZ`` has no rate row (its
#: amount converts at 1.0) and ``EUR`` has two rate dates (the later
#: one wins)
CURRENCIES = ("USD", "EUR", "GBP", "JPY", "INR", "CAD", "XYZ")
CURRENCY_P = (0.40, 0.15, 0.10, 0.10, 0.10, 0.10, 0.05)
RATES_CSV = (
    "currency,rate_to_usd,rate_date\n"
    "EUR,1.05,2025-01-01T00:00:00\n"
    "EUR,1.0875,2025-06-01T00:00:00\n"
    "GBP,1.27,2025-03-01T00:00:00\n"
    "JPY,0.0067,2025-03-01T00:00:00\n"
    "INR,0.012,2025-03-01T00:00:00\n"
    "CAD,0.74,2025-03-01T00:00:00\n"
)
CATEGORIES = (
    "electronics books toys garden grocery sports beauty home auto "
    "music office health"
).split()


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"))


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def write_etl_inputs(out_dir: str, seed: int, n_rows: int) -> dict[str, str]:
    """The reference job's three CSV inputs. Product ids run over
    1.2x the categorised ids, so about a sixth of transactions have no
    category (NULL after the left join)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_products = 20_000
    ids = np.arange(n_rows)
    cents = rng.integers(100, 100_000, n_rows)
    tx = pa.table(
        {
            "transaction_id": pc.cast(pa.array(ids), pa.string()),
            "user_id": pc.cast(pa.array(rng.integers(1, 50_000, n_rows)), pa.string()),
            "product_id": pc.binary_join_element_wise(
                "P",
                pc.cast(pa.array(rng.integers(0, n_products * 6 // 5, n_rows)), pa.string()),
                "",
            ),
            "amount": pc.cast(pa.array(cents / 100.0), pa.string()),
            "currency": _choice(rng, CURRENCIES, n_rows, CURRENCY_P),
            "timestamp": pc.strftime(
                _ts(dt.datetime(2025, 1, 1), rng.integers(0, 365 * 86400, n_rows)).cast(
                    pa.timestamp("s")
                ),
                format="%Y-%m-%dT%H:%M:%SZ",
            ),
        }
    )
    cats = pa.table(
        {
            "product_id": pa.array([f"P{i}" for i in range(n_products)]),
            "category": _choice(rng, CATEGORIES, n_products),
        }
    )
    paths = {
        "transactions": os.path.join(out_dir, "transactions.csv"),
        "currency_rates": os.path.join(out_dir, "currency_rates.csv"),
        "product_categories": os.path.join(out_dir, "product_categories.csv"),
    }
    opts = pacsv.WriteOptions(quoting_style="none")
    pacsv.write_csv(tx, paths["transactions"], opts)
    pacsv.write_csv(cats, paths["product_categories"], opts)
    with open(paths["currency_rates"], "w") as f:
        f.write(RATES_CSV)
    return paths
