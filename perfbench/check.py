"""Output checks against DuckDB twins, run outside the timed passes.

- Registry queries: the Spark result is compared with the query's
  ``registry.oracle_sql()`` twin over the same parquet corpus:
  column names, row count and an order-insensitive multiset of values
  (floats printed with 17 significant digits, lists element-wise).
  Oracle results are cached per corpus digest and SQL text, so each
  checkout runs every oracle once.
- The reference ETL: the partitioned parquet written by the job is
  read back and compared, row multiset against row multiset, with a
  DuckDB twin of ``plans.reference_pipeline.transform`` over the same
  CSV inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb


def norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def rows_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256 of the sorted normalized rows), with the
    columns taken in sorted-name order."""
    order = [columns.index(c) for c in sorted(columns)]
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(lines), h.hexdigest()


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class QueryOracle:
    """DuckDB twins of registry queries over one corpus directory."""

    def __init__(self, corpus_dir: str, cache_path: str, oracles: dict[str, str]):
        self.corpus_dir = corpus_dir
        self.cache_path = cache_path
        self.oracles = oracles
        self.corpus_key = dir_digest(corpus_dir)[:16]
        self._con = None
        try:
            with open(cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}

    def _expected(self, name: str) -> dict:
        sql = self.oracles[name]
        key = f"{self.corpus_key}:{name}:{hashlib.sha1(sql.encode()).hexdigest()[:12]}"
        if key not in self.cache:
            if self._con is None:
                self._con = duckdb.connect()
                for f in sorted(os.listdir(self.corpus_dir)):
                    self._con.execute(
                        f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                        f"'{self.corpus_dir}/{f}'"
                    )
            rel = self._con.sql(sql)
            cols = list(rel.columns)
            n, digest = rows_digest(cols, rel.fetchall())
            self.cache[key] = {"columns": sorted(cols), "rows": n, "digest": digest}
            os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
            with open(self.cache_path, "w") as f:
                json.dump(self.cache, f, indent=1, sort_keys=True)
        return self.cache[key]

    def problem(self, name: str, columns: list[str], rows) -> str | None:
        """None when the Spark output matches the twin, else why not."""
        if name not in self.oracles:
            return None if rows else "zero rows and no oracle"
        want = self._expected(name)
        if sorted(columns) != want["columns"]:
            return f"columns {sorted(columns)} != {want['columns']}"
        n, digest = rows_digest(columns, rows)
        if n != want["rows"]:
            return f"{n} rows, oracle has {want['rows']}"
        if digest != want["digest"]:
            return "values differ from the oracle"
        return None


ETL_TWIN = """
WITH tx AS (
    SELECT transaction_id, user_id, product_id,
           CAST(amount AS FLOAT) AS amount, currency,
           CAST(replace("timestamp", 'Z', '') AS TIMESTAMP) AS ts
    FROM read_csv('{transactions}', header = true, all_varchar = true)
),
rates AS (
    SELECT currency, max_by(CAST(CAST(rate_to_usd AS FLOAT) AS DOUBLE),
                            CAST(rate_date AS TIMESTAMP)) AS rate
    FROM read_csv('{currency_rates}', header = true, all_varchar = true)
    GROUP BY currency
),
cats AS (
    SELECT product_id, category
    FROM read_csv('{product_categories}', header = true, all_varchar = true)
)
SELECT tx.transaction_id, tx.user_id, tx.product_id, cats.category,
       tx.amount, tx.currency,
       CASE WHEN tx.currency = 'USD' THEN CAST(tx.amount AS DOUBLE)
            ELSE tx.amount * coalesce(CASE WHEN rates.rate != 0 THEN rates.rate END, 1.0)
       END AS amount_usd,
       tx.ts AS "timestamp",
       CAST(tx.ts AS DATE) AS transaction_date,
       CAST(year(tx.ts) AS INTEGER) AS transaction_year,
       CAST(month(tx.ts) AS INTEGER) AS transaction_month,
       CAST(weekofyear(tx.ts) AS INTEGER) AS transaction_week,
       CAST(day(tx.ts) AS INTEGER) AS transaction_day
FROM tx
LEFT JOIN rates USING (currency)
LEFT JOIN cats USING (product_id)
"""

ETL_COLUMNS = (
    "transaction_id, user_id, product_id, category, amount, currency, "
    "amount_usd, CAST(\"timestamp\" AS TIMESTAMP) AS \"timestamp\", "
    "transaction_date, transaction_year, transaction_month, "
    "transaction_week, transaction_day"
)


def etl_problem(inputs: dict[str, str], out_dir: str) -> str | None:
    """Compare the written parquet (all partitions) with the twin,
    both directions of EXCEPT ALL, so duplicates count."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW want AS {ETL_TWIN.format(**inputs)}")
    con.execute(
        f"CREATE VIEW got AS SELECT {ETL_COLUMNS} FROM read_parquet("
        f"'{out_dir}/**/*.parquet', hive_partitioning = true)"
    )
    extra = con.sql("SELECT count(*) FROM (FROM got EXCEPT ALL FROM want)").fetchone()[0]
    missing = con.sql("SELECT count(*) FROM (FROM want EXCEPT ALL FROM got)").fetchone()[0]
    if extra or missing:
        return f"{extra} rows not in the twin, {missing} twin rows not written"
    return None
