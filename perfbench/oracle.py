"""Output checks, computed outside Spark with DuckDB.

- `gold_errors`: the POS gold table against an oracle built from the
  generator's truth rows. The SQL is this benchmark's own copy of the
  pipeline test's oracle, so a change to the tests cannot change what the
  benchmark accepts.
- `frame_errors`: a gate's Spark result against its `oracle` SQL twin,
  compared order-insensitively after a canonical rendering of values.
"""

from __future__ import annotations

import math

import pandas as pd

GOLD_ORACLE_SQL = """
WITH snap_latest AS (
    SELECT store_id, item_id, quantity, date_time FROM (
        SELECT *, row_number() OVER (
            PARTITION BY store_id, item_id ORDER BY date_time DESC) AS rn
        FROM snapshots) t
    WHERE rn = 1
),
chg AS (
    SELECT x.store_id, x.item_id, x.quantity, x.date_time
    FROM changes x
    JOIN store y ON x.store_id = y.store_id
    JOIN change_type z ON x.change_type_id = z.change_type_id
    WHERE NOT (y.name = 'online' AND z.change_type = 'bopis')
)
SELECT a.store_id, a.item_id,
       MAX(a.quantity) AS snapshot_quantity,
       CAST(COALESCE(SUM(b.quantity), 0) AS BIGINT) AS change_quantity,
       CAST(MAX(a.quantity) + COALESCE(SUM(b.quantity), 0) AS BIGINT) AS current_inventory,
       GREATEST(MAX(a.date_time), COALESCE(MAX(b.date_time), MAX(a.date_time))) AS date_time
FROM snap_latest a
LEFT OUTER JOIN chg b
  ON a.store_id = b.store_id AND a.item_id = b.item_id AND a.date_time <= b.date_time
GROUP BY a.store_id, a.item_id
"""


def gold_oracle(change_rows, snapshot_rows, stores, change_types) -> pd.DataFrame:
    changes = pd.DataFrame(
        change_rows,
        columns=["trans_id", "item_id", "store_id", "date_time", "quantity", "change_type_id"],
    )
    changes["date_time"] = pd.to_datetime(changes["date_time"])
    snapshots = pd.DataFrame(
        snapshot_rows, columns=["item_id", "employee_id", "store_id", "date_time", "quantity"]
    )
    snapshots["date_time"] = pd.to_datetime(snapshots["date_time"])
    import duckdb  # imported where a check runs, not at load

    con = duckdb.connect()
    try:
        con.register("changes", changes)
        con.register("snapshots", snapshots)
        con.register("store", pd.DataFrame(stores, columns=["store_id", "name"]))
        con.register(
            "change_type", pd.DataFrame(change_types, columns=["change_type_id", "change_type"])
        )
        return con.execute(GOLD_ORACLE_SQL).fetchdf()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.1f}" if v == int(v) and abs(v) < 1e15 else f"{v:.12g}"
        if isinstance(v, pd.Timestamp):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
            seq = v.tolist() if hasattr(v, "tolist") else list(v)
            return "[" + ",".join(norm(x) for x in seq) + "]"
        return str(v)

    out = df.reindex(sorted(df.columns), axis=1).apply(lambda col: col.map(norm))
    return out.sort_values(by=list(out.columns), ignore_index=True)


def frame_errors(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Differences between two result frames, ignoring row and column
    order; empty when they hold the same rows."""
    if sorted(got.columns) != sorted(expected.columns):
        return [f"columns: got={sorted(got.columns)} expected={sorted(expected.columns)}"]
    if len(got) != len(expected):
        return [f"row count: got={len(got)} expected={len(expected)}"]
    a, b = _canon(got), _canon(expected)
    if a.equals(b):
        return []
    first = int((~(a == b).all(axis=1)).idxmax())
    return [f"values differ at row {first}: got {a.loc[first].to_dict()} expected {b.loc[first].to_dict()}"]


def gold_errors(gold: pd.DataFrame, fixtures) -> list[str]:
    from pos_dlt_spark.generator import CHANGE_TYPES, STORES

    expected = gold_oracle(fixtures.change_rows, fixtures.snapshot_rows, STORES, CHANGE_TYPES)
    return frame_errors(gold, expected)


def duckdb_tables(data_dir: str, names: list[str]):
    """A DuckDB connection with one view per parquet table."""
    import duckdb

    con = duckdb.connect()
    for name in names:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')")
    return con
