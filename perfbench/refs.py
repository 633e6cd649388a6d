"""Independent references for the correctness checks.

Each check recomputes a workload's answer from the same generated files
outside Spark: in DuckDB, with the engine's own oracle SQL where the
repository has one (``__spark_entry__.oracle_sql()``), or in NumPy.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pyarrow as pa

#: relative tolerance of the ``close`` columns of :func:`same_rows`
REL_TOL = 1e-9
#: the reference's retail-cart example: clicks within CART_DISCOUNT_S of a
#: user's first cart event are priced at CART_DISCOUNT of their value
CART_DISCOUNT = 0.9
CART_DISCOUNT_S = 3600


def _duck(sql: str, **tables: pa.Table) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, table in tables.items():
            con.register(name, table)
        return con.execute(sql).df()
    finally:
        con.close()


def oracle(name: str, **tables: pa.Table) -> pd.DataFrame:
    """The repository's oracle query ``name`` over the given tables."""
    import __spark_entry__

    return _duck(__spark_entry__.oracle_sql()[name], **tables)


def sliding_window(events: pa.Table) -> pd.DataFrame:
    """``sliding_window_agg(window='2 minutes', slide='1 minute',
    partition_by=['user_id'])``: the oracle's ``stream_sliding_2min``
    with the per-user key added -- every event falls in the window that
    starts at its minute and the one that starts a minute earlier."""
    return _duck("""
        WITH shifted AS (
            SELECT date_trunc('minute', ts) AS ws, user_id, value FROM events
            UNION ALL
            SELECT date_trunc('minute', ts) - INTERVAL 1 MINUTE, user_id, value
            FROM events)
        SELECT ws AS window_start, ws + INTERVAL 2 MINUTES AS window_end,
               user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               AVG(value) AS avg_value
        FROM shifted GROUP BY ws, user_id
    """, events=events)


def asof_views(events: pa.Table) -> pd.DataFrame:
    """Each click with the latest view value of its user as of the click
    (inclusive, ties broken by event id) -- the oracle's
    ``trade_pnl_asof`` carry with clicks in place of purchases."""
    return _duck("""
        WITH s AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'view' THEN value END AS quote,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side
            FROM events WHERE event_type IN ('click', 'view')),
        carried AS (
            SELECT *, LAST_VALUE(quote IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id, side
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid
            FROM s)
        SELECT event_id, ts, user_id, mid FROM carried WHERE side = 1
    """, events=events)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame,
              exact: list[str] | None = None,
              close: list[str] | None = None) -> tuple[bool, str]:
    """Order-insensitive row equality.  By default every column must be
    exactly equal; with ``exact``/``close`` given, the remaining columns
    are the row key, ``exact`` columns must match exactly and ``close``
    columns to ``REL_TOL`` (floating-point sums whose order Spark does
    not fix)."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != {len(want)} expected"
    close = close or []
    if exact is None and not close:
        a, b = _normalize(got), _normalize(want)
        diff = ~((a == b) | (a.isna() & b.isna())).all(axis=1)
        if diff.any():
            return False, f"{int(diff.sum())} rows differ, first:\n{a[diff].head(2)}\n{b[diff].head(2)}"
        return True, ""
    keys = [c for c in got.columns if c not in (exact or []) and c not in close]
    a = _normalize(got).sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = _normalize(want).sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in keys + (exact or []):
        same = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
        if not same.all():
            return False, f"column {c}: {int((~same).sum())} rows differ"
    for c in close:
        x, y = a[c].to_numpy(float), b[c].to_numpy(float)
        if not all(math.isclose(p, q, rel_tol=REL_TOL) for p, q in zip(x, y)):
            return False, f"column {c}: values differ beyond {REL_TOL}"
    return True, ""


def cart_fold(events: pa.Table) -> pd.DataFrame:
    """Each user's final FIFO cart, folded event by event in Python: the
    reference's retail-cart example (clicks add ``vol`` items at the
    event's value, discounted within ``CART_DISCOUNT_S`` of the user's
    first cart event; errors remove ``vol`` items, oldest first).  Money
    in integer tenth-cents, as the engine keeps it.  The repository's
    recursive-CTE oracle ``cart_fold_state`` computes the same table, but
    its recursion runs once per event of the hottest user, which Zipf
    skew makes the slowest part of a run's checks."""
    df = events.select(["event_id", "ts", "user_id", "event_type", "value",
                        "props"]).to_pandas()
    df = df[df["event_type"].isin(["click", "error"])]
    df = df.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    vol = df["props"].str.extract(r"([0-9]+)")[0].astype(int) + 1
    rows = []
    for user, g in df.assign(vol=vol).groupby("user_id", sort=True):
        t_end = g["ts"].iloc[0] + pd.Timedelta(seconds=CART_DISCOUNT_S)
        cart: list[list[int]] = []
        for kind, qty, value, ts in zip(g["event_type"], g["vol"], g["value"], g["ts"]):
            if kind == "click":
                cents = round(value * 100)
                cart.append([int(qty), round(cents * 10 * (CART_DISCOUNT if ts < t_end else 1.0))])
                continue
            qty = int(qty)
            while qty > 0 and cart:
                take = min(qty, cart[0][0])
                cart[0][0] -= take
                qty -= take
                if cart[0][0] == 0:
                    cart.pop(0)
        rows.append((int(user), len(g), sum(q for q, _ in cart),
                     sum(q * c for q, c in cart) / 1000.0))
    return pd.DataFrame(rows, columns=["user_id", "n_updates", "cart_qty", "cart_value"])
