"""Result checking: one comparator, independent oracles.

Every comparison goes through the engine's driver-style canonical form
(``tools.driver_sim.canon``: columns and rows sorted, values
stringified, no float tolerance) followed by a SHA-256, so a result is
"correct" exactly when the driver would hash it equal.  Hashing always
runs outside the timed interval.

Oracles:

* registered plans (``portfolio_read``, ``corpus_dedup``): the
  registry's DuckDB oracle SQL run on the same generated tables;
* ``trade_ledger``: :class:`LedgerReplay`, a pure-Python replay of the
  seeded op log with the reference app's weighted-average cost basis
  (``trading.js``: BUY averages in, SELL keeps the average, a sell of
  more than is held is rejected, a position sold to zero is deleted);
* ``event_stream``: DuckDB latest-per-user and hourly GROUP BY queries
  over every appended wave (:func:`stream_oracle_hashes`).
"""

from __future__ import annotations

import decimal
import hashlib
import os

import pandas as pd

from tools.driver_sim import canon

HOLDING_COLUMNS = ["portfolioid", "symbol", "shares", "avgprice"]


def result_hash(df: pd.DataFrame) -> str:
    """SHA-256 of the driver-canonical form of ``df``."""
    c = canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    h.update(c.to_csv(index=False, header=False).encode())
    return h.hexdigest()


def duckdb_connection(data_dir: str):
    """DuckDB with one view per generated table."""
    import duckdb

    from relational_query_engine_sql_spark.schemas import DRIVER_TABLES

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    """``{query name: hash of its DuckDB oracle result}``."""
    from relational_query_engine_sql_spark.plans.registry import get

    con = duckdb_connection(data_dir)
    out = {}
    for n in names:
        sql = get(n).oracle
        if sql is None:
            raise ValueError(f"{n} has no oracle SQL")
        out[n] = result_hash(con.sql(sql).df())
    con.close()
    return out


# what the two event_stream consumers must hold after consuming ``ev``
# (every appended row): apply_cdc_stream keeps the newest (ts, event_id)
# per user, maintain_hourly_mv the additive hourly rollup
STREAM_ORACLES = {
    "cdc": """
        SELECT user_id, ts, event_id, value FROM ev
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    "mv": """
        SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 4) AS DOUBLE)
                   AS value_sum
        FROM ev GROUP BY 1, 2
    """,
}


def stream_oracle_hashes(appended: pd.DataFrame) -> dict[str, str]:
    """``{consumer: hash of its expected table}`` for the rows in
    ``appended``."""
    import duckdb

    con = duckdb.connect()
    con.register("ev", appended)
    out = {k: result_hash(con.sql(sql).df()) for k, sql in STREAM_ORACLES.items()}
    con.close()
    return out


def round_avg(x: float) -> float:
    """Round a cost basis to 4 decimals the way the reference stores it:
    the decimal text of the double, rounded half-up (a NUMERIC column;
    Spark's ``round`` on a double does the same)."""
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
    )


class LedgerReplay:
    """Pure-Python holdings state, advanced one trade batch at a time.

    ``positions`` maps ``portfolioid -> {symbol: (shares, avgprice)}``.
    """

    def __init__(self, positions: dict[int, dict[str, tuple[int, float]]]):
        self.positions = {p: dict(h) for p, h in positions.items()}
        self.rejected = 0

    def apply(self, trades) -> None:
        """Apply one batch of ``(portfolioid, symbol, side, shares,
        price)`` trades in order."""
        for pid, sym, side, n, price in trades:
            held = self.positions.setdefault(pid, {})
            shares, avg = held.get(sym, (0, 0.0))
            if side == "BUY":
                new_shares = shares + n
                avg = round_avg((shares * avg + n * price) / new_shares)
                held[sym] = (new_shares, avg)
            elif n > shares:
                self.rejected += 1
            elif n == shares:
                del held[sym]
            else:
                held[sym] = (shares - n, avg)

    def snapshot(self) -> dict[int, dict[str, tuple[int, float]]]:
        return {p: dict(h) for p, h in self.positions.items()}

    def frame(self, pids=None) -> pd.DataFrame:
        """Holdings of ``pids`` (default: every portfolio) as a frame."""
        keep = self.positions if pids is None else pids
        return frame([
            (p, s, sh, avg)
            for p in keep
            for s, (sh, avg) in self.positions.get(p, {}).items()
        ])


def frame(rows) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=HOLDING_COLUMNS)
    return df.astype(
        {"portfolioid": "int64", "shares": "int64", "avgprice": "float64"}
    )
