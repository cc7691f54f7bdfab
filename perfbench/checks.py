"""Output checks against DuckDB, run outside every timed region.

Each check returns the number of mismatching rows, so 0 means it passed.
Spark's partitioned outputs are read with pyarrow's hive partitioning,
which decodes the escaped ``/`` in symbol directory names.
"""

from __future__ import annotations

import duckdb
import pyarrow.dataset as ds

#: Relative tolerance on the floating-point sums (volume, vwap).
REL_TOL = 1e-9

_BAR_COLS = "symbol, start_us, open, high, low, close, volume, vwap, trades"
_GOLD = """
SELECT symbol, epoch_us(bar_start) AS start_us,
       epoch_us(bar_end) - epoch_us(bar_start) AS width_us,
       bar_date::DATE AS bar_date, open, high, low, close, volume, vwap, trades
FROM {}
"""


def _bar_mismatches(ref: str, got: str) -> str:
    """Rows of ``ref`` FULL JOIN ``got`` on (symbol, start_us) that differ:
    keys, OHLC and trades exactly, volume and vwap to REL_TOL."""
    return f"""
SELECT count(*) FROM {ref} r FULL JOIN {got} g USING (symbol, start_us)
WHERE r.trades IS DISTINCT FROM g.trades
   OR r.open IS DISTINCT FROM g.open OR r.high IS DISTINCT FROM g.high
   OR r.low IS DISTINCT FROM g.low OR r.close IS DISTINCT FROM g.close
   OR NOT coalesce(abs(r.volume - g.volume) <= {REL_TOL} * abs(r.volume), false)
   OR NOT coalesce(abs(r.vwap - g.vwap) <= {REL_TOL} * abs(r.vwap), false)
"""


def _dataset(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive")


def count_rows(path: str) -> int:
    return _dataset(path).count_rows()


class Oracle:
    def __init__(self, trades_path: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            f"CREATE TABLE trades AS SELECT * FROM read_parquet('{trades_path}')"
        )
        self.con.execute(
            """CREATE TABLE ref_bars AS
            SELECT symbol, ts_event // 60000 * 60000000 AS start_us,
                   arg_min(price, ts_event) AS open, max(price) AS high,
                   min(price) AS low, arg_max(price, ts_event) AS close,
                   sum(size) AS volume, sum(price * size) / sum(size) AS vwap,
                   count(*) AS trades
            FROM trades GROUP BY ALL"""
        )

    def close(self) -> None:
        self.con.close()

    def _create(self, name: str, path: str, select: str) -> int:
        """Create table ``name`` from ``select`` over the dataset at ``path``
        (visible to it as ``_arrow``); returns its row count."""
        self.con.register("_arrow", _dataset(path).to_table())
        try:
            self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {select}")
        finally:
            self.con.unregister("_arrow")
        return self.scalar(f"SELECT count(*) FROM {name}")

    def load_gold(self, name: str, path: str) -> int:
        return self._create(name, path, _GOLD.format("_arrow"))

    def load_silver(self, name: str, path: str) -> int:
        return self._create(name, path, "SELECT * FROM _arrow")

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def gold_mismatches(self, gold: str) -> int:
        """Gold bars against DuckDB's bars over the generator's trades,
        plus any bar that is not one minute wide or has the wrong date."""
        shape = self.scalar(
            f"""SELECT count(*) FROM {gold} WHERE width_us <> 60000000
            OR bar_date <> make_timestamp(start_us)::DATE"""
        )
        return shape + self.scalar(_bar_mismatches("ref_bars", gold))

    def stream_gold_mismatches(self, batch_gold: str, stream_gold: str, watermark_us: int) -> int:
        """Emitted stream bars against the batch bars of the windows the
        final watermark closed."""
        closed = (
            f"(SELECT {_BAR_COLS} FROM {batch_gold} "
            f"WHERE start_us + width_us <= {watermark_us})"
        )
        got = f"(SELECT {_BAR_COLS} FROM {stream_gold})"
        return self.scalar(_bar_mismatches(closed, got))

    def silver_mismatches(self, a: str, b: str) -> int:
        """Rows in one silver table and not the other, on every column but
        the Kafka position of whichever copy of a duplicate was kept."""
        cols = (
            "key, value_raw, exchange, symbol, price, size, side, order_type, "
            "event_time, ingest_time, event_date"
        )
        diff = "SELECT count(*) FROM (SELECT {c} FROM {x} EXCEPT ALL SELECT {c} FROM {y})"
        return self.scalar(diff.format(c=cols, x=a, y=b)) + self.scalar(
            diff.format(c=cols, x=b, y=a)
        )

    def flag_mismatches(self, gold: str, spark_flags) -> int:
        """Spark's anomaly flags (an arrow table of symbol, ts_s,
        is_return_anom, is_volume_anom) against the same rolling-window
        logic written as a DuckDB window query over the gold parquet."""
        self.con.register("spark_flags", spark_flags)
        try:
            return self.scalar(
                f"""
WITH g AS (SELECT symbol, start_us // 1000000 AS ts_s, open, close, volume FROM {gold}),
r AS (SELECT *, lag(close) OVER w AS prev_close FROM g
      WINDOW w AS (PARTITION BY symbol ORDER BY ts_s)),
l AS (SELECT *, CASE WHEN prev_close > 0 AND close > 0
                     THEN ln(close / prev_close) END AS logret FROM r),
s AS (SELECT *, avg(logret) OVER f AS ret_mu, stddev_samp(logret) OVER f AS ret_sd,
             avg(volume) OVER f AS vol_mu, stddev_samp(volume) OVER f AS vol_sd
      FROM l WINDOW f AS (PARTITION BY symbol ORDER BY ts_s
                          RANGE BETWEEN 1800 PRECEDING AND 1 PRECEDING)),
expected AS (SELECT symbol, ts_s,
          abs(CASE WHEN ret_sd > 1e-9 THEN (logret - ret_mu) / ret_sd END) > 3
            AS is_return_anom,
          CASE WHEN vol_sd > 1e-9 THEN (volume - vol_mu) / vol_sd END > 3
            AS is_volume_anom
        FROM s)
SELECT count(*) FROM expected r FULL JOIN spark_flags f USING (symbol, ts_s)
WHERE r.is_return_anom IS DISTINCT FROM f.is_return_anom
   OR r.is_volume_anom IS DISTINCT FROM f.is_volume_anom
   OR r.ts_s IS NULL OR f.ts_s IS NULL"""
            )
        finally:
            self.con.unregister("spark_flags")

    def top_k(self, gold: str, symbol: str, k: int) -> list[int]:
        rows = self.con.execute(
            f"SELECT start_us FROM {gold} WHERE symbol = ? ORDER BY start_us DESC LIMIT {k}",
            [symbol],
        ).fetchall()
        return sorted(r[0] for r in rows)

    def lookup_count(self, gold: str, bar_date: str, symbol: str) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM {gold} WHERE bar_date = ?::DATE AND symbol = ?",
            [bar_date, symbol],
        ).fetchone()[0]
