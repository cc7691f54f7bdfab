"""Seeded generator of Kafka-shaped bronze trade files.

One process, numpy + pyarrow only. The traffic dimensions are arguments:
row count, rows per file (one file is one streaming micro-batch), symbol
count, Zipf key skew, the share of producer-retry duplicates, the density
of trades per one-minute bar, and the share of out-of-order rows with their
maximum lateness. See ``Traffic`` for which values were observed and which
were chosen.

Invariants the output checks rely on:

- (symbol, event time) is unique among distinct trades, so ``min_by`` /
  ``max_by`` open and close have no ties and the dedup key never merges
  two distinct trades;
- a duplicate is a byte-identical payload re-sent by the producer up to
  ``retry_ms`` after the original, under a new offset;
- lateness stays below the pipeline's 2-minute watermark, and files are
  written in arrival order with increasing modification times, so the
  stream drops nothing that the batch backfill keeps.

Besides the bronze files it writes ``trades.parquet``: the distinct trades
with typed columns, read only by the output checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WATERMARK_MS = 120_000
#: 2024-03-09 21:00 UTC: the event-time span crosses a UTC midnight, so
#: silver and gold both get more than one date partition.
START_MS = 1_710_018_000_000


@dataclass(frozen=True)
class Traffic:
    """Generated traffic.

    ``rows`` and ``rows_per_file`` size the run. The next three defaults are
    the reference's captured run (BASELINE.md, "Observed figures"): 612
    bronze rows of which 17 were duplicates, 595 silver rows in 174 one-minute
    bars, read from one Kafka partition. The rest are not observed in the
    reference: chosen values, not measured traffic.
    """

    rows: int
    rows_per_file: int
    dup_share: float = 17 / 612
    trades_per_bar: float = 595 / 174
    partitions: int = 1
    # Chosen: a handful of pairs with one dominant, as on one exchange feed.
    symbols: int = 8
    zipf_s: float = 1.1
    # Chosen: lateness and retry delay well inside the 2-minute watermark.
    ooo_share: float = 0.10
    max_lateness_ms: int = 90_000
    retry_ms: int = 2_000


def _span_ms(counts: np.ndarray, trades_per_bar: float) -> int:
    """Event-time span over which uniformly placed trades, ``counts[k]`` of
    symbol ``k``, fill ``sum(counts) / trades_per_bar`` one-minute bars in
    expectation. The expected bar count grows with the span; bisect it."""
    target = counts.sum() / trades_per_bar
    lo, hi = target / counts.size, float(counts.sum())
    for _ in range(60):
        minutes = (lo + hi) / 2
        if np.sum(minutes * -np.expm1(-counts / minutes)) < target:
            lo = minutes
        else:
            hi = minutes
    return int(hi * 60_000)


def _json_payloads(sym, price, size, side, otype, ts_event, ts_ingest):
    sides = ("buy", "sell")
    otypes = ("market", "limit")
    return [
        '{"exchange":"kraken","symbol":"%s","price":%r,"size":%r,'
        '"side":"%s","order_type":"%s","ts_event":%d,"ts_ingest":%d}'
        % (s, p, z, sides[d], otypes[o], te, ti)
        for s, p, z, d, o, te, ti in zip(
            sym, price.tolist(), size.tolist(), side.tolist(), otype.tolist(),
            ts_event.tolist(), ts_ingest.tolist(),
        )
    ]


def generate(out_dir: str, traffic: Traffic, seed: int) -> dict:
    """Write ``out_dir/bronze/part-*.parquet`` and ``out_dir/trades.parquet``.

    Returns the counts the checks compare against.
    """
    t = traffic
    if t.max_lateness_ms + t.retry_ms >= WATERMARK_MS:
        raise ValueError("lateness plus retry delay must stay inside the watermark")
    rng = np.random.default_rng(seed)
    n_dup = int(round(t.rows * t.dup_share))
    n = t.rows - n_dup

    names = np.array([f"S{k:02d}/USDT" for k in range(t.symbols)])
    weights = 1.0 / np.arange(1, t.symbols + 1) ** t.zipf_s
    sym = rng.choice(t.symbols, size=n, p=weights / weights.sum())
    span_ms = _span_ms(np.bincount(sym, minlength=t.symbols), t.trades_per_bar)

    # Unique event times per symbol, and a per-symbol random-walk price.
    ts_event = np.empty(n, dtype=np.int64)
    price = np.empty(n, dtype=np.float64)
    for k in range(t.symbols):
        idx = np.flatnonzero(sym == k)
        ts = np.sort(rng.choice(span_ms, size=idx.size, replace=False))
        ts_event[idx] = START_MS + ts
        walk = np.cumsum(rng.normal(0.0, 2e-4, idx.size))
        price[idx] = np.round(100.0 * 1.7**k * np.exp(walk), 2)
    size = np.round(rng.lognormal(-3.0, 1.0, n), 8) + 1e-8
    side = rng.integers(0, 2, n)
    otype = rng.integers(0, 2, n)

    latency = rng.integers(0, 50, n)
    late = rng.random(n) < t.ooo_share
    latency[late] = rng.integers(1_000, t.max_lateness_ms, int(late.sum()))
    arrival = ts_event + latency

    payload = np.array(
        _json_payloads(names[sym], price, size, side, otype, ts_event, arrival),
        dtype=object,
    )

    orig = rng.choice(n, size=n_dup, replace=False)
    all_idx = np.concatenate([np.arange(n), orig])
    all_arrival = np.concatenate(
        [arrival, arrival[orig] + rng.integers(1, t.retry_ms, n_dup)]
    )
    order = np.lexsort((np.arange(all_idx.size), all_arrival))
    all_idx, all_arrival = all_idx[order], all_arrival[order]

    partition = (sym[all_idx] % t.partitions).astype(np.int32)
    offset = np.empty(all_idx.size, dtype=np.int64)
    for p in range(t.partitions):
        m = partition == p
        offset[m] = np.arange(int(m.sum()))

    bronze = pa.table(
        {
            "topic": pa.array(np.full(all_idx.size, "crypto.trades", dtype=object)),
            "partition": pa.array(partition),
            "offset": pa.array(offset),
            "ts_kafka": pa.array(all_arrival * 1000, pa.timestamp("us", tz="UTC")),
            "ts_type": pa.array(np.zeros(all_idx.size, dtype=np.int32)),
            "key": pa.array(names[sym[all_idx]].astype(object)),
            "value_raw": pa.array(payload[all_idx]),
        }
    )
    bronze_dir = os.path.join(out_dir, "bronze")
    os.makedirs(bronze_dir)
    files = 0
    for files, lo in enumerate(range(0, bronze.num_rows, t.rows_per_file), 1):
        path = os.path.join(bronze_dir, f"part-{files:05d}.parquet")
        pq.write_table(bronze.slice(lo, t.rows_per_file), path)
        # The file stream source reads files oldest first; explicit,
        # strictly increasing mtimes keep that order equal to arrival.
        os.utime(path, (START_MS / 1000 + files, START_MS / 1000 + files))

    pq.write_table(
        pa.table(
            {
                "symbol": pa.array(names[sym].astype(object)),
                "ts_event": pa.array(ts_event),
                "price": pa.array(price),
                "size": pa.array(size),
                "side": pa.array(np.array(["buy", "sell"], dtype=object)[side]),
            }
        ),
        os.path.join(out_dir, "trades.parquet"),
    )
    return {
        "rows": int(all_idx.size),
        "distinct": n,
        "duplicates": n_dup,
        "files": files,
        "span_h": span_ms / 3_600_000,
        "bronze_bytes": sum(
            e.stat().st_size for e in os.scandir(bronze_dir)
        ),
        "symbols": [str(s) for s in names],
    }
