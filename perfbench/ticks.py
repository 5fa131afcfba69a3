"""Seeded tick files for the ingest workload, and DuckDB's answer for them.

Each day file holds ticks in graft's raw event schema
(``StreamingIngest.eventSchema``: ts in epoch nanoseconds).  Per-symbol
tick counts are uneven; a few percent of each day's ticks are late
ticks for the previous day, so a merge touches two date partitions;
a small share break ``Quarantine.eventRules`` (no symbol, or a value
above the 400 cap).  ``expected_bars`` is the daily OHLCV the store
must hold once every landed file is ingested.
"""
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DAY_NS = 86_400 * 10**9
EPOCH_DAY = dt.date(2024, 1, 1)
SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.int64()),
                    ("user_id", pa.int64()), ("event_type", pa.string()),
                    ("value", pa.float64()), ("props", pa.string())])


def day_ns(day):
    return (EPOCH_DAY - dt.date(1970, 1, 1)).days * DAY_NS + day * DAY_NS


def generate(out_dir, seed, symbols, days, mean_ticks, late_frac, bad_frac):
    """Write ``days`` files events_<date>.parquet; returns (file paths,
    per-file tick counts, per-file counts of rule-breaking ticks)."""
    rng = random.Random(seed)
    names = [f"S{i:03d}" for i in range(symbols)]
    # uneven activity: lognormal weights, normalised to the mean
    weights = [rng.lognormvariate(0, 0.8) for _ in names]
    scale = mean_ticks * len(names) / sum(weights)
    counts = {s: max(5, int(w * scale)) for s, w in zip(names, weights)}
    price = {s: rng.uniform(50, 250) for s in names}
    used = {}  # (symbol, day) -> used offsets, so ts is unique per symbol
    event_id = 0
    paths, row_counts, bad_counts = [], [], []
    os.makedirs(out_dir, exist_ok=True)
    for day in range(days):
        rows, bad = [], 0
        for s in names:
            for _ in range(counts[s]):
                late = day > 0 and rng.random() < late_frac
                d = day - 1 if late else day
                taken = used.setdefault((s, d), set())
                off = rng.randrange(DAY_NS // 1000) * 1000  # micro-aligned
                while off in taken:
                    off = rng.randrange(DAY_NS // 1000) * 1000
                taken.add(off)
                price[s] = min(390.0, max(10.0, price[s] * rng.uniform(0.99, 1.01)))
                value, symbol = round(price[s], 2), s
                if rng.random() < bad_frac:
                    bad += 1
                    if rng.random() < 0.5:
                        symbol = None
                    else:
                        value = 999.0
                event_id += 1
                rows.append((event_id, day_ns(d) + off, rng.randrange(1000),
                             symbol, value, '{"src":"perfbench"}'))
        rng.shuffle(rows)
        cols = list(zip(*rows))
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)],
                                     schema=SCHEMA)
        date = EPOCH_DAY + dt.timedelta(days=day)
        path = os.path.join(out_dir, f"events_{date:%Y%m%d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
        row_counts.append(len(rows))
        bad_counts.append(bad)
    return paths, row_counts, bad_counts


def expected_bars(con, files):
    """Daily OHLCV per symbol over ``files``, as sorted tuples
    (symbol, day number, open, high, low, close, volume)."""
    lst = ", ".join(f"'{f}'" for f in files)
    return con.execute(f"""
        SELECT event_type, ts // {DAY_NS} AS day,
               arg_min(value, ts), max(value), min(value), arg_max(value, ts),
               count(*)::BIGINT
        FROM read_parquet([{lst}])
        WHERE event_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()


def stored_bars(con, store_dir):
    """The bar store's rows in the same shape as ``expected_bars``."""
    return con.execute(f"""
        SELECT symbol, CAST(epoch(timestamp) AS BIGINT) // 86400 AS day,
               open, high, low, close, volume::BIGINT
        FROM read_parquet('{store_dir}/*/*.parquet', hive_partitioning = true)
        ORDER BY 1, 2""").fetchall()
