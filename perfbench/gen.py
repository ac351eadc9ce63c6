"""Seeded inputs for the perfbench workloads.

Every input comes from numpy's generator seeded with (seed, workload), so
the same seed gives the same files. Nothing here calls the program: the
program only ever sees these files. `SIZES` is the make-up of each input
(the README lists it too).
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = pd.Timestamp("2024-01-01", tz="UTC")
MINUTE_US = 60_000_000
HOUR_US = 60 * MINUTE_US
DAY_US = 24 * HOUR_US

SIZES = {
    "lake_mixed": {"symbols": 8, "base_days": 5, "append_hours": 2,
                   "merge_symbols": 2, "rounds": 8, "recent_bias": 0.7},
    "stream_ingest": {"symbols": 8, "backlog_files": 12, "timed_files": 4,
                      "min_timed_files": 2, "period_ms": 15000,
                      "negative_volume": 0.005, "ohlc_swap": 0.005,
                      "replays": 0.01},
}
WORKLOAD_CODE = {"lake_mixed": 2, "stream_ingest": 3}


def rng_for(workload, seed):
    return np.random.default_rng([seed, WORKLOAD_CODE[workload]])


def symbols(n):
    return [f"SYM{i:02d}" for i in range(n)]


def bars(rng, syms, start_us, minutes):
    """Clean 1-minute OHLCV bars: a log random walk per symbol, prices on a
    0.0001 grid with low <= min(open, close) <= max(open, close) <= high."""
    frames = []
    for i, s in enumerate(syms):
        base = 50.0 * (i + 1)
        ret = rng.normal(0.0, 0.001, minutes)
        close = np.round(base * np.exp(np.cumsum(ret)), 4)
        open_ = np.round(np.concatenate([[base], close[:-1]]), 4)
        wick = np.abs(rng.normal(0.0, 0.0005, (2, minutes)))
        high = np.ceil(np.maximum(open_, close) * (1 + wick[0]) * 1e4) / 1e4
        low = np.floor(np.minimum(open_, close) * (1 - wick[1]) * 1e4) / 1e4
        vol = np.round(np.exp(rng.normal(3.0, 1.0, minutes)), 2)
        frames.append(pd.DataFrame({
            "symbol": s,
            "ts_us": start_us + np.arange(minutes, dtype=np.int64) * MINUTE_US,
            "open": open_, "high": high, "low": low, "close": close,
            "volume": vol}))
    return pd.concat(frames, ignore_index=True)


def ts_array(us, tz):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(
        pa.timestamp("us", tz=tz))


def write_parquet(df, path, extra_ts=(), tz=None):
    """Timestamps zone-less (the engine's canonical TIMESTAMP_NTZ) unless a
    zone is given."""
    cols = {}
    for c in df.columns:
        if c == "ts_us":
            cols["ts"] = ts_array(df[c], tz)
        elif c in extra_ts:
            cols[c[:-3]] = ts_array(df[c], tz)
        else:
            cols[c] = pa.array(df[c])
    pq.write_table(pa.table(cols), path)


def plant(rng, n, rates):
    """Disjoint row sets, one per named rate."""
    order = rng.permutation(n)
    out, at = {}, 0
    for name, rate in rates:
        k = int(round(n * rate))
        out[name] = np.sort(order[at:at + k])
        at += k
    return out, order[at:]


def lake_frame(df, rev):
    df = df.copy()
    df["bucket_us"] = df["ts_us"] // HOUR_US * HOUR_US
    df["rev"] = np.int64(rev)
    return df[["symbol", "ts_us", "bucket_us", "open", "high", "low", "close",
               "volume", "rev"]]


def gen_lake(rng, out):
    z = SIZES["lake_mixed"]
    syms = symbols(z["symbols"])
    d = os.path.join(out, "lake")
    for sub in ("base", "appends", "merges"):
        os.makedirs(os.path.join(d, sub))
    start = EPOCH.value // 1000
    end = start + z["base_days"] * DAY_US
    write_parquet(lake_frame(bars(rng, syms, start, z["base_days"] * 1440), 0),
                  os.path.join(d, "base", "part-0.parquet"), extra_ts=("bucket_us",))

    # the merge pruned on (ts, symbol): its input never depends on the seed
    fixed = pd.DataFrame({"symbol": ["SYM00"], "ts_us": [start],
                          "open": [1.0], "high": [2.0], "low": [0.5],
                          "close": [1.5], "volume": [10.0]})
    write_parquet(lake_frame(fixed, 1_000_000), os.path.join(d, "merge_by_symbol.parquet"),
                  extra_ts=("bucket_us",))

    def point():
        lo = end - DAY_US if rng.random() < z["recent_bias"] else start
        m = rng.integers(0, (end - lo) // MINUTE_US)
        return {"op": "point", "symbol": syms[rng.integers(len(syms))],
                "ts_us": int(lo + m * MINUTE_US)}

    def day_range():
        day = rng.integers(0, (end - start) // DAY_US)
        lo = start + int(day) * DAY_US
        return {"op": "range", "symbol": syms[rng.integers(len(syms))],
                "from_us": lo, "to_us": lo + DAY_US - 1}

    def append(r, k):
        # new intervals arrive as exchange CSV exports
        nonlocal end
        rel = f"appends/r{r:03d}-{k}.csv"
        minutes = z["append_hours"] * 60
        df = bars(rng, syms, end, minutes)
        df["ts"] = pd.to_datetime(df["ts_us"], unit="us").dt.strftime("%Y-%m-%d %H:%M:%S")
        df[["symbol", "ts", "open", "high", "low", "close", "volume"]].to_csv(
            os.path.join(d, rel), index=False, float_format="%.4f")
        end += minutes * MINUTE_US
        return {"op": "append", "file": rel}

    rounds = []
    for r in range(z["rounds"]):
        ops = [append(r, 0), point(), day_range(), point(),
               append(r, 1), point(), day_range(), point()]
        week_lo = (end - 7 * DAY_US) // HOUR_US * HOUR_US
        ops.append({"op": "refresh", "symbol": syms[rng.integers(len(syms))],
                    "from_us": week_lo, "to_us": end})
        hour = start + int(rng.integers(0, (end - start) // HOUR_US)) * HOUR_US
        picked = rng.choice(syms, z["merge_symbols"], replace=False)
        corr = bars(rng, list(picked), hour, 60)
        rel = f"merges/r{r:03d}.parquet"
        write_parquet(lake_frame(corr, r + 1), os.path.join(d, rel), extra_ts=("bucket_us",))
        ops += [{"op": "merge", "file": rel},
                {"op": "merge_by_symbol", "file": "merge_by_symbol.parquet"},
                {"op": "compact"}, {"op": "mv_rebuild"}]
        rounds.append(ops)
    with open(os.path.join(d, "ops.json"), "w") as f:
        json.dump({"rounds": rounds}, f)


def gen_stream(rng, out):
    z = SIZES["stream_ingest"]
    syms = symbols(z["symbols"])
    d = os.path.join(out, "stream")
    os.makedirs(d)
    start = EPOCH.value // 1000
    n = z["backlog_files"] + z["timed_files"]
    prev = None
    names = []
    backlog_bars = 0
    for i in range(n):
        df = bars(rng, syms, start + i * HOUR_US, 60)
        sets, clean = plant(rng, len(df), [("negative_volume", z["negative_volume"]),
                                           ("ohlc_swap", z["ohlc_swap"])])
        df.loc[sets["negative_volume"], "volume"] *= -1
        sw = sets["ohlc_swap"]
        df.loc[sw, ["high", "low"]] = df.loc[sw, ["low", "high"]].to_numpy()
        body = df
        if prev is not None:  # retransmissions of the previous hour
            k = int(round(len(prev) * z["replays"]))
            body = pd.concat([df, prev.iloc[rng.choice(len(prev), k, replace=False)]],
                             ignore_index=True)
        body = body.iloc[rng.permutation(len(body))]
        name = f"bars-{i:04d}.parquet"
        # event time for a watermark must be a zoned TIMESTAMP
        write_parquet(body[["symbol", "ts_us", "open", "high", "low", "close", "volume"]],
                      os.path.join(d, name), tz="UTC")
        if i < z["backlog_files"]:
            backlog_bars += len(body)
        names.append(name)
        prev = df
    meta = {"backlog_files": names[:z["backlog_files"]],
            "timed_files": names[z["backlog_files"]:],
            "backlog_bars": backlog_bars, "period_ms": z["period_ms"],
            "min_timed_files": z["min_timed_files"]}
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)


GENERATORS = {"lake_mixed": gen_lake, "stream_ingest": gen_stream}


def generate(workload, seed, out):
    GENERATORS[workload](rng_for(workload, seed), out)
