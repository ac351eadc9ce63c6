"""Output checks for the perfbench workloads.

Each check recomputes what the program should have produced from the
generated inputs alone, with DuckDB and pandas, and returns a list of
problems (empty when the run is correct). No check compares against a
saved copy of earlier output.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

REL = 1e-9


def close(a, b, rel=REL, abs_=1e-9):
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    return np.all(np.isclose(a, b, rtol=rel, atol=abs_) | (np.isnan(a) & np.isnan(b)))


def parquet_dir(path):
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


# ------------------------------------------------------------ lake_mixed

KEY = ["symbol", "ts"]
VALS = ["open", "high", "low", "close", "volume", "rev"]


def to_us(series):
    s = pd.to_datetime(series, utc=True)
    return s.astype("int64") // 1000 if s.dt.unit == "ns" else s.astype("int64")


def check_lake(inputs, work):
    problems = []

    def load(rel):
        path = os.path.join(inputs, "lake", rel)
        if rel.endswith(".csv"):
            df = pd.read_csv(path)
            df["ts"] = to_us(df["ts"])
            df["rev"] = 0
        else:
            df = pd.read_parquet(path)
            df["ts"] = to_us(df["ts"])
        return df[KEY + VALS]

    model = load("base").set_index(KEY).sort_index()
    with open(os.path.join(inputs, "lake", "ops.json")) as f:
        rounds = json.load(f)["rounds"]
    with open(os.path.join(work, "lake_ops.jsonl")) as f:
        log = [json.loads(l) for l in f if l.strip()]
    flat = [op for r in rounds for op in r]
    cols = ["symbol", "ts", "bucket", "open", "high", "low", "close", "volume", "rev"]

    def rows_frame(rows, names):
        return pd.DataFrame(rows, columns=names)

    def same(got, want, what):
        got = got.sort_values(KEY).reset_index(drop=True)
        want = want.sort_values(KEY).reset_index(drop=True)
        if len(got) != len(want):
            problems.append(f"{what}: {len(got)} rows, model has {len(want)}")
            return
        if not (got["symbol"].tolist() == want["symbol"].tolist() and
                (got["ts"].values == want["ts"].values).all() and
                all((got[c].values == want[c].values).all() for c in VALS)):
            problems.append(f"{what}: rows differ from the model")

    for i, entry in enumerate(log):
        op = flat[i]
        if entry["op"] != op["op"]:
            return problems + [f"lake log entry {i} is {entry['op']}, ops.json says {op['op']}"]
        kind = op["op"]
        if not entry["ok"]:
            if kind != "merge_by_symbol":
                problems.append(f"lake {kind} in round {entry['round']} failed: {entry.get('error')}")
            continue
        if kind in ("append", "merge", "merge_by_symbol"):
            upd = load(op["file"]).set_index(KEY)
            if kind == "append":
                model = pd.concat([model, upd]).sort_index()
            else:
                keep = model.reindex(upd.index)["rev"]
                newer = upd[(keep.isna()) | (upd["rev"] >= keep.fillna(-1))]
                model = pd.concat([model.drop(newer.index, errors="ignore"), newer]).sort_index()
            if model.index.duplicated().any():
                problems.append(f"lake model has duplicate keys after {kind} (generator fault)")
        elif kind == "point":
            got = rows_frame(entry["rows"], cols)
            want = model.reset_index()
            want = want[(want["symbol"] == op["symbol"]) & (want["ts"] == op["ts_us"])]
            same(got, want, f"lake point round {entry['round']}")
        elif kind == "range":
            got = rows_frame(entry["rows"], cols)
            want = model.reset_index()
            want = want[(want["symbol"] == op["symbol"]) &
                        want["ts"].between(op["from_us"], op["to_us"])]
            same(got, want, f"lake range round {entry['round']}")
        elif kind == "refresh":
            got = rows_frame(entry["rows"], ["symbol", "bucket", "n_rows", "sum_volume",
                                             "min_low", "max_high", "first_open",
                                             "last_close"]).sort_values("bucket")
            m = model.reset_index()
            m = m[m["symbol"] == op["symbol"]].sort_values("ts")
            m["bucket"] = m["ts"] // 3_600_000_000 * 3_600_000_000
            m = m[m["bucket"].between(op["from_us"], op["to_us"])]
            want = m.groupby("bucket").agg(n_rows=("ts", "size"), sum_volume=("volume", "sum"),
                                           min_low=("low", "min"), max_high=("high", "max"),
                                           first_open=("open", "first"),
                                           last_close=("close", "last")).reset_index()
            ok = (len(got) == len(want) and
                  (got["bucket"].values == want["bucket"].values).all() and
                  (got["n_rows"].values == want["n_rows"].values).all() and
                  close(got["sum_volume"], want["sum_volume"]) and
                  all((got[c].values == want[c].values).all()
                      for c in ("min_low", "max_high", "first_open", "last_close")))
            if not ok:
                problems.append(f"lake MV rows in round {entry['round']} differ from the model")
    final = model.reset_index()
    for dump in ("lake_dump_before", "lake_dump_after"):
        got = pd.read_parquet(os.path.join(work, dump))
        got["ts"] = to_us(got["ts"])
        same(got, final, f"lake content ({dump})")
    return problems


# --------------------------------------------------------- stream_ingest

def check_stream(inputs, work):
    problems = []
    with open(os.path.join(inputs, "stream", "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(work, "stream_fed.json")) as f:
        fed = meta["backlog_files"] + json.load(f)
    files = [os.path.join(inputs, "stream", n) for n in fed]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # clean as the stream does: drop negative values, repair the envelope,
    # collapse retransmitted (symbol, ts) rows, hourly tumbling buckets that
    # the watermark (max ts - 1 hour) has passed
    expect = con.execute(f"""
        WITH raw AS (SELECT DISTINCT * FROM read_parquet({files!r})),
        n AS (SELECT * FROM raw WHERE ts IS NOT NULL AND volume >= 0 AND open >= 0
                AND high >= 0 AND low >= 0 AND close >= 0),
        v AS (SELECT *, (high < low OR high < open OR high < close OR low > open
                OR low > close) AS bad FROM n),
        r AS (SELECT symbol, ts, open, close, volume,
                time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                CASE WHEN bad THEN greatest(open, close, high) ELSE high END AS high,
                CASE WHEN bad THEN least(open, close, low) ELSE low END AS low FROM v)
        SELECT epoch_us(bucket) AS bucket_ts, symbol,
          arg_min(open, ts) AS open, max(high) AS high, min(low) AS low,
          arg_max(close, ts) AS close, sum(volume) AS volume, count(*) AS n_bars
        FROM r
        WHERE bucket + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM raw)
        GROUP BY bucket, symbol
        ORDER BY bucket_ts, symbol""").df()
    dump = parquet_dir(os.path.join(work, "stream_dump"))
    got = con.execute(f"""SELECT epoch_us(bucket_ts) AS bucket_ts, symbol, open, high, low,
                            close, volume, n_bars FROM read_parquet({dump!r})
                          ORDER BY bucket_ts, symbol""").df()
    if got.duplicated(["symbol", "bucket_ts"]).any():
        problems.append("stream rollup has duplicate (symbol, bucket_ts)")
    if len(got) != len(expect) or not (got["bucket_ts"].values == expect["bucket_ts"].values).all() \
            or got["symbol"].tolist() != expect["symbol"].tolist():
        return problems + [f"stream rollup has {len(got)} buckets, DuckDB finalizes {len(expect)}"]
    if not (got["n_bars"].values == expect["n_bars"].values).all():
        problems.append("stream rollup n_bars differ from DuckDB")
    for c in ("open", "high", "low", "close"):
        if not (got[c].values == expect[c].values).all():
            problems.append(f"stream rollup {c} differs from DuckDB")
    if not close(got["volume"], expect["volume"]):
        problems.append("stream rollup volume differs from DuckDB")
    return problems


CHECKS = {"lake_mixed": check_lake, "stream_ingest": check_stream}
