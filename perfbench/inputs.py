"""Seeded input generation for the workloads.

Runs before the Spark session starts, so its time never lands in
`setup_s`, and caches its output per (workload, seed, size) under the
benchmark's work directory. The seed sets keys and values; the
counts below are constants, so every seed offers the same amount of
work.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

# Device keys: the catalog's GPS-hub ingest query (q319_gpshub_ingest)
# keys its feed by events.user_id, which has 1500 distinct values at the
# bench scale sf0.1 (TESTDATA.md).
DEVICE_KEYS = 1500
# Key skew is synthetic: the fixtures' user_id is uniform, while a live
# feed has hot devices; zipf(1.1) puts ~17% of the records on one key.
ZIPF_S = 1.1
# live_ingest: one open-loop generator, 10 ticks/s x 50 records = 500
# rows/s, an eighth of the 4000 rows/s that a probe on 4 cores found near
# saturation, so micro-batches keep up without a backlog.
TICKS_PER_S = 10
RECORDS_PER_TICK = 50
LIVE_TRIGGER_S = 6  # the serving query's processing-time trigger
# backfill_replay: one seeded history replayed through both ingest paths;
# q319 at the correctness scale sf0.01 replays 10000 events in 2 polls.
BACKFILL_ROWS = 10_000
_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int) -> np.ndarray:
    """`n` device keys drawn zipf-skewed over `n_keys`; the seed also
    decides which key names are hot."""
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    names = np.array([f"d{k:05d}" for k in rng.permutation(n_keys)])
    return names[rng.choice(n_keys, size=n, p=p / p.sum())]


def _positions(rng: np.random.Generator, n: int, n_keys: int) -> pd.DataFrame:
    """Position records with ids 1..n. Timestamps rise strictly with the
    id (1 ms apart plus sub-ms jitter), so latest-per-key has no ties."""
    ids = np.arange(1, n + 1, dtype=np.int64)
    return pd.DataFrame(
        {
            "id": ids,
            "key": _zipf_keys(rng, n, n_keys),
            "ts_us": _BASE_US + ids * 1000 + rng.integers(0, 1000, n),
            "lat": np.round(rng.uniform(32.0, 42.0, n), 6),
            "lon": np.round(rng.uniform(-124.0, -114.0, n), 6),
        }
    )


def live_records(seed: int, n_ticks: int) -> pd.DataFrame:
    """Tick i (0-based) owns ids i*RECORDS_PER_TICK+1 .. (i+1)*RECORDS_PER_TICK."""
    rng = np.random.default_rng([seed, 1])
    return _positions(rng, n_ticks * RECORDS_PER_TICK, DEVICE_KEYS)


def backfill_history(seed: int) -> pd.DataFrame:
    """History rows spaced ~20 s apart (about 56 one-hour windows);
    `value` is exponential so all three classes occur."""
    rng = np.random.default_rng([seed, 2])
    df = _positions(rng, BACKFILL_ROWS, DEVICE_KEYS)
    df["ts_us"] = _BASE_US + df["id"] * 20_000_000 + rng.integers(0, 1_000_000, len(df))
    df["value"] = np.round(rng.exponential(60.0, len(df)), 2)
    return df


# The plans layer (traced backfill_replay runs): the fixture tables its
# query classes read, with the schemas, key ranges and value
# distributions of the repo's correctness scale sf0.01 (TESTDATA.md),
# regenerated from the seed.
ANALYST_ROWS = {
    "nation": 25,
    "customer": 1500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
}
# The two query classes. eager: the build phase (the catalog function
# itself) already launches jobs; lazy: the build phase only plans, and
# every job runs in the run phase. The seed sets the order within a class.
ANALYST_CLASSES = {
    "eager": ("q302_benford_audit", "q264_fk_conformance", "q268_record_linkage"),
    "lazy": ("q32_idw_grid", "q294_triangle_clustering", "q106_containment_join"),
}
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def analyst_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 3])
    n = ANALYST_ROWS
    pick = lambda values, k: np.array(values)[rng.integers(0, len(values), k)]  # noqa: E731
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }
    )
    nc = n["customer"]
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        }
    )
    no = n["orders"]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": pick(["F", "O", "P"], no),
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nl = n["lineitem"]
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, 2000, nl),
            "l_suppkey": rng.integers(0, 100, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    step_us = 30 * 86_400 * 1_000_000 // ne  # 30 days of events, in id order
    events = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": (
                np.datetime64("2024-01-01", "us")
                + (np.arange(ne) * step_us + rng.integers(0, step_us, ne)).astype(
                    "timedelta64[us]"
                )
            ),
            "user_id": rng.integers(0, 150, ne),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], ne),
            "value": np.round(rng.exponential(60.0, ne), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lengths = rng.integers(12, 90, nd)
    text = [" ".join(pick(_WORDS, k)) for k in lengths]
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": text,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    return {
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }


def _write_jsonl(df: pd.DataFrame, path: str) -> None:
    """One JSON object per line; `json.dumps` writes shortest round-trip
    floats, so the feed parses back to exactly the generated doubles."""
    cols = list(df.columns)
    with open(path, "w") as f:
        for row in df.itertuples(index=False):
            rec = {c: (v.item() if hasattr(v, "item") else v) for c, v in zip(cols, row)}
            f.write(json.dumps(rec) + "\n")


def cached(cache_root: str, name: str, build) -> str:
    """Return `cache_root/name`, calling `build(tmp_dir)` first when it is
    missing. The directory appears by rename only once complete, so an
    interrupted run never leaves a half-written cache behind."""
    final = os.path.join(cache_root, name)
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def prepare(cache_root: str, workload: str, seed: int, seconds: int, trace: bool) -> dict[str, str]:
    """Generate (or reuse) the inputs of one run; returns their dirs by
    kind. A traced backfill_replay run also gets the analyst tables, for
    the plans layer it measures."""
    if workload == "live_ingest":
        # one trigger's worth of untimed warm-up ticks, then the timed ones
        n_ticks = (LIVE_TRIGGER_S + seconds) * TICKS_PER_S

        def build(d):
            live_records(seed, n_ticks).to_parquet(
                os.path.join(d, "records.parquet"), index=False
            )

        return {
            "live": cached(
                cache_root, f"live-s{seed}-t{n_ticks}-r{RECORDS_PER_TICK}-k{DEVICE_KEYS}", build
            )
        }
    if workload != "backfill_replay":
        raise ValueError(f"unknown workload {workload!r}")

    def build_history(d):
        hist = backfill_history(seed)
        _write_jsonl(hist, os.path.join(d, "feed.jsonl"))
        out = hist.assign(ts=hist["ts_us"].to_numpy().astype("datetime64[us]"))
        out.drop(columns="ts_us").to_parquet(os.path.join(d, "history.parquet"), index=False)

    dirs = {
        "backfill": cached(cache_root, f"backfill-s{seed}-n{BACKFILL_ROWS}-k{DEVICE_KEYS}", build_history)
    }
    if trace:

        def build_tables(d):
            for name, df in analyst_tables(seed).items():
                df.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)
            rng = np.random.default_rng([seed, 4])
            order = {c: [q[i] for i in rng.permutation(len(q))] for c, q in ANALYST_CLASSES.items()}
            with open(os.path.join(d, "order.json"), "w") as f:
                json.dump(order, f)

        queries = "-".join(q.split("_")[0] for c in ANALYST_CLASSES.values() for q in c)
        dirs["analyst"] = cached(cache_root, f"analyst-s{seed}-{queries}", build_tables)
    return dirs
