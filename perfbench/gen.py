"""Seeded input generators for the benchmark.

Every table follows ``io.SCHEMAS`` and the marginals of the sf0.1 fixture
the engine is developed against: uniform categorical columns, uniform keys
and dates, ``events.value`` exponential with mean 50 rounded to cents, and
about 67 events per user over 30 days.  Scaling the event count scales the
user count, so per-key density stays fixed (the way ``tools/scale_gen.py``
grows traffic).  The same seed always gives the same rows.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_PER_USER = 100_000 / 1_500          # fixture density per 30 days
EVENT_SPAN_US = 30 * 86_400 * 1_000_000    # 2024-01-01 .. 2024-01-31
EVENT_T0_US = 1_704_067_200 * 1_000_000    # 2024-01-01T00:00:00Z

WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
ADJ = np.array("blue cold hot large new old red small".split())
NOUN = np.array("anvil bolt gear gizmo plate ring rod widget".split())
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                    "PROMO"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
                     "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400 * 1_000_000
EVENT_FILES = 8


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, first: str,
          last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return _ts(rng.integers(lo, hi + 1, n) * DAY_US)


def _cents(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng: np.random.Generator, n: int, first_id: int = 0,
           t_lo: int = 0, t_hi: int = EVENT_SPAN_US,
           n_users: int | None = None) -> pa.Table:
    """``n`` events in event-time order over ``[t_lo, t_hi)`` µs after
    2024-01-01; ``event_id`` follows ``ts`` like the fixture's."""
    if n_users is None:
        n_users = max(1, round(n / EVENTS_PER_USER))
    ts = np.sort(rng.integers(t_lo, t_hi, n)) + EVENT_T0_US
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n),
                             type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_events(path: str, seed: int, n: int) -> None:
    """One events table of ``n`` rows as ``EVENT_FILES`` part-files (a
    multi-file table, so the scan has one split per core or more)."""
    tbl = events(np.random.default_rng(seed), n)
    _reset(path)
    step = -(-n // EVENT_FILES)
    for i in range(EVENT_FILES):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def write_event_stream(path: str, seed: int, n_files: int,
                       per_file: int, n_users: int) -> list[str]:
    """``n_files`` part-files that cut one event stream into consecutive
    event-time slices; file ``i`` gets mtime ``base + i`` so a file source
    with ``maxFilesPerTrigger=1`` replays them in event-time order.
    The stream spans 30 days per ``per_file * n_users / 67`` events, so
    each user keeps the fixture's density however many files there are."""
    rng = np.random.default_rng(seed)
    span = int(EVENT_SPAN_US * per_file / (n_users * EVENTS_PER_USER))
    _reset(path)
    out, base = [], 1_700_000_000
    for i in range(n_files):
        tbl = events(rng, per_file, first_id=i * per_file,
                     t_lo=i * span, t_hi=(i + 1) * span, n_users=n_users)
        f = os.path.join(path, f"part-{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (base + i, base + i))
        out.append(f)
    return out


def write_fixture(sf_dir: str, seed: int) -> None:
    """All ten fixture tables with the sf0.1 row counts."""
    rng = np.random.default_rng(seed)
    _reset(sf_dir)
    n_sup, n_cust, n_part = 1_000, 15_000, 20_000
    n_ord, n_li, n_docs, n_vec = 150_000, 600_000, 5_000, 2_000
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    type=pa.int32())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_sup), type=pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_sup),
                                    type=pa.int32()),
            "s_acctbal": _cents(rng, -1000, 10000, n_sup)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust),
                                    type=pa.int32()),
            "c_acctbal": _cents(rng, -1000, 10000, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": np.char.add(np.char.add(
                ADJ[rng.integers(0, 8, n_part)], " "),
                NOUN[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#",
                                   rng.integers(1, 26, n_part).astype(str)),
            "p_type": P_TYPES[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part),
                               type=pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10,
                                      1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord),
                                  type=pa.int64()),
            "o_orderstatus": np.array(list("FOP"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li),
                                   type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li),
                                  type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_sup, n_li),
                                  type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li),
                                     type=pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _cents(rng, 900, 105000, n_li),
            "l_discount": _cents(rng, 0, 0.1, n_li),
            "l_tax": _cents(rng, 0, 0.08, n_li),
            "l_returnflag": np.array(list("ANR"))[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(list("FO"))[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")}),
        "events": events(rng, 100_000),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vec),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """10-100 words each from a 30-word vocabulary; 5% are an earlier
    document plus a trailing ``dup`` token (near duplicates) and 0.2% an
    exact copy of one."""
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS),
                                         rng.integers(10, 101))])
             for _ in range(n)]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        src = texts[rng.integers(0, i)]
        texts[i] = src if rng.random() < 0.04 else src + " dup"
    lang = np.where(rng.random(n) < 0.4, "en",
                    np.array(["de", "es", "fr", "zh"])[rng.integers(0, 4, n)])
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def _reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
