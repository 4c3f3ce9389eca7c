"""Seed-driven inputs for the benchmark: every table is a pure function of
(seed, size), written as parquet into the run's own data directory, so no
run reads a file an earlier run or another tool left.

Three kinds of input:

* ``images``: the flagship/dataset-build image table, in the library's
  ``IMAGES_SCHEMA`` shape. Only ``image_id``, ``caption`` and ``phash``
  are read by the pipelines measured here; ``bytes`` is left empty
  because encoding real pixels costs ~112 s per 1M rows, which does not
  fit a run. The geotag convention, the 20% hot-cell rows and the caption
  vocabulary follow ``hex2vec_spark.sources.synth``.
* ``tables``: the TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings`` that the registry queries in ``__spark_entry__``
  read from an ``sf_dir``, with the same columns, types and value ranges
  as the fixture tables the correctness gate uses.
* ``phash_pairs``: an ``(id, phash)`` table built with the registry's
  ``(k div 2) * 2654435761`` recipe, whose first band is one degenerate
  key.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from hex2vec_spark.sources import synth

_U = np.uint64


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write ``pdf`` as ``n_files`` parquet files under directory ``path``
    (one row group each, so Spark gets one split per file), or as the
    single file ``path`` when ``n_files == 1``."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    if n_files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"), row_group_size=step)


# ------------------------------------------------------------------ images


def _hot_phash(rng: np.random.Generator, n: int) -> np.ndarray:
    """phash values whose geotag falls in one of synth's three hot cells
    (jitter in the low 15 bits of each half, as synth does)."""
    which = rng.choice(len(synth.HOT_UNITS), size=n, p=synth.HOT_WEIGHTS)
    units = np.array(synth.HOT_UNITS)
    hi = (units[which, 0] * 2**32).astype(_U) & _U(0xFFFF8000)
    lo = (units[which, 1] * 2**32).astype(_U) & _U(0xFFFF8000)
    j = rng.integers(0, 0x8000, size=(2, n), dtype=np.uint64)
    return (((hi | j[0]) << _U(32)) | (lo | j[1])).view(np.int64)


def images_pandas(seed: int, n: int) -> pd.DataFrame:
    """``n`` image rows; the seed picks the id range and every value."""
    rng = np.random.default_rng([seed, 1])
    start = int(rng.integers(0, 10**9))
    ids = np.arange(start, start + n, dtype=np.int64)
    phash = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=n, dtype=np.int64)
    hot = rng.random(n) < synth.HOT_FRACTION
    phash[hot] = _hot_phash(rng, int(hot.sum()))
    n_tok = rng.integers(2, 7, size=n)
    tok = np.asarray(synth.VOCAB, dtype=object)[rng.integers(0, len(synth.VOCAB), size=(n, 6))]
    captions = [";".join(tok[i, : n_tok[i]]) for i in range(n)]
    return pd.DataFrame(
        {
            "image_id": [f"img{i:010d}" for i in ids],
            "bytes": np.full(n, b"", dtype=object),
            "w": np.asarray(synth.W_CYCLE, dtype=np.int32)[ids % 3],
            "h": np.asarray(synth.H_CYCLE, dtype=np.int32)[ids % 3],
            "fmt": np.where(ids % 4 == 0, "png", "ppm"),
            "caption": captions,
            "phash": phash,
        }
    )


def write_images(seed: int, n: int, path: str, n_files: int) -> pd.DataFrame:
    pdf = images_pandas(seed, n)
    write_parquet(pdf, path, n_files)
    return pdf


# ------------------------------------------------------------------ tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "STANDARD", "LARGE", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part group "
    "big sort query fast"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    return (
        np.datetime64(start, "us") + rng.integers(0, n_days, n).astype("timedelta64[D]")
    ).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    words = np.asarray(_WORDS, dtype=object)
    lens = rng.integers(10, 100, n)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # ~5% near-duplicates: an earlier document plus one or two "dup"
    # tokens, so the n-gram and exact dedup queries find pairs
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            text[i] = text[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def tables_pandas(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The registry's fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 2])
    n_c, n_s, n_p = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_d, n_v = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(int(15_000 * sf), 10)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(_SEGMENTS, n_c),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_p, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(_P_TYPES, n_p),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_o),
            "o_orderpriority": rng.choice(_PRIORITIES, n_o),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
            "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_l),
        }
    )
    gaps = rng.uniform(0.0, 2 * 30 * 86400e6 / n_e, n_e)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n_e).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_e),
            "value": np.maximum(np.round(rng.exponential(50.0, n_e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        }
    )
    t["documents"] = _documents(rng, n_d)
    vec = rng.standard_normal((n_v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_v, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_v).astype(np.int32),
        }
    )
    return t


def write_tables(seed: int, sf: float, sf_dir: str) -> dict[str, int]:
    """Write the fixture tables as ``<sf_dir>/<name>.parquet``; returns
    the row count of each."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, pdf in tables_pandas(seed, sf).items():
        write_parquet(pdf, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = len(pdf)
    return counts


# ------------------------------------------------------------- phash pairs


def phash_pairs_pandas(seed: int, n: int) -> pd.DataFrame:
    """``n`` keys ``k`` drawn from ``[0, 4n)``; even keys get the registry's
    ``(k div 2) * 2654435761`` hash, odd keys that hash with two bits
    flipped, so most odd keys sit within Hamming 2 of their even
    neighbour and every hash's top bits are zero (one degenerate band)."""
    rng = np.random.default_rng([seed, 3])
    k = np.sort(rng.choice(4 * n, size=n, replace=False)).astype(np.int64)
    ph = ((k // 2) * 2654435761).astype(np.int64)
    odd = k % 2 == 1
    flip = (np.int64(1) << (k % 60)) ^ (np.int64(1) << ((k * 7) % 60))
    ph[odd] ^= flip[odd]
    return pd.DataFrame({"oid": k, "phash": ph})
