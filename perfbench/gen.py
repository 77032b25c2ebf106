"""Seeded input generation for the benchmark.

Everything the benchmark feeds the program is made here from ``--seed``:

- ``write_catalog_tables``: the ten TPC-H-shaped tables the query catalog
  reads (same names, column types and value domains as the fixtures the
  catalog was written against: single-file, single-row-group parquet
  written by pyarrow, ``timestamp[us]`` columns), at a scale factor ``sf``
  where ``sf=0.1`` gives 600k lineitem rows;
- ``write_wine_csv``: a wine-quality-shaped ``;``-separated CSV whose header
  names contain spaces, like the reference dataset;
- ``events_batches``: the keyed event batches the write workload merges
  and inserts;
- ``write_etl_inputs``: the wine CSV and event batch files of one write
  cycle, with what a correct cycle must produce from them.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import types

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10

WINE_COLUMNS = [
    "fixed acidity", "volatile acidity", "citric acid", "residual sugar",
    "chlorides", "free sulfur dioxide", "total sulfur dioxide", "density",
    "pH", "sulphates", "alcohol", "quality",
]

_DAY_US = 86_400 * 1_000_000


def _ts(start: str, offsets_us: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets_us.astype("timedelta64[us]")


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(len(df), 1))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_frames(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten catalog tables as pandas frames (row counts scale with sf)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 500)
    n_user = max(int(15_000 * sf), 20)
    n_doc = max(int(50_000 * sf), 200)
    n_vec = max(int(20_000 * sf), 100)

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    ck = np.arange(n_cust, dtype="int64")
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype="int64")
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(
                "1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(
                "1995-01-02", rng.integers(0, 2498, n_line) * _DAY_US
            ),
        }
    )
    out["events"] = events_frame(rng, 0, n_evt, n_user)
    out["documents"] = documents_frame(rng, n_doc)
    out["embeddings"] = embeddings_frame(rng, n_vec)
    return out


def events_frame(
    rng: np.random.Generator, first_id: int, n: int, n_user: int
) -> pd.DataFrame:
    """``n`` events over 30 days of 2024, ids from ``first_id``."""
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype="int64"),
            "ts": _ts("2024-01-01", offsets),
            "user_id": rng.integers(0, n_user, n).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary. About 5% are near
    duplicates (another document's text plus the word ``dup``, the source
    drawn from all documents) and about 0.16% exact copies of another
    document, the rates of the sf 0.1 fixtures."""
    words = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    base = [" ".join(rng.choice(words, k)) for k in lengths]
    texts = base[:]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = base[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.0016):
        texts[i] = texts[int(rng.integers(0, n))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Unit-norm float32 vectors in random directions, each with a random
    label 0..9 (no cluster structure, as in the fixtures)."""
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, EMBED_LABELS, n).astype("int32"),
        }
    )


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<table>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in catalog_frames(seed, sf).items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(df)
    return counts


def wine_frame(seed: int, rows: int) -> pd.DataFrame:
    """Wine-quality-shaped rows: eleven physico-chemical features in the
    reference dataset's ranges and an integer quality grade 3..9."""
    rng = np.random.default_rng(seed)
    quality = rng.choice(
        np.arange(3, 10), rows, p=[0.004, 0.033, 0.297, 0.449, 0.18, 0.036, 0.001]
    )
    alcohol = np.round(9.0 + 0.6 * (quality - 3) + rng.normal(0, 1.0, rows), 1)
    cols = {
        "fixed acidity": np.round(rng.normal(6.85, 0.84, rows), 1),
        "volatile acidity": np.round(rng.gamma(4.0, 0.07, rows), 3),
        "citric acid": np.round(rng.uniform(0.0, 0.8, rows), 2),
        "residual sugar": np.round(rng.gamma(1.5, 4.2, rows), 1),
        "chlorides": np.round(rng.gamma(5.0, 0.009, rows), 3),
        "free sulfur dioxide": np.round(rng.uniform(2.0, 90.0, rows)),
        "total sulfur dioxide": np.round(rng.uniform(20.0, 260.0, rows)),
        "density": np.round(rng.normal(0.994, 0.003, rows), 5),
        "pH": np.round(rng.normal(3.19, 0.15, rows), 2),
        "sulphates": np.round(rng.normal(0.49, 0.11, rows), 2),
        "alcohol": alcohol,
        "quality": quality,
    }
    return pd.DataFrame(cols, columns=WINE_COLUMNS)


def write_wine_csv(path: str, seed: int, rows: int) -> pd.DataFrame:
    df = wine_frame(seed, rows)
    df.to_csv(path, sep=";", index=False)
    return df


def events_batches(
    seed: int, n_batches: int, batch_rows: int, key_space: int
) -> list[pd.DataFrame]:
    """Keyed event batches for the merge/insert legs: each batch draws its
    ``event_id`` keys from ``[0, key_space)`` so later batches overlap
    earlier ones (updates) as well as adding new keys (inserts)."""
    rng = np.random.default_rng(seed + 1)
    out = []
    for _ in range(n_batches):
        df = events_frame(rng, 0, batch_rows, 1000)
        df["event_id"] = rng.choice(key_space, batch_rows, replace=False).astype(
            "int64"
        )
        out.append(df)
    return out


def write_etl_inputs(out_dir: str, seed: int, wine_rows: int, batches: int, batch_rows: int):
    """Write the cycle's generated inputs (wine CSV, event batch files)
    and derive from them what a correct cycle must produce."""
    os.makedirs(out_dir)
    csv = os.path.join(out_dir, "wine.csv")
    wine = write_wine_csv(csv, seed, wine_rows)
    expect = {
        "raw": len(wine),
        "loaded": int((wine["quality"] >= 7).sum()),
        "elt": int((wine["total sulfur dioxide"] < 125).sum()),
        "means": wine[wine["quality"] >= 7].groupby("quality")["alcohol"].mean().to_dict(),
    }
    files, keys = [], set()
    for i, b in enumerate(events_batches(seed, batches, batch_rows, 3 * batch_rows)):
        files.append(os.path.join(out_dir, f"events-{i}.parquet"))
        b.to_parquet(files[-1], index=False)
        keys.update(b["event_id"].tolist())
    expect["keys"] = len(keys)
    input_bytes = os.path.getsize(csv) + sum(os.path.getsize(p) for p in files)
    info = {"wine_rows": wine_rows, "event_batches": batches, "batch_rows": batch_rows,
            "distinct_event_keys": len(keys), "input_bytes": input_bytes}
    return types.SimpleNamespace(csv=csv, batch_files=files, expect=expect,
                                 input_bytes=input_bytes, info=info)
