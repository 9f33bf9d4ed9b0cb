"""Seeded input generators.

Every input a workload hands to the engine is built here, in set-up,
from the ``--seed`` argument alone: the same seed gives byte-identical
arrays, point sets, annotation tables, query tables and op schedules.
Each generator takes a ``numpy.random.Generator`` (or a seed) and nothing
from the environment.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per named input, so adding an input to a
    workload never shifts the bytes of another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([int(seed), tag])


# -- volumes -----------------------------------------------------------------

def image_volume(rng, shape) -> np.ndarray:
    """uint8 EM-like image: smooth low-frequency field plus noise, so gzip
    sees a realistic (~1.1-1.3x) ratio rather than white noise."""
    sx, sy, sz = shape
    base = rng.integers(0, 200, (sx // 16 + 1, sy // 16 + 1, sz), dtype=np.uint8)
    field = np.repeat(np.repeat(base, 16, axis=0), 16, axis=1)[:sx, :sy, :]
    noise = rng.integers(0, 56, shape, dtype=np.uint8)
    return field + noise


def seg_volume(rng, shape, cell=(16, 16, 10), dtype=np.uint16,
               max_label=60000) -> np.ndarray:
    """Piecewise-constant labels on a ``cell`` grid: compresses like real
    segmentation. With even cell sizes a (2,2,1) mode downsample is the
    plain stride-2 subsample, which makes the check independent of the
    engine's tie-breaking."""
    grid = [-(-s // c) for s, c in zip(shape, cell)]
    cells = rng.integers(1, max_label, grid, dtype=dtype)
    out = np.kron(cells, np.ones(cell, dtype=dtype))
    return np.ascontiguousarray(out[:shape[0], :shape[1], :shape[2]])


def write_blocks(arr: np.ndarray, chunk, path: str) -> int:
    """Grid-aligned decoded blocks ``(x0..z1, blob)`` of ``arr`` as one
    uncompressed parquet file, the input ``Volume.write_blocks_df``
    takes. Blobs are raw Fortran-order bytes. Returns the block count."""
    cols = {k: [] for k in ("x0", "x1", "y0", "y1", "z0", "z1")}
    blobs = []
    for z0 in range(0, arr.shape[2], chunk[2]):
        for y0 in range(0, arr.shape[1], chunk[1]):
            for x0 in range(0, arr.shape[0], chunk[0]):
                x1 = min(x0 + chunk[0], arr.shape[0])
                y1 = min(y0 + chunk[1], arr.shape[1])
                z1 = min(z0 + chunk[2], arr.shape[2])
                for k, v in zip(cols, (x0, x1, y0, y1, z0, z1)):
                    cols[k].append(v)
                blobs.append(arr[x0:x1, y0:y1, z0:z1].tobytes(order="F"))
    table = pa.table({
        **{k: pa.array(v, pa.int32()) for k, v in cols.items()},
        "blob": pa.array(blobs, pa.binary()),
    })
    pq.write_table(table, path, compression="none", row_group_size=1)
    return len(blobs)


# -- points and annotations --------------------------------------------------

def labeled_points(rng, n: int, bounds, n_labels: int):
    """``n`` integer points inside ``bounds`` (exclusive max) with labels
    in ``[1, n_labels]``; each label clusters around its own centre so
    per-label bboxes are local, as for real objects."""
    bounds = np.asarray(bounds)
    centres = rng.integers(0, bounds, (n_labels, 3))
    spread = np.maximum(bounds // 8, 1)
    label = rng.integers(1, n_labels + 1, n).astype(np.int64)
    off = rng.integers(-spread, spread + 1, (n, 3))
    xyz = np.clip(centres[label - 1] + off, 0, bounds - 1).astype(np.int64)
    return label, xyz


def write_points(label, xyz, path: str) -> None:
    pq.write_table(pa.table({
        "label": label, "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2],
    }), path)


def point_annotations(rng, n: int, bounds) -> dict:
    """POINT annotations: ``id`` 0..n-1, float coordinates inside
    ``bounds`` (float32-exact, so the precomputed export round-trips)."""
    bounds = np.asarray(bounds, dtype=np.float64)
    xyz = np.floor(rng.random((n, 3)) * bounds * 4) / 4
    return {"id": np.arange(n, dtype=np.int64),
            "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2]}


def write_table(cols: dict, path: str) -> None:
    pq.write_table(pa.table(cols), path)


# -- query tables (TPC-H-like star schema + events/documents/embeddings) -----

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    d = rng.integers(0, (hi - lo).days + 1, n)
    return (np.datetime64(lo, "D") + d).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100, 2)


def query_tables(seed: int, sf: float = 0.1) -> dict:
    """The ten tables the operator registry reads, at scale factor ``sf``
    (sf 0.1: 600k lineitem rows), as ``{name: pyarrow.Table}``. Value
    domains follow the driver's synthetic TPC-H-like data: uniform keys,
    cent-rounded prices, date-only timestamps, a 31-word document
    vocabulary with ~5% near-duplicate documents, and unit-norm 64-d
    embeddings."""
    rng = rng_for(seed, "tables")
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = np.asarray([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.asarray([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.asarray(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.asarray(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_query_tables(tables: dict, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
