"""Seeded input generation: a testdata-shaped sf directory written with pyarrow.

The engine sees only these tables. ``documents`` feeds the engine's
closed-form page builder (``datagen.build_pages``), ``orders`` its OSM
conflation and strip worlds (``datagen_osm``), ``nation`` names the
boundaries, and ``boundaries`` holds one rectangle per nation in the
engine's cadastre schema. Its edges sit half a res-6 cell off the cell
grid, so cells straddle edges and the point-in-polygon confirm does real
work; page coordinates are multiples of 1e-4 and the edges are odd
multiples of 1/32, so no page lies on an edge.

The same seed gives byte-identical files: every value comes from one
``numpy`` generator and the parquet writer stamps no time.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PAGES = 30_000
N_WAYS = 2_500
GRID_LON0, GRID_LAT0, COL_W, ROW_H = 10.0, 35.0, 6.0, 2.0  # 5x5 nations, as datagen
RES6 = 0.0625
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark the line sort "
    "window query data column join small customer order group filter stream big a"
).split()
TABLES = ("documents", "orders", "nation", "boundaries")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=8192)


def _documents(rng: np.random.Generator) -> pa.Table:
    doc_id = np.sort(rng.choice(20 * N_PAGES, N_PAGES, replace=False)).astype(np.int64)
    n_words = rng.integers(20, 160, N_PAGES)
    words = rng.integers(0, len(_WORDS), int(n_words.sum()))
    cuts = np.cumsum(n_words)[:-1]
    text = [" ".join(_WORDS[w] for w in ws) for ws in np.split(words, cuts)]
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(["en"] * N_PAGES, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in doc_id], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _orders(rng: np.random.Generator) -> pa.Table:
    key = np.sort(rng.choice(40 * N_WAYS, N_WAYS, replace=False)).astype(np.int64)
    return pa.table(
        {
            "o_orderkey": pa.array(key, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 1500, N_WAYS), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_WAYS), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, N_WAYS), 2), pa.float64()),
            "o_orderdate": pa.array(
                np.datetime64("1992-01-01") + rng.integers(0, 2400, N_WAYS).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "5-LOW"], N_WAYS), pa.string()),
        }
    )


def _edges(rng: np.random.Generator, origin: float, step: float, n: int) -> np.ndarray:
    """n+1 shared edges near origin + i*step, each an odd multiple of half a res-6 cell."""
    shift = rng.integers(-3, 4, n + 1)
    return origin + step * np.arange(n + 1) + RES6 / 2 + RES6 * shift


def _boundaries(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    xs = _edges(rng, GRID_LON0, COL_W, 5)
    ys = _edges(rng, GRID_LAT0, ROW_H, 5)
    key = np.arange(25)
    x0, x1 = xs[key % 5], xs[key % 5 + 1]
    y0, y1 = ys[key // 5], ys[key // 5 + 1]
    # repr() of a multiple of 1/32 is exact, so the WKT and the bounds agree bit for bit
    wkt = [
        f"POLYGON (({a!r} {b!r}, {c!r} {b!r}, {c!r} {d!r}, {a!r} {d!r}, {a!r} {b!r}))"
        for a, b, c, d in zip(x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist())
    ]
    names = [f"NATION_{k}" for k in key]
    nation = pa.table(
        {
            "n_nationkey": pa.array(key, pa.int32()),
            "n_name": pa.array(names, pa.string()),
            "n_regionkey": pa.array(key % 5, pa.int32()),
        }
    )
    none = pa.nulls(25, pa.string())
    boundaries = pa.table(
        {
            "level9_id": pa.array([str(k) for k in key], pa.string()),
            "level9_name": pa.array(names, pa.string()),
            "level8_id": pa.array([f"m{k % 5}" for k in key], pa.string()),
            "level8_name": none,
            "level7_id": none,
            "level7_name": none,
            "level6_id": pa.array(["d0"] * 25, pa.string()),
            "level6_name": none,
            "wkt": pa.array(wkt, pa.string()),
            "min_lon": pa.array(x0, pa.float64()),
            "min_lat": pa.array(y0, pa.float64()),
            "max_lon": pa.array(x1, pa.float64()),
            "max_lat": pa.array(y1, pa.float64()),
        }
    )
    return nation, boundaries


def page_coords(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) per doc id: the closed form of ``datagen.PAGES_CTE``."""
    hot = doc_id % 10 < 3
    lat_e4 = np.where(hot, 448000 + doc_id % 97, 350000 + (doc_id * 31) % 100000)
    lon_e4 = np.where(hot, 204000 + (doc_id * 7) % 97, 100000 + (doc_id * 57) % 300000)
    return lat_e4 / 1e4, lon_e4 / 1e4


def _properties(docs: pa.Table, orders: pa.Table, bounds: pa.Table) -> dict:
    doc_id = docs.column("doc_id").to_numpy()
    lat, lon = page_coords(doc_id)
    # html = fixed markup around the coordinates and the body text (datagen.build_pages)
    html_fixed = len("<html><head><title>Doc </title></head><body><p>geo: lat  lon </p><p></p></body></html>")
    html_len = np.array([len(str(d)) for d in doc_id]) + np.char.str_len(
        np.array([f"{a:.4f}{o:.4f}" for a, o in zip(lat, lon)])
    ) + docs.column("n_chars").to_numpy() + html_fixed
    cell_lo_lon = np.floor((lon + 180.0) / RES6) * RES6 - 180.0
    cell_lo_lat = np.floor((lat + 90.0) / RES6) * RES6 - 90.0
    xs = np.unique(np.concatenate([bounds.column("min_lon").to_numpy(), bounds.column("max_lon").to_numpy()]))
    ys = np.unique(np.concatenate([bounds.column("min_lat").to_numpy(), bounds.column("max_lat").to_numpy()]))
    straddle_x = ((xs[None, :] > cell_lo_lon[:, None]) & (xs[None, :] < cell_lo_lon[:, None] + RES6)).any(1)
    straddle_y = ((ys[None, :] > cell_lo_lat[:, None]) & (ys[None, :] < cell_lo_lat[:, None] + RES6)).any(1)
    keys = orders.column("o_orderkey").to_numpy()
    return {
        "pages": int(len(doc_id)),
        "mean_html_bytes": round(float(html_len.mean()), 1),
        "hot_cell_share": round(float((doc_id % 10 < 3).mean()), 4),
        "edge_cell_share": round(float((straddle_x | straddle_y).mean()), 4),
        "ways": int(len(keys)),
        "long_way_share": round(float((keys % 20 == 9).mean()), 4),
    }


def generate(root: str, seed: int) -> tuple[str, dict]:
    """Write the sf directory for ``seed`` under ``root`` once; return (dir, properties)."""
    sf_dir = os.path.join(root, f"seed{seed}")
    props_path = os.path.join(sf_dir, "properties.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return sf_dir, json.load(f)
    tmp = sf_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs, orders = _documents(rng), _orders(rng)
    nation, bounds = _boundaries(rng)
    for name, table in zip(TABLES, (docs, orders, nation, bounds)):
        _write(table, os.path.join(tmp, f"{name}.parquet"))
    props = _properties(docs, orders, bounds)
    with open(os.path.join(tmp, "properties.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    os.replace(tmp, sf_dir)
    return sf_dir, props
