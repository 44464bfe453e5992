"""Seeded input generators for the three workloads.

Every generator takes the run's seed and nothing else that varies, so the
same seed gives the same inputs. Sizes are fixed per scale; only values
move with the seed, which keeps run-to-run work constant.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# pipeline_e2e: replicated Common-Crawl-style pages
# ---------------------------------------------------------------------------

DUP_PCT = 10  # share of replicated rows that get an exact re-crawl copy
_LOC_RE = r"loc=\(([-\d.]+),([-\d.]+)\)"  # as osmgraft.extract.page_extract parses it


def write_pages(path: str, seed: int, n_base: int, replicas: int) -> tuple[dict, np.ndarray]:
    """gen_pages(n_base) replicated `replicas` times.

    Copy r of base row i gets url `<url>?rep=r` and the trailing tag
    `rep=r`, so every copy is unique and extracts to the same feature.
    A copy is also re-crawled (exact url+text copy, one day later) when
    (i*7919 + r*104729 + seed) % 100 < DUP_PCT, so the dedup report must
    list exactly those digests. Returns the generator's properties and
    the (x, y) each located base page embeds.
    """
    from osmgraft.datagen.fixtures import gen_pages

    base = gen_pages(n_base, seed=seed)
    n_base = len(base)  # gen_pages(n) yields a few more rows than n
    i = np.repeat(np.arange(n_base), replicas)
    r = np.tile(np.arange(replicas), n_base)
    rows = base.iloc[i].reset_index(drop=True)
    rep = pd.Series(r).astype(str)
    rows["url"] = rows["url"] + "?rep=" + rep
    rows["text"] = rows["text"] + " rep=" + rep
    dup = (i * 7919 + r * 104729 + seed) % 100 < DUP_PCT
    recrawl = rows[dup].assign(warc_ts=rows["warc_ts"][dup] + pd.Timedelta(days=1))
    pages = pd.concat([rows, recrawl], ignore_index=True)
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")  # Spark reads no ns
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pages, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))
    xy = base["text"].str.extract(_LOC_RE).dropna().astype(float).to_numpy()
    located = len(xy)
    return {
        "n_base": n_base,
        "replicas": replicas,
        "rows": len(pages),
        "expected_dup_digests": int(dup.sum()),
        "dup_share": float(dup.sum()) / len(pages),
        "expected_located_pages": located * replicas,
    }, xy


# ---------------------------------------------------------------------------
# pip_coastline: wavy 8x8 tiling + hotspot points
# ---------------------------------------------------------------------------

EXTENT = (0.0, 0.0, 700000.0, 700000.0)  # osmgraft.geo.cells.GridSpec default


def coastline_rings(seed: int, nx: int = 8, ny: int = 8, wiggle: int = 24) -> list:
    """Irregular tiling of EXTENT: jittered lattice vertices joined by wavy
    polylines. Neighbouring tiles share each polyline exactly, so the tiles
    partition the extent and every point has exactly one owner."""
    rng = np.random.default_rng(seed)
    x0, y0, x1, y1 = EXTENT
    wx, wy = (x1 - x0) / nx, (y1 - y0) / ny
    vx = x0 + np.arange(nx + 1)[:, None] * wx + np.zeros((1, ny + 1))
    vy = y0 + np.arange(ny + 1)[None, :] * wy + np.zeros((nx + 1, 1))
    vx[1:-1, 1:-1] += rng.uniform(-0.15, 0.15, (nx - 1, ny - 1)) * wx
    vy[1:-1, 1:-1] += rng.uniform(-0.15, 0.15, (nx - 1, ny - 1)) * wy
    t = np.linspace(0.0, 1.0, wiggle + 1)

    def edge(a, b, on_border):
        (ax, ay), (bx, by) = a, b
        px, py = ax + (bx - ax) * t, ay + (by - ay) * t
        if not on_border:
            amp = rng.uniform(0.02, 0.05) * min(wx, wy)
            freq = rng.integers(2, 5)
            phase = rng.uniform(0, 2 * np.pi)
            off = amp * np.sin(np.pi * t) * np.sin(2 * np.pi * freq * t + phase)
            nx_, ny_ = -(by - ay), bx - ax
            norm = np.hypot(nx_, ny_)
            px, py = px + off * nx_ / norm, py + off * ny_ / norm
        return np.column_stack([px, py])

    horiz = {
        (i, j): edge((vx[i, j], vy[i, j]), (vx[i + 1, j], vy[i + 1, j]), j in (0, ny))
        for i in range(nx)
        for j in range(ny + 1)
    }
    vert = {
        (i, j): edge((vx[i, j], vy[i, j]), (vx[i, j + 1], vy[i, j + 1]), i in (0, nx))
        for i in range(nx + 1)
        for j in range(ny)
    }
    rings = []
    for j in range(ny):
        for i in range(nx):
            ring = np.vstack([
                horiz[i, j][:-1],
                vert[i + 1, j][:-1],
                horiz[i, j + 1][::-1][:-1],
                vert[i, j][::-1],
            ])
            rings.append(ring)
    return rings


def boundaries_pdf(seed: int) -> pd.DataFrame:
    from osmgraft.geo.geometry import polygon_wkb

    rings = coastline_rings(seed)
    return pd.DataFrame({
        "boundary_id": np.arange(len(rings), dtype=np.int64),
        "polygon_wkb": [polygon_wkb(r) for r in rings],
    })


def write_points(spark, path: str, seed: int, n: int) -> dict:
    """bench.flagship_pages_df (35 % hotspot) with a seeded sub-lattice
    jitter, so no two seeds share coordinates and no point sits on the
    generator's lattice."""
    from pyspark.sql import functions as F

    from bench import flagship_pages_df

    pts = flagship_pages_df(spark, n).select(
        "page_id",
        (F.col("x") + F.rand(seed) * 8.0).alias("x"),
        (F.col("y") + F.rand(seed + 1) * 8.0).alias("y"),
    )
    pts.write.mode("overwrite").parquet(path)
    return {"points": n, "hotspot_share": 7 / 20}


# ---------------------------------------------------------------------------
# registry_interactive: documents / events / embeddings tables
# ---------------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15])
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def write_registry_tables(root: str, seed: int, n_docs: int, n_events: int,
                          n_vecs: int) -> dict:
    """The three tables the registry mix reads, with the shapes of the
    driver's synthetic scale tables (same schemas, columns and value
    ranges). A share of documents are near-duplicates of an earlier one,
    so minhash and dedup clustering find real pairs."""
    rng = np.random.default_rng(seed)
    texts = []
    n_near = 0
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            k = int(rng.integers(0, max(1, len(words) // 20) + 1))
            for pos in rng.integers(0, len(words), k):
                words[pos] = "dup"
            texts.append(" ".join(words))
            n_near += 1
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS[0], n_docs, p=LANGS[1]).tolist()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = t0 + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_events * 3 // 200), n_events)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]),
    })
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    os.makedirs(root, exist_ok=True)
    for name, tbl in (("documents", docs), ("events", events), ("embeddings", emb)):
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"))
    return {
        "documents": n_docs,
        "events": n_events,
        "embeddings": n_vecs,
        "near_dup_share": n_near / n_docs,
    }
