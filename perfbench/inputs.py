"""Seeded benchmark inputs, written straight to parquet with NumPy/pyarrow.

No Spark and no higher-order-function text generation: the inputs are
built before any timer starts and their cost is reported as ``input_s``.
The same seed always gives the same files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh", "pt", "ru", "ja"]
VOCAB = pa.array([f"w{i}" for i in range(4096)])


def write_pages(path: str, n: int, seed: int) -> None:
    """A page table of the engine's input shape
    (url, warc_ts, html, text, lang) with ``n`` rows."""
    rng = np.random.default_rng(seed)
    ids = pa.array(np.arange(n, dtype=np.int64)).cast(pa.string())
    site = pa.array(rng.integers(0, 9973, n)).cast(pa.string())
    url = pc.binary_join_element_wise(
        "https://site-", site, f".example/s{seed}/p/", ids, "")
    ntok = rng.integers(4, 13, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(ntok, out=offsets[1:])
    tokens = VOCAB.take(pa.array(
        rng.integers(0, len(VOCAB), int(offsets[-1])).astype(np.int32)))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), tokens), " ")
    html = pc.binary_join_element_wise(
        "<html><body>", text, "</body></html>", "").cast(pa.binary())
    ts = pa.array((1_577_836_800 + rng.integers(0, 94_608_000, n)) * 1_000_000,
                  pa.timestamp("us", tz="UTC"))
    lang = pa.array(np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)])
    table = pa.table({"url": url, "warc_ts": ts, "html": html,
                      "text": text, "lang": lang})
    pq.write_table(table, path, row_group_size=max(1, n // 16))


def hot_blocks(res: int, n_blocks: int = 40) -> list[tuple[int, int, int, int]]:
    """Fixed (ix0, iy0, width, height) cell blocks at ``res``: 1-5 cells
    wide, 1-3 tall, laid on a lattice two or more cells apart, so no two
    blocks touch.  The layout does not depend on the seed, so the hot
    cells, the hotspot regions and the connected-components rounds over
    them are the same for every seed."""
    n = 1 << res
    blocks = []
    for i in range(n_blocks):
        ix0 = n // 12 + (i % 10) * (n // 12)
        iy0 = n // 3 + (i // 10) * (n // 12)
        blocks.append((ix0, iy0, 1 + i % 5, 1 + (i // 5) % 3))
    return blocks


def write_points(path: str, n: int, seed: int, res: int) -> None:
    """A point table (id, lon, lat): a uniform background (about one point
    per ``res`` cell for 100k points) plus 30 % of the points spread
    uniformly over the cells of :func:`hot_blocks` (over a hundred per
    cell), so every block cell is hot and no background cell is.  Ids are
    shuffled against position."""
    rng = np.random.default_rng(seed)
    cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
    blocks = hot_blocks(res)
    area = np.array([w * h for _, _, w, h in blocks], dtype=np.float64)
    n_cl = int(n * 0.3)
    which = rng.choice(len(blocks), n_cl, p=area / area.sum())
    b = np.array(blocks, dtype=np.float64)[which]
    # keep clustered points a hair inside their block so cell rounding
    # never moves one into a neighbouring cell
    u, v = rng.uniform(0.01, 0.99, n_cl), rng.uniform(0.01, 0.99, n_cl)
    lon = np.concatenate([rng.uniform(-180, 180, n - n_cl),
                          -180.0 + (b[:, 0] + u * b[:, 2]) * cw])
    lat = np.concatenate([rng.uniform(-90, 90, n - n_cl),
                          -90.0 + (b[:, 1] + v * b[:, 3]) * ch])
    order = rng.permutation(n)
    table = pa.table({"id": np.arange(n, dtype=np.int64),
                      "lon": lon[order], "lat": lat[order]})
    pq.write_table(table, path, row_group_size=max(1, n // 8))
