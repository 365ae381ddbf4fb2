"""Seeded inputs for the benchmark workloads.

Every file is a pure function of (workload size, seed) and is cached under
the checkout's `.perfbench_cache/inputs/`, so a repeated seed skips the
generation and set-up time never includes it. The engine is handed only
these files."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tiledspark import synth


def pages(cache: str, n: int, seed: int) -> str:
    """Common-Crawl-style pages (synth grammar: ~n/3 urls, 3 crawls each)."""
    return synth.ensure_pages(os.path.join(cache, "pages"), n, seed=seed)


def zones(cache: str, seed: int) -> str:
    """113 zone polygons: 100 city zones, 10 spanning, donut/greenwich/sliver."""
    return synth.ensure_zones(os.path.join(cache, "zones"), seed=seed)


def knn_queries(seed: int, n: int = 20) -> dict:
    """Query points for knn_cell_ring: half near the synth city centres (dense
    neighbourhoods), half uniform (sparse, forces ring growth)."""
    rng = np.random.default_rng(seed)
    centers = synth.city_centers()
    near = centers[rng.integers(0, len(centers), n // 2)] + rng.normal(0, 0.05, (n // 2, 2))
    far = np.column_stack([rng.uniform(-55, 65, n - n // 2), rng.uniform(-170, 170, n - n // 2)])
    pts = np.vstack([near, far])
    return {"query_id": np.arange(n, dtype=np.int64), "lat": pts[:, 0], "lon": pts[:, 1]}


def zipf_draw(rng: np.random.Generator, keys: list, size: int, s: float = 1.1) -> list:
    """`size` keys drawn Zipf-skewed over `keys` in a seeded shuffled order,
    so a few hot keys recur (the serving cache-friendly case)."""
    order = rng.permutation(len(keys))
    w = 1.0 / np.arange(1, len(keys) + 1) ** s
    picks = rng.choice(len(keys), size=size, p=w / w.sum())
    return [keys[order[i]] for i in picks]


_EPOCH_DIFF = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp())


def diff_batch(path: str, n_urls: int, batch: int, seed: int, rows: int = 300) -> str:
    """OsmChange-style delta over the pages url space, written as one parquet
    file (the file-per-trigger stream source). 60% upserts move an existing
    url to a new geo token, 20% add new urls, 20% delete existing urls.
    Timestamps increase with `batch`, so replays order deterministically."""
    if os.path.exists(path):
        return path
    rng = np.random.default_rng([seed, batch])
    centers = synth.city_centers()
    vocab = synth._vocab()
    n_del, n_new = rows // 5, rows // 5
    n_move = rows - n_del - n_new
    picked = rng.choice(n_urls, n_move + n_del, replace=False)
    moved, deleted = picked[:n_move], picked[n_move:]
    new = n_urls * 10 + batch * n_new + np.arange(n_new)
    url, text, op = [], [], []
    for u in np.concatenate([moved, new]):
        c = centers[rng.integers(0, len(centers))]
        lat = float(np.clip(c[0] + rng.normal(0, 0.05), -84, 84))
        lon = float(np.mod(c[1] + rng.normal(0, 0.05) + 180, 360) - 180)
        words = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(20, 60)))]
        words.insert(int(rng.integers(0, len(words) + 1)), f"geo:{lat:.6f},{lon:.6f}")
        url.append(f"https://site{int(u) % 1000}.example/p/{int(u)}")
        text.append(" ".join(words))
        op.append("upsert")
    for u in deleted:
        url.append(f"https://site{int(u) % 1000}.example/p/{int(u)}")
        text.append("")
        op.append("delete")
    ts = (_EPOCH_DIFF + batch * 3600 + np.arange(len(url))) * 1_000_000
    table = pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array([t.encode() for t in text], pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(["en"] * len(url), pa.string()),
            "op": pa.array(op, pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # hidden name: the stream source skips it if it ever sees it
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path
