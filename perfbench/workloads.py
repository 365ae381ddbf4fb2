"""The benchmark workloads. Each one generates its inputs from the seed,
warms up only what it touches, runs fixed rounds of calls into the engine's
public functions inside spans, and checks the outputs after the timed
section.

A workload exposes:
  prepare()            seeded input generation, cached by seed (untimed)
  warm_up(spark)       the part of set-up that runs once per session
  run_round(spark, tr) one timed round -> dict of per-round measurements
  check(spark)         -> list of (check name, ok, detail), untimed
  summary(rounds)      -> the workload's named metrics
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs, stats
from perfbench import metrics as M
from tiledspark import synth, tiles
from tiledspark.cells import with_cell_indexes
from tiledspark.extract import dedupe_latest_by_url, extract_coords
from tiledspark.join import spatial_join
from tiledspark.knn import knn_cell_ring
from tiledspark.snapshot import SnapshotStore
from tiledspark.streaming import stream_commit_diffs
from tiledspark.tree import build_tile_tree, canonical_tree_rows

EARTH_R = 6371008.8


def doc_points(pages):
    """pages -> deduped geocoded docs (url, lat, lon, tile_id): the BASELINE
    pipeline's extract step."""
    return (
        dedupe_latest_by_url(extract_coords(pages))
        .where(F.col("lat").isNotNull())
        .withColumn("tile_id", tiles.tile_id_expr(F.col("lon"), F.col("lat"), tiles.Z_BASE))
    )


def np_haversine(qlat, qlon, lat, lon):
    dlat = np.radians(lat - qlat)
    dlon = np.radians(lon - qlon)
    a = np.sin(dlat / 2) ** 2 + np.cos(np.radians(qlat)) * np.cos(np.radians(lat)) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def np_in_ring(lat, lon, ring) -> np.ndarray:
    """Even-odd ray casting on the (lon, lat) plane for a closed ring."""
    inside = np.zeros(len(lat), dtype=bool)
    ys = np.array([p["lat"] for p in ring])
    xs = np.array([p["lon"] for p in ring])
    for i in range(len(ring) - 1):
        y0, y1, x0, x1 = ys[i], ys[i + 1], xs[i], xs[i + 1]
        crosses = (y0 > lat) != (y1 > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = x0 + (lat - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (lon < x_at)
    return inside


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


class Workload:
    name = ""
    rounds = 1  # timed rounds per run; a traced run traces each of them

    def __init__(self, root: str, cache: str, seed: int, tracer):
        self.root, self.cache, self.seed, self.tracer = root, cache, seed, tracer
        self.work = os.path.join(cache, "work", f"{self.name}_{seed}_{os.getpid()}")
        self.ops = 0  # engine calls made
        self.wrong = 0  # calls whose output disagreed with the benchmark's model

    def after_setup(self, spark) -> None:
        """Untimed step between set-up and the first round."""

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def same_as_last_run(self, digest: str) -> tuple[bool, str]:
        """Compare an output digest with the one an earlier run of this seed
        left in the cache (the first run of a seed records it)."""
        path = os.path.join(self.cache, "digests", f"{self.name}_n{self.n_pages}_s{self.seed}.txt")
        if os.path.exists(path):
            with open(path) as f:
                old = f.read().strip()
            return old == digest, f"{digest[:12]} vs earlier {old[:12]}"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(digest)
        return True, f"{digest[:12]} recorded"


class TileJoin(Workload):
    """extract -> dedupe -> tile id + cells -> tile tree -> spatial join
    against the zones -> 20-query kNN, over a seeded pages corpus."""

    name = "tile_join"
    n_pages = 20_000

    def prepare(self) -> None:
        self.pages_path = inputs.pages(self.cache, self.n_pages, self.seed)
        self.zones_path = inputs.zones(self.cache, self.seed + 1)
        self.queries = pd.DataFrame(inputs.knn_queries(self.seed))
        self.golden_pages = synth.ensure_pages(os.path.join(self.cache, "golden"), 5_000)
        self.golden_zones = synth.ensure_zones(os.path.join(self.cache, "golden"))
        self.docs = None  # the round's cached docs, kept for the check

    def warm_up(self, spark) -> None:
        pages = spark.read.parquet(self.golden_pages)
        docs = with_cell_indexes(doc_points(pages), s2_level=13, h3_res=7)
        docs.count()

    def run_round(self, spark, tr) -> dict:
        if self.docs is not None:
            self.docs.unpersist()
        pages = spark.read.parquet(self.pages_path)
        zones = spark.read.parquet(self.zones_path)
        traced = tr.sc is not None
        out = {}
        with tr.span("extract") as s_extract:
            pts = doc_points(pages).select("url", "lat", "lon", "tile_id")
            if traced:  # force the stage on its own so the span holds its work
                pts = pts.cache()
                pts.count()
        with tr.span("cells") as s_cells:
            docs = with_cell_indexes(pts, s2_level=13, h3_res=7).cache()
            out["docs"] = docs.count()
        if traced:
            pts.unpersist()
        pts3 = docs.select("url", "lat", "lon")
        with tr.span("tree") as s_tree:
            out["tree_rows"] = build_tile_tree(pts3).count()
        with tr.span("join") as s_join:
            out["join_rows"] = spatial_join(spark, pts3, zones).count()
        q = spark.createDataFrame(self.queries)
        with tr.span("knn") as s_knn:
            self.knn = knn_cell_ring(spark, pts3, q, k=5, zoom=8).toPandas()
        out["knn_rows"] = len(self.knn)
        self.docs = docs
        out["build_s"] = s_cells["end"] - s_extract["start"]
        for key, sp in (("tree_s", s_tree), ("join_s", s_join), ("knn_s", s_knn)):
            out[key] = sp["end"] - sp["start"]
        self.ops += len(M.PIPELINE_LAYERS)
        self.counts = (out["docs"], out["tree_rows"], out["join_rows"], out["knn_rows"])
        return out

    def summary(self, rounds: list[dict]) -> dict:
        dps = [r["docs"] / (r["build_s"] + r["tree_s"] + r["join_s"]) for r in rounds]
        return {
            "throughput_per_s": stats.median(dps),  # the BASELINE pipeline docs/s
            "docs": rounds[-1]["docs"],
            "build_s": stats.median([r["build_s"] for r in rounds]),
            "tree_s": stats.median([r["tree_s"] for r in rounds]),
            "join_s": stats.median([r["join_s"] for r in rounds]),
            "knn_s": stats.median([r["knn_s"] for r in rounds]),
        }

    def check(self, spark) -> list[tuple[str, bool, str]]:
        res = self._golden(spark)
        pdf = self.docs.select("url", "lat", "lon").toPandas()
        self.docs.unpersist()
        # the spatial join vs numpy point-in-polygon on docs sampled with the seed
        rng = np.random.default_rng(self.seed)
        sample = pdf.iloc[np.sort(rng.choice(len(pdf), 300, replace=False))]
        zones = spark.read.parquet(self.zones_path)
        got = {
            (r["zone_id"], r["url"])
            for r in spatial_join(spark, spark.createDataFrame(sample), zones).collect()
        }
        exp = set()
        lat, lon, su = sample["lat"].to_numpy(), sample["lon"].to_numpy(), sample["url"].to_numpy()
        for z in zones.collect():
            ok = np_in_ring(lat, lon, z["ring"])
            for h in z["holes"] or []:
                ok &= ~np_in_ring(lat, lon, h)
            exp |= {(z["zone_id"], u) for u in su[ok]}
        res.append(("join_vs_numpy_pip", got == exp, f"{len(got)} pairs, {len(got ^ exp)} differ"))
        # the round's kNN vs brute-force haversine over the round's docs
        knn = self.knn
        lat, lon, urls = pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), pdf["url"].to_numpy()
        bad = 0
        for qid, qlat, qlon in zip(self.queries["query_id"], self.queries["lat"], self.queries["lon"]):
            d = np_haversine(qlat, qlon, lat, lon)
            order = np.lexsort((urls, d))[:5]
            sub = knn[knn["query_id"] == qid].sort_values("rank")
            if list(sub["url"]) != list(urls[order]) or not np.allclose(
                sub["dist_m"].to_numpy(), d[order], rtol=1e-9
            ):
                bad += 1
        res.append(("knn_vs_bruteforce", bad == 0, f"{bad}/{len(self.queries)} queries differ"))
        knn_rows = sorted(knn[["query_id", "rank", "url"]].itertuples(index=False, name=None))
        ok, detail = self.same_as_last_run(_digest([self.counts, knn_rows]))
        res.append(("digest_same_as_last_run", ok, detail))
        return res

    def _golden(self, spark) -> list[tuple[str, bool, str]]:
        """Seed-42 sf0.001 tile tree and join output against tests/golden.

        The inputs are fixed, so the verdict is a function of the engine's
        source: the first run of a checkout computes it and caches it under
        a digest of tiledspark/, tests/golden/ and the pyspark version; runs
        of the same source re-report it."""
        import pyspark

        gdir = os.path.join(self.root, "tests", "golden")
        h = hashlib.sha256(pyspark.__version__.encode())
        for path in sorted(glob.glob(os.path.join(self.root, "tiledspark", "*.py"))
                           + glob.glob(os.path.join(gdir, "*"))):
            with open(path, "rb") as f:
                h.update(path[len(self.root):].encode() + f.read())
        key = h.hexdigest()[:16]
        cached = os.path.join(self.cache, "golden", f"verdict_{key}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                return [(n, ok, f"{d} (engine source {key})") for n, ok, d in json.load(f)]
        pages = spark.read.parquet(self.golden_pages)
        pts = dedupe_latest_by_url(extract_coords(pages))
        rows = canonical_tree_rows(build_tile_tree(pts))
        with open(os.path.join(gdir, "tile_tree_sf0.001.json")) as f:
            golden = json.load(f)
        want = {json.dumps(r, sort_keys=True) for r in golden["rows"]}
        have = [json.dumps(r, sort_keys=True) for r in rows]
        rate = sum(h in want for h in have) / max(len(want), len(have), 1)
        docs = pts.where(F.col("lat").isNotNull()).select("url", "lat", "lon")
        texts = dedupe_latest_by_url(pages).select(
            "url", F.sha2(F.col("text").cast("binary"), 256).alias("text_sha")
        )
        out = (
            spatial_join(spark, docs, spark.read.parquet(self.golden_zones))
            .join(texts, "url")
            .select("zone_id", "url", "tile_id", "text_sha")
            .orderBy("zone_id", "url")
            .collect()
        )
        lines = ["zone_id,url,tile_id,text_sha"] + [
            f"{r['zone_id']},{r['url']},{r['tile_id']},{r['text_sha']}" for r in out
        ]
        digest = hashlib.sha256(("\n".join(lines) + "\n").encode()).hexdigest()
        with open(os.path.join(gdir, "join_sf0.001.sha256")) as f:
            frozen = f.read().split()[0]
        verdict = [
            ("golden_tile_tree_match", rate == 1.0, f"match rate {rate:.4f}"),
            ("golden_join_sha256", digest == frozen, digest[:12]),
        ]
        with open(cached, "w") as f:
            json.dump(verdict, f)
        return verdict


class SnapshotServe(Workload):
    """Set-up commits a tiled corpus into a SnapshotStore. Each round of one
    closed-loop client: Zipf-skewed point reads (read_tile, get_by_key), one
    diff batch through stream_commit_diffs, one time_travel read."""

    name = "snapshot_serve"
    n_pages = 12_000
    tile_reads = 20
    key_reads = 20  # 20 samples leave 10 beyond the p50
    cols = ["url", "warc_ts", "text", "lang", "lat", "lon", "tile_id"]

    def prepare(self) -> None:
        self.pages_path = inputs.pages(self.cache, self.n_pages, self.seed)
        self.n_urls = self.n_pages // 3
        self.rng = np.random.default_rng(self.seed)
        self.lat = {"read_tile": [], "get_by_key": [], "diff_commit": [], "time_travel": []}
        self.mismatches: list[str] = []
        self.batch = 0
        self.store = None

    def warm_up(self, spark) -> None:
        """The serving set-up: the first session commits the tiled corpus
        into a fresh store; every session then opens the store and serves
        one read of each kind."""
        if self.store is None:
            self.store_dir = os.path.join(self.work, "store")
            self.diffs_dir = os.path.join(self.work, "diffs")
            self.ckpt_dir = os.path.join(self.work, "ckpt")
            docs = doc_points(spark.read.parquet(self.pages_path)).select(*self.cols)
            with self.tracer.span("snapshot.commit") as s:
                SnapshotStore(self.store_dir, n_buckets=32).commit(
                    docs, key_col="tile_id", index_key="url"
                )
            rows = [f["rows"] for f in SnapshotStore(self.store_dir).manifest()["files"]]
            s["attrs"]["write_skew"] = max(rows) / (sum(rows) / len(rows)) if rows else 0.0
            self.commit_s = s["end"] - s["start"]
        self.store = SnapshotStore(self.store_dir, n_buckets=32)
        first = self.store.read(spark).select("url", "tile_id").first()
        self.store.read_tile(spark, int(first["tile_id"])).count()
        self.store.get_by_key(spark, first["url"]).count()

    def after_setup(self, spark) -> None:
        """In-memory model of the store: url -> tile_id, plus row counts per
        snapshot id for time-travel checks."""
        pdf = self.store.read(spark).select("url", "tile_id").toPandas()
        self.model = dict(zip(pdf["url"], pdf["tile_id"].astype(int)))
        self.history = {self.store.latest_id(): len(self.model)}

    def _tiles_model(self) -> dict:
        by_tile: dict = {}
        for u, t in self.model.items():
            by_tile.setdefault(t, set()).add(u)
        return by_tile

    def _rows_in(self, paths) -> int:
        m = self.store.manifest()
        rows = {os.path.join(self.store.root, f["path"]): f["rows"] for f in m["files"]}
        return sum(rows.get(p.replace("file://", ""), 0) for p in paths)

    def run_round(self, spark, tr) -> dict:
        by_tile = self._tiles_model()
        tile_keys = inputs.zipf_draw(self.rng, sorted(by_tile), self.tile_reads)
        url_keys = inputs.zipf_draw(self.rng, sorted(self.model), self.key_reads)
        out = {"reads": 0, "read_s": 0.0}
        for t in tile_keys:
            with tr.span("snapshot.read_tile") as s:
                df = self.store.read_tile(spark, int(t))
                got = {r["url"] for r in df.select("url").collect()}
            self._record(s, "read_tile", out)
            files = df.inputFiles()
            s["attrs"]["files_opened"] = len(files)
            s["attrs"]["rows_scanned_per_row"] = stats.rows_scanned_per_row(self._rows_in(files), len(got))
            if got != by_tile[t]:
                self._wrong(f"read_tile {t}: {len(got)} vs {len(by_tile[t])} urls")
        for u in url_keys:
            with tr.span("snapshot.get_by_key") as s:
                df = self.store.get_by_key(spark, u)
                got = [(r["url"], int(r["tile_id"])) for r in df.select("url", "tile_id").collect()]
            self._record(s, "get_by_key", out)
            s["attrs"]["files_opened"] = len(df.inputFiles()) + 1  # + the index partition
            if got != [(u, self.model[u])]:
                self._wrong(f"get_by_key {u}: {got}")
        out["diff_s"] = self._diff(spark, tr)
        sids = sorted(self.history)
        sid = int(sids[self.rng.integers(0, len(sids))])
        with tr.span("snapshot.time_travel") as s:
            df = self.store.time_travel(spark, sid)
            n = df.count()
        self.ops += 1
        self.lat["time_travel"].append(s["end"] - s["start"])
        s["attrs"]["files_opened"] = len(df.inputFiles())
        if n != self.history[sid]:
            self._wrong(f"time_travel {sid}: {n} vs {self.history[sid]} rows")
        return out

    def _wrong(self, what: str) -> None:
        self.wrong += 1
        self.mismatches.append(what)

    def _record(self, span, op, out) -> None:
        dt = span["end"] - span["start"]
        self.lat[op].append(dt)
        self.ops += 1
        out["reads"] += 1
        out["read_s"] += dt

    def _diff(self, spark, tr) -> float:
        self.batch += 1
        path = os.path.join(self.diffs_dir, f"batch_{self.batch:04d}.parquet")
        inputs.diff_batch(path, self.n_urls, self.batch, self.seed)
        before = {f["path"] for f in self._live_files()}
        with tr.span("streaming.diff_commit") as s:
            stream_commit_diffs(spark, self.diffs_dir, self.store, self.ckpt_dir)
        self.ops += 1
        dt = s["end"] - s["start"]
        self.lat["diff_commit"].append(dt)
        live = self._live_files()
        new = [f for f in live if f["path"] not in before]
        s["attrs"]["files_rewritten_frac"] = len(new) / len(live) if live else 0.0
        s["attrs"]["mb_written"] = sum(f["bytes"] for f in new) / 1e6
        # apply the same diff to the model
        delta = pd.read_parquet(path)
        for url, text, op in zip(delta["url"], delta["text"], delta["op"]):
            if op == "delete":
                self.model.pop(url, None)
            else:
                tok = text[text.index("geo:") + 4:].split(" ")[0].split(",")
                t = tile_of(float(tok[1]), float(tok[0]))
                self.model[url] = t
        self.history[self.store.latest_id()] = len(self.model)
        return dt

    def _live_files(self) -> list[dict]:
        m = self.store.manifest()
        return list(m["files"]) + list(m.get("index_files") or [])

    def space_amp(self) -> float:
        total = sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(self.store_dir, "**", "*.parquet"), recursive=True)
        )
        return stats.space_amp(total, sum(f["bytes"] for f in self._live_files()))

    def summary(self, rounds: list[dict]) -> dict:
        # point reads per second at each kind's median latency, weighted by
        # its share of the reads: a stall of one read does not move it
        n_tile, n_key = len(self.lat["read_tile"]), len(self.lat["get_by_key"])
        typical_s = (n_tile * stats.median(self.lat["read_tile"])
                     + n_key * stats.median(self.lat["get_by_key"]))
        out = {
            "throughput_per_s": (n_tile + n_key) / typical_s,
            "space_amp": self.space_amp(),
            "diff_commit_p50_s": stats.median(self.lat["diff_commit"]),
            "time_travel_p50_s": stats.median(self.lat["time_travel"]),
            "commit_s": self.commit_s,
            "mismatches": self.mismatches[:5],
        }
        for op in ("read_tile", "get_by_key"):
            ms = [1000 * v for v in self.lat[op]]
            out[f"{op}_p50_ms"] = stats.median(ms)
            label, val = stats.tail_percentile(ms)
            out[f"{op}_tail"] = {"percentile": label, "ms": val, "samples": len(ms)}
        return out

    def check(self, spark) -> list[tuple[str, bool, str]]:
        latest = self.store.read(spark).select("url", "tile_id").toPandas()
        full = dict(zip(latest["url"], latest["tile_id"].astype(int))) == self.model
        # each read that disagreed with the model already counts as failed
        return [("latest_snapshot_matches_model", full, f"{len(latest)} rows")]


def tile_of(lon: float, lat: float) -> int:
    return int(tiles.np_tile_id(np.array([lon]), np.array([lat]), tiles.Z_BASE)[0])


WORKLOADS = {w.name: w for w in (TileJoin, SnapshotServe)}
