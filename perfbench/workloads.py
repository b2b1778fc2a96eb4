"""The three workloads, the inputs the seed places, and their output checks.

Each workload is a pipeline of layers. ``steps()`` returns one action
per layer, in pipeline order, each over the DataFrame the layer's
public call returned; the last step is the action a user would run and
the only one an untraced rep times. Every check recomputes the expected
output on a path that shares no code with the one it checks: plain
Python for the synthetic pages, numpy for point-in-polygon, tiling and
kNN, pyarrow for reading back what Spark wrote.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdal_spark import geo, synth
from pdal_spark.formats import las
from pdal_spark.operators import crop, knn, splitter

import counters

# Input sizes: rows per rep, chosen so one rep takes 0.1-2 s at local[4]
# and a run holds enough reps for a steady median.
SIZES = {
    "full": {"tile_query": 400_000, "laz_tile_query": 20_000, "knn_skewed": 10_000},
    "tiny": {"tile_query": 5_000, "laz_tile_query": 3_000, "knn_skewed": 3_000},
}

# The flagship crop polygon: 8-edge exterior plus a 4-edge hole (12 edges,
# under crop's codegen limit, so the crop takes the codegen PnP path).
# The seed translates it, which keeps its edge count and area.
POLY_EXTERIOR = ((-100.0, -50.0), (50.0, -50.0), (50.0, 60.0), (-20.0, 60.0),
                 (-20.0, 0.0), (-60.0, 0.0), (-60.0, 60.0), (-100.0, 60.0))
POLY_HOLE = ((-90.0, -40.0), (-70.0, -40.0), (-70.0, -20.0), (-90.0, -20.0))
TILE_LEN = 30.0
TILE_ORIGIN = (-180.0, -90.0)

LAZ_SCALE = 1e-7  # lon/lat to ~1 cm; the largest |X| (1.8e9) fits int32

KNN_K = 5
# share of points moved into the hot box: at 10k points it makes the hot
# block about 12x the pair work of a uniform one, a visible straggler
HOT_PCT = 15
HOT_EDGE = 0.5       # degrees
# The hot box's lower-left corner lies in this region, which stays inside
# one kNN cell at both sizes: the seed moves the box, not the hot block.
HOT_CORNERS = (9.0, 17.5, 16.0, 24.5)
# Cell edge per size: the largest 5th-neighbour distance of the seed-free
# uniform points stays below it (7.9 deg at 10k points), so neighbourhood
# kNN equals global kNN. The check re-verifies this on every rep.
KNN_CELL = {"full": 8.5, "tiny": 30.0}

CHECK_SAMPLE = 64    # page ids / kNN sources checked per rep

SEED_FREE = [
    "synth.synth_pages rows and their geocoded x,y (synth_pages takes no seed)",
    "polygon shape, edge count and area; tile length and the grid's offset from the polygon",
    "which points are hot (page_id % 100 < HOT_PCT) and the hot fraction",
    "kNN k and cell size; LAZ scale",
]


@dataclass(frozen=True)
class Seeded:
    """What the seed places: polygon and tile-grid offset, hot box, samples."""

    seed: int
    poly: crop.Polygon
    origin: tuple[float, float]
    hot_box: tuple[float, float, float, float]

    @classmethod
    def from_seed(cls, seed: int) -> Seeded:
        rng = np.random.default_rng(seed)
        dx = round(float(rng.uniform(-30.0, 30.0)), 3)
        dy = round(float(rng.uniform(-20.0, 20.0)), 3)
        poly = crop.Polygon(
            exterior=tuple((x + dx, y + dy) for x, y in POLY_EXTERIOR),
            holes=(tuple((x + dx, y + dy) for x, y in POLY_HOLE),),
        )
        # the tile grid moves with the polygon, so every seed crops and
        # tiles the same geometry over different points
        origin = (TILE_ORIGIN[0] + dx, TILE_ORIGIN[1] + dy)
        x0, y0, x1, y1 = HOT_CORNERS
        hx = round(float(rng.uniform(x0, x1)), 3)
        hy = round(float(rng.uniform(y0, y1)), 3)
        return cls(seed, poly, origin, (hx, hy, hx + HOT_EDGE, hy + HOT_EDGE))

    def sample(self, n: int, k: int, salt: int) -> np.ndarray:
        rng = np.random.default_rng([self.seed, salt])
        return np.sort(rng.choice(n, size=min(k, n), replace=False))

    def describe(self) -> dict:
        return {"poly_offset": [self.poly.exterior[0][0] - POLY_EXTERIOR[0][0],
                                self.poly.exterior[0][1] - POLY_EXTERIOR[0][1]],
                "tile_origin": list(self.origin), "hot_box": list(self.hot_box)}


# ---------------------------------------------------------------------------
# actions: each returns (output, QueryExecution that ran it or None)
# ---------------------------------------------------------------------------


def materialize(df):
    """Compute every row and column of a prefix pipeline, collect nothing."""
    qe = df._jdf.queryExecution()
    return int(qe.toRdd().count()), qe


def collect(df):
    return df.collect(), df._jdf.queryExecution()


def to_pandas(df):
    return df.toPandas(), df._jdf.queryExecution()


def parquet_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    parts = [p for p in path.iterdir() if p.name.startswith("part-")]
    return sum(p.stat().st_size for p in parts), len(parts)


# ---------------------------------------------------------------------------
# Python recomputation of synth.synth_pages + geo.geocode_sha2 (the oracle)
# ---------------------------------------------------------------------------

_WORDS = ("the fast key order sort table scan merge part window small hash join "
          "group query row data slow filter customer line batch value spark page "
          "crawl web text tile cell point cloud").split()
_TS0 = datetime(2024, 1, 1)


def _url_ts(i: int) -> tuple[str, datetime]:
    # F.lpad pads and truncates to the width, hence rjust + slice
    url = f"https://site{str(i % 1000).rjust(5, '0')[:5]}.example/p/{str(i).rjust(6, '0')[:6]}"
    return url, _TS0 + timedelta(seconds=137 * i)


def _geocode(url: str, ts: datetime) -> tuple[float, float]:
    return geo.geocode_sha2_py(url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"))


def expected_page(i: int) -> dict:
    """Row ``i`` of the pages table, rebuilt in plain Python."""
    url, ts = _url_ts(i)
    words = [_WORDS[(i * 2654435761 + (j + 1) * 40503) % len(_WORDS)] for j in range(20)]
    text = f"doc {i} " + " ".join(words)
    x, y = _geocode(url, ts)
    return {"page_id": i, "url": url, "warc_ts": ts, "text": text,
            "html": f"<html>{text}</html>".encode(),
            "lang": ("en", "de", "fr", "es", "zh")[i % 5], "x": x, "y": y}


def expected_coords(n: int) -> tuple[np.ndarray, np.ndarray]:
    xy = np.array([_geocode(*_url_ts(i)) for i in range(n)])
    return xy[:, 0].copy(), xy[:, 1].copy()


def tile_counts_np(x: np.ndarray, y: np.ndarray, poly: crop.Polygon,
                   origin: tuple[float, float]) -> tuple[dict, int]:
    """numpy oracle of crop -> split -> count: ({(tx, ty): n}, bbox passes)."""
    b = poly.bbox()
    in_box = (b.minx <= x) & (x <= b.maxx) & (b.miny <= y) & (y <= b.maxy)
    keep = in_box.copy()
    keep[in_box] = crop.pnp_even_odd_np(x[in_box], y[in_box], poly)
    tx = geo.tile_coord_np(x[keep], origin[0], TILE_LEN)
    ty = geo.tile_coord_np(y[keep], origin[1], TILE_LEN)
    keys, counts = np.unique(np.stack([tx, ty], axis=1), axis=0, return_counts=True)
    return ({(int(a), int(c)): int(n) for (a, c), n in zip(keys, counts)},
            int(in_box.sum()))


def check_tile_counts(rows, expected: dict) -> list[str]:
    got = {(int(r["tile_x"]), int(r["tile_y"])): int(r["n"]) for r in rows}
    if len(got) != len(rows):
        return [f"duplicate tiles in {len(rows)} result rows"]
    bad = [f"tile {t}: got {got.get(t)} want {expected.get(t)}"
           for t in sorted(set(got) | set(expected)) if got.get(t) != expected.get(t)]
    return bad[:5]


def knn_brute_np(ids, x, y, src: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """k nearest other points of point ``src`` over all points; ties by id."""
    dx = x[src] - x
    dy = y[src] - y
    d2 = dx * dx + dy * dy
    d2[ids == ids[src]] = np.inf
    order = np.lexsort((ids, d2))[:k]
    return ids[order], np.sqrt(d2[order])


def check_knn(pdf, ids, x, y, k: int, cell: float, sample: np.ndarray) -> list[str]:
    """Every source has k neighbours within ``cell``; sampled ones match brute force."""
    pdf = pdf.sort_values(["src_id", "rank"], kind="stable")
    want_src = np.sort(ids)
    src = pdf["src_id"].to_numpy()
    if len(src) != k * len(ids) or not np.array_equal(src, np.repeat(want_src, k)):
        return [f"{len(src)} result rows over {len(np.unique(src))} sources, "
                f"want {k} for each of {len(ids)}"]
    cand = pdf["cand_id"].to_numpy().reshape(-1, k)
    dist = pdf["dist"].to_numpy().reshape(-1, k)
    errs = []
    if not np.array_equal(pdf["rank"].to_numpy().reshape(-1, k),
                          np.broadcast_to(np.arange(1, k + 1), cand.shape)):
        errs.append(f"ranks are not 1..{k} for every source")
    far = int((dist.max(axis=1) > cell).sum())
    if far:
        errs.append(f"{far} sources with a neighbour beyond cell_size={cell}")
    for s in sample:
        want_ids, want_d = knn_brute_np(ids, x, y, int(s), k)
        row = np.searchsorted(want_src, ids[s])
        if (not np.array_equal(cand[row], want_ids)
                or not np.allclose(dist[row], want_d, rtol=1e-12, atol=0.0)):
            errs.append(f"source {ids[s]}: got {cand[row].tolist()} want {want_ids.tolist()}")
    return errs[:5]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One pipeline over one generated input.

    ``build`` makes the input (timed as set-up, run several times);
    ``prepare_check`` computes the oracle once, untimed; ``steps`` gives
    fresh actions for one rep; ``check`` returns the errors of one output.
    """

    name = ""
    input_name = ""  # file or directory the input lives in, under the work dir

    def __init__(self, spark, work: Path, scale: str, seeded: Seeded):
        self.spark = spark
        self.scale = scale
        self.seeded = seeded
        self.rows = SIZES[scale][self.name]
        self.path = work / self.input_name

    def build(self) -> None:
        raise NotImplementedError

    def setup_steps(self) -> list:
        """The build as one action per layer, when its layers are measured."""
        return []

    def setup_check(self) -> list[str]:
        """Errors in the built input, when the build is itself checked."""
        return []

    def setup_counters(self) -> dict:
        """Counters of the layers ``setup_steps`` measures."""
        return {}

    def prepare_check(self) -> None:
        pass

    def steps(self) -> list:
        raise NotImplementedError

    def check(self, output) -> list[str]:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        return parquet_bytes(self.path)[0]

    def layer_counters(self, outputs: dict, stages: dict, plans: dict) -> dict:
        """Counters of this workload's own layers, from one traced rep."""
        return {}


class TileChain(Workload):
    """crop -> split -> per-tile count over the points ``read`` returns."""

    read_step = ""

    def read(self):
        raise NotImplementedError

    def oracle_coords(self) -> tuple[np.ndarray, np.ndarray]:
        """The coordinates ``read`` should return, got without Spark."""
        raise NotImplementedError

    def steps(self):
        s = self.seeded
        points = self.read()
        cropped = crop.crop(points, [s.poly], mode="stream")
        tiled = splitter.split(cropped, TILE_LEN, s.origin[0], s.origin[1])
        counts = tiled.groupBy("tile_x", "tile_y").agg(F.count("*").alias("n"))
        return [(self.read_step, lambda: materialize(points)),
                ("crop", lambda: materialize(cropped)),
                ("splitter", lambda: materialize(tiled)),
                ("agg", lambda: collect(counts))]

    def prepare_check(self):
        x, y = self.oracle_coords()
        self.expected, self.bbox_pass = tile_counts_np(x, y, self.seeded.poly, self.seeded.origin)

    def check(self, rows):
        return check_tile_counts(rows, self.expected)

    def layer_counters(self, outputs, stages, plans):
        rows_in, rows_out = outputs[self.read_step], outputs["crop"]
        return {"crop.rows_in": rows_in, "crop.rows_out": rows_out,
                "crop.bbox_pass_ratio": self.bbox_pass / rows_in if rows_in else 0.0,
                "crop.pnp_keep_ratio": rows_out / self.bbox_pass if self.bbox_pass else 0.0,
                "splitter.tiles": len(outputs["agg"])}


class TileQuery(TileChain):
    """Flagship: set-up ingests the pages table (synth_pages -> sha256
    geocode -> parquet write); each rep scans x,y -> polygon crop (codegen
    PnP) -> splitter -> per-tile count. Work moved from query time into
    ingest shows in setup_s and stored_bytes_per_row."""

    name = "tile_query"
    input_name = "pages"
    read_step = "io.scan"

    def setup_steps(self):
        pages = synth.synth_pages(self.spark, self.rows)
        coords = synth.with_coords(pages)

        def write():
            coords.write.mode("overwrite").parquet(str(self.path))
            return None, None

        return [("synth", lambda: materialize(pages)),
                ("geo", lambda: materialize(coords)),
                ("io.write", write)]

    def build(self):
        self.setup_steps()[-1][1]()

    def setup_check(self):
        """Row count; sampled pages equal a plain-Python rebuild, x,y included."""
        sample = self.seeded.sample(self.rows, CHECK_SAMPLE, 1)
        dataset = pads.dataset(str(self.path), format="parquet")
        errs = []
        written = dataset.count_rows()
        if written != self.rows:
            errs.append(f"{written} rows written, want {self.rows}")
        got = dataset.to_table(filter=pads.field("page_id").isin(sample.tolist()))
        got_rows = {r["page_id"]: r for r in got.to_pylist()}
        for want in map(expected_page, sample.tolist()):
            row = got_rows.get(want["page_id"])
            if row is None:
                errs.append(f"page {want['page_id']} missing")
                continue
            row["warc_ts"] = row["warc_ts"].replace(tzinfo=None)
            diff = [c for c in want if row[c] != want[c]]
            if diff:
                errs.append(f"page {want['page_id']}: {diff} differ from the recomputation")
        return errs[:5]

    def setup_counters(self):
        nbytes, nfiles = parquet_bytes(self.path)
        return {"io.write_bytes": nbytes, "io.write_files": nfiles}

    def read(self):
        return self.spark.read.parquet(str(self.path)).select("x", "y")

    def oracle_coords(self):
        t = pq.read_table(str(self.path), columns=["x", "y"])
        return t.column("x").to_numpy(), t.column("y").to_numpy()


class LazTileQuery(TileChain):
    """The flagship chain over a .laz file: pure-Python LAZ decode, then crop/split/count."""

    name = "laz_tile_query"
    input_name = "points.laz"
    read_step = "las"

    def build(self):
        pts = synth.with_coords(synth.synth_pages(self.spark, self.rows))
        pts = pts.select("x", "y", F.lit(0.0).alias("z"))
        las.write_las(pts, str(self.path), scales=(LAZ_SCALE, LAZ_SCALE, 0.01),
                      compression=True)

    def read(self):
        return las.read_las(self.spark, str(self.path), columns=["x", "y"])

    def oracle_coords(self):
        # quantize as LAS does (round half away from zero), independently
        def q(v):
            s = v / LAZ_SCALE
            return np.where(s > 0.0, np.floor(s + 0.5), np.ceil(s - 0.5)).astype(np.int64) * LAZ_SCALE
        x, y = expected_coords(self.rows)
        return q(x), q(y)

    def stored_bytes(self):
        return self.path.stat().st_size

    def layer_counters(self, outputs, stages, plans):
        out = super().layer_counters(outputs, stages, plans)
        durs = [d for st in stages[self.read_step] for d in st.durations_s]
        out["las.tasks"] = len(durs)
        out["las.points_per_s_per_core"] = self.rows / sum(durs) if durs else 0.0
        return out


class KnnSkewed(Workload):
    """kNN self-join (cogroup + pandas kernel) over points with one hot box."""

    name = "knn_skewed"
    input_name = "knn_points"

    def __init__(self, *a):
        super().__init__(*a)
        self.cell = KNN_CELL[self.scale]

    def build(self):
        pages = synth.with_coords(synth.synth_pages(self.spark, self.rows))
        pts = synth.with_skew(pages, hot_frac_pct=HOT_PCT, hot_box=self.seeded.hot_box)
        pts.select("page_id", "x", "y").write.mode("overwrite").parquet(str(self.path))

    def steps(self):
        points = self.spark.read.parquet(str(self.path))
        src = points.select(F.col("page_id").alias("src_id"), "x", "y")
        cand = points.select(F.col("page_id").alias("cand_id"), "x", "y")
        pairs = knn.knn_join(src, cand, KNN_K, cell_size=self.cell, exclude_self=True)
        return [("io.scan", lambda: materialize(points)),
                ("knn", lambda: to_pandas(pairs))]

    def prepare_check(self):
        t = pq.read_table(str(self.path), columns=["page_id", "x", "y"])
        self.ids = t.column("page_id").to_numpy()
        self.x = t.column("x").to_numpy()
        self.y = t.column("y").to_numpy()

    def check(self, pdf):
        sample = self.seeded.sample(len(self.ids), CHECK_SAMPLE, 2)
        return check_knn(pdf, self.ids, self.x, self.y, KNN_K, self.cell, sample)

    def block_work(self) -> tuple[int, int]:
        """(pair distances, salted blocks) computed from knn_join's block rule.

        A block of KNN_BLOCK_CELLS^2 cells computes |src| x |halo cands|
        distances, the halo being one cell around the block; a block is
        salted when its sources exceed max(AUTO_SALT_FLOOR, 8 n / partitions).
        """
        b = knn.KNN_BLOCK_CELLS
        cx = np.floor(self.x / self.cell).astype(np.int64)
        cy = np.floor(self.y / self.cell).astype(np.int64)

        def halo_blocks(c):
            lo, mid, hi = (c - 1) // b, c // b, (c + 1) // b
            return [(lo, np.ones_like(c, bool)), (mid, mid != lo), (hi, hi != mid)]

        def key(bx, by):
            return bx * 1_000_003 + by

        src_keys, src_n = np.unique(key(cx // b, cy // b), return_counts=True)
        halo = []
        for bx, okx in halo_blocks(cx):
            for by, oky in halo_blocks(cy):
                halo.append(key(bx, by)[okx & oky])
        halo_keys, halo_n = np.unique(np.concatenate(halo), return_counts=True)
        cand_per_src_block = halo_n[np.searchsorted(halo_keys, src_keys)]
        pairs = int((src_n * cand_per_src_block).sum())
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        hot = max(knn.AUTO_SALT_FLOOR, 8.0 * len(self.ids) / parts)
        return pairs, int((src_n > hot).sum())

    def layer_counters(self, outputs, stages, plans):
        pairs, salted = self.block_work()
        cand_rows = counters.cogroup_right_records(plans["knn"].executedPlan())
        return {"knn.cand_replication": cand_rows / self.rows,
                "knn.salted_blocks": salted,
                "knn.pair_distances": pairs,
                "knn.useful_pair_ratio": KNN_K * self.rows / pairs}


WORKLOADS = {w.name: w for w in (TileQuery, LazTileQuery, KnnSkewed)}

