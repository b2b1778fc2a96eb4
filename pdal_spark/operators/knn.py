"""Cell-bucketed kNN / radius join primitive + the operators built on it.

The reference does all neighbor searches through an exact in-memory
KD-tree (pdal/KDIndex.hpp, nanoflann L2). The distributed equivalent here
is a grid-bucketed join:

  * candidates get a cell id (floor(x/cell), floor(y/cell))
  * each query point joins its 3x3 cell neighborhood
  * per-query window takes the k nearest (or all within radius)

Exactness: results equal the KD-tree's whenever the true kth-neighbor
distance (or search radius) is <= cell_size. Callers pick cell_size from
expected density; `validate=True` asserts the invariant on the computed
result (one extra aggregate) — the scale-safe way to *prove* exactness
instead of hoping.

Skew (the north rule's mega-cell case): candidate cells whose population
exceeds `salt_threshold` are split into `n_salts` sub-keys; query rows
explode over the sub-keys of hot cells only (driven by a broadcast join
against the small hot-cell table). Cold cells pay nothing.

Operators built on the primitive:
  * neighbor_classifier — filters.neighborclassifier
    (NeighborClassifierFilter.cpp:108-193): k-vote with
    votes > k/2 and smallest-class tie win (std::map + max_element).
    Candidate mode = snapshot semantics, exact parity. Self mode is
    ALSO snapshot here — the reference mutates classifications in place
    while scanning (order-dependent, 176-180); documented divergence.
  * outlier — filters.outlier (OutlierFilter.cpp:96-151): statistical
    (mean kNN distance, threshold mean + m*stdev[sample]) and radius
    (inlier iff neighbor count within radius > min_k, self included).
  * nn_distance — filters.nndistance: kth or avg neighbor distance.
  * radial_density — filters.radialdensity: count within radius / volume.
  * hausdorff / delta kernels — max-min NN distance / per-point diff.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.functions.dimrange import parse_range, value_passes

NEIGHBOR_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _with_cell(df: DataFrame, cell_size: float, x: str, y: str) -> DataFrame:
    return df.withColumn("_cx", F.floor(F.col(x) / cell_size).cast("long")).withColumn(
        "_cy", F.floor(F.col(y) / cell_size).cast("long")
    )


AUTO_SALT_FLOOR = 65_536


def _cell_runs(cx, cy) -> dict:
    """{(cx, cy): (start, end)} of each run of equal cells in cell-sorted
    coordinate arrays."""
    import numpy as np

    if not len(cx):
        return {}
    edge = np.flatnonzero((np.diff(cx) != 0) | (np.diff(cy) != 0)) + 1
    starts = np.concatenate(([0], edge))
    ends = np.concatenate((edge, [len(cx)]))
    return {(a, b): (lo, hi) for a, b, lo, hi in zip(
        cx[starts].tolist(), cy[starts].tolist(),
        starts.tolist(), ends.tolist())}


#: block edge in cells for the kernel kNN — candidates replicate into a
#: 1-cell halo around each (BLOCK x BLOCK)-cell block, so the per-point
#: replication factor is (BLOCK+2)^2/BLOCK^2 (~1.6x at 8) instead of the
#: 9x of per-cell replication, and groups stay large enough that the
#: Arrow per-group overhead is amortized.
KNN_BLOCK_CELLS = 8


def knn_join(
    src: DataFrame,
    cand: DataFrame,
    k: int,
    cell_size: float,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    exclude_self: bool = False,
    salt_threshold: int | None | str = "auto",
    n_salts: int = 8,
    validate: bool = False,
) -> DataFrame:
    """k nearest candidates per src row -> (src_id, cand_id, dist, rank).

    rank is 1-based by (distance, cand_id) — the cand_id tiebreak makes
    the result deterministic where the reference KD-tree's equal-distance
    order is unspecified. Semantics identical to
    :func:`knn_join_pairwise` (the k nearest among the 3x3 cell
    neighborhood); the physical plan is radically different:

    The pairwise plan materializes EVERY (src, neighborhood-candidate)
    pair and shuffles all of them through a per-src window — ~200
    pairs/point at typical densities, so a 1M-point join moves 198M
    rows through the rank exchange and the window sort is ~90% of the
    wall clock (measured on the 4-worker standalone harness; scaling
    efficiency 0.47). Here the pair stream never exists as rows:
    candidates replicate into the 1-cell halo of each BLOCK x BLOCK
    cell block (the SMRF tiled-halo pattern), one cogroup shuffle
    brings each block's srcs and halo candidates together, and a
    vectorized numpy kernel emits exactly k rows per src. It computes
    one dense block per src cell against that cell's own 3x3 candidate
    cells only, so results match the pairwise plan bit for bit. Shuffle
    volume drops from O(pairs) to O(1.6 x points); there is no window.

    Skew: blocks whose SRC population exceeds salt_threshold split
    their srcs over n_salts sub-groups and replicate the block's
    candidates per sub-group (srcs are independent given the
    candidates, so this is exact).

    exclude_self: drop cand rows whose id equals the src id (self-kNN).

    Small inputs (both sides under the ordered.SMALL_BYTES plan-stats
    gate) take the pairwise window plan instead — pure codegen beats
    the cogroup kernel's Arrow/python overhead when the pair stream is
    tiny; PDAL_SPARK_FORCE_DISTRIBUTED=1 pins the kernel shape so the
    plan census audits the at-scale plan (same convention as
    operators/ordered.py).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from pdal_spark.operators.ordered import SMALL_BYTES, _is_small

    if _is_small(src, SMALL_BYTES) and _is_small(cand, SMALL_BYTES):
        return knn_join_pairwise(
            src, cand, k, cell_size, src_id=src_id, cand_id=cand_id,
            x=x, y=y, exclude_self=exclude_self,
            salt_threshold=salt_threshold, n_salts=n_salts,
            validate=validate,
        )

    spark = src.sparkSession
    B = KNN_BLOCK_CELLS

    s = _with_cell(src.select(F.col(src_id), F.col(x), F.col(y)),
                   cell_size, x, y)
    s = s.withColumn("_bx", F.floor(F.col("_cx") / B).cast("long")) \
         .withColumn("_by", F.floor(F.col("_cy") / B).cast("long"))
    c0 = _with_cell(
        cand.select(F.col(cand_id), F.col(x).alias("_cxv"),
                    F.col(y).alias("_cyv")),
        cell_size, "_cxv", "_cyv",
    )
    # candidate (cell cx,cy) belongs to block (bx,by)'s halo iff
    # cx in [bx*B-1, bx*B+B] — i.e. up to 4 blocks; enumerate them
    # map-side with an explode over the distinct floor values
    bxs = F.array_distinct(F.array(
        F.floor((F.col("_cx") - 1) / B).cast("long"),
        F.floor(F.col("_cx") / B).cast("long"),
        F.floor((F.col("_cx") + 1) / B).cast("long"),
    ))
    bys = F.array_distinct(F.array(
        F.floor((F.col("_cy") - 1) / B).cast("long"),
        F.floor(F.col("_cy") / B).cast("long"),
        F.floor((F.col("_cy") + 1) / B).cast("long"),
    ))
    c = (
        c0.withColumn("_bx", F.explode(bxs))
        .withColumn("_by", F.explode(bys))
    )

    if salt_threshold is not None:
        bc = s.groupBy("_bx", "_by").agg(F.count("*").alias("_n"))
        if salt_threshold == "auto":
            # same heuristic as before (a block is hot when its src
            # population exceeds max(floor, 8*|src|/partitions)) but
            # derived INSIDE the plan from the block-count aggregate the
            # hot table needs anyway — no eager src.count() driver
            # action per call (looped callers: ICP, features family).
            # |src| = sum of block counts; the 1-row total broadcasts.
            parts = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200"))
            tot = bc.agg(F.sum("_n").alias("_tot"))
            hot = (
                bc.crossJoin(F.broadcast(tot))
                .filter(F.col("_n") > F.greatest(
                    F.lit(AUTO_SALT_FLOOR).cast("double"),
                    (8.0 * F.col("_tot")) / F.lit(float(max(parts, 1)))))
                .select("_bx", "_by", F.lit(n_salts).alias("_nsalt"))
            )
        else:
            hot = bc.filter(F.col("_n") > salt_threshold).select(
                "_bx", "_by", F.lit(n_salts).alias("_nsalt"))
        s = s.join(F.broadcast(hot), ["_bx", "_by"], "left").withColumn(
            "_salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64(F.col(src_id)), F.col("_nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("_nsalt")
        c = c.join(F.broadcast(hot), ["_bx", "_by"], "left").withColumn(
            "_salts", F.coalesce(F.col("_nsalt"), F.lit(1))
        ).drop("_nsalt").withColumn(
            "_salt",
            F.explode(F.sequence(
                F.lit(0), (F.col("_salts") - 1).cast("int"))),
        ).withColumn("_salt", F.col("_salt").cast("int")).drop("_salts")
    else:
        s = s.withColumn("_salt", F.lit(0))
        c = c.withColumn("_salt", F.lit(0))

    out_schema = T.StructType([
        T.StructField(src_id, src.schema[src_id].dataType),
        T.StructField(cand_id, cand.schema[cand_id].dataType),
        T.StructField("dist", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])
    kk = int(k)
    excl = bool(exclude_self)

    def top_k(d2: np.ndarray) -> np.ndarray:
        """Column indices of each row's k smallest d2, ordered by
        (d2, column); columns are in cand_id order, so that is the
        pairwise plan's (distance, cand_id) rank."""
        if d2.shape[1] <= kk:
            return np.argsort(d2, axis=1, kind="stable")
        part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
        kth = np.take_along_axis(d2, part[:, kk - 1:], axis=1)
        # argpartition picks an arbitrary member of a tie at the kth
        # distance; such rows (and rows with < k finite distances) rank
        # their whole row with the stable sort instead
        redo = ~np.isfinite(kth[:, 0]) | ((d2 <= kth).sum(axis=1) > kk)
        part.sort(axis=1)
        vals = np.take_along_axis(d2, part, axis=1)
        top = np.take_along_axis(
            part, np.argsort(vals, axis=1, kind="stable"), axis=1)
        if redo.any():
            top[redo] = np.argsort(d2[redo], axis=1, kind="stable")[:, :kk]
        return top

    def kernel(key, spdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(spdf) or not len(cpdf):
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema}
            )
        # candidates in cand_id order; `by_cell` lists their positions
        # grouped by cell, so each cell's candidates are one run
        cpdf = cpdf.sort_values(cand_id, kind="stable")
        cxv = cpdf["_cxv"].to_numpy(np.float64)
        cyv = cpdf["_cyv"].to_numpy(np.float64)
        ccx = cpdf["_cx"].to_numpy(np.int64)
        ccy = cpdf["_cy"].to_numpy(np.int64)
        cids = cpdf[cand_id].to_numpy()
        by_cell = np.lexsort((ccy, ccx))
        cruns = _cell_runs(ccx[by_cell], ccy[by_cell])
        sxv = spdf[x].to_numpy(np.float64)
        syv = spdf[y].to_numpy(np.float64)
        scx = spdf["_cx"].to_numpy(np.int64)
        scy = spdf["_cy"].to_numpy(np.int64)
        sids = spdf[src_id].to_numpy()
        s_by_cell = np.lexsort((scy, scx))
        out_s, out_c, out_d, out_r = [], [], [], []
        # one dense block per source cell against its own 3x3 cells
        for (cx, cy), (slo, shi) in _cell_runs(
                scx[s_by_cell], scy[s_by_cell]).items():
            runs = [by_cell[a:b] for a, b in (
                cruns.get((cx + ox, cy + oy), (0, 0))
                for ox, oy in NEIGHBOR_OFFSETS
            ) if b]
            if not runs:
                continue
            cols = np.sort(np.concatenate(runs))  # back to cand_id order
            nxv, nyv, nids = cxv[cols], cyv[cols], cids[cols]
            chunk = max(1, (4 << 20) // len(cols))  # ~32MB f64 matrix
            for lo in range(slo, shi, chunk):
                rows = s_by_cell[lo:min(lo + chunk, shi)]
                dx = sxv[rows, None] - nxv[None, :]
                dy = syv[rows, None] - nyv[None, :]
                d2 = dx * dx + dy * dy
                if excl:
                    d2[sids[rows, None] == nids[None, :]] = np.inf
                top = top_k(d2)
                dsel = np.take_along_axis(d2, top, axis=1)
                # finite distances sort first, so each row's valid
                # entries are a prefix and rank = position + 1
                valid = np.isfinite(dsel)
                out_s.append(np.repeat(sids[rows], valid.sum(axis=1)))
                out_c.append(nids[top[valid]])
                out_d.append(np.sqrt(dsel[valid]))
                out_r.append(np.broadcast_to(
                    np.arange(1, top.shape[1] + 1), top.shape)[valid])
        return pd.DataFrame({
            src_id: np.concatenate(out_s) if out_s else [],
            cand_id: np.concatenate(out_c) if out_c else [],
            "dist": np.concatenate(out_d) if out_d else [],
            "rank": (np.concatenate(out_r) if out_r else np.empty(0)
                     ).astype(np.int32),
        })

    out = (
        s.groupBy("_bx", "_by", "_salt")
        .cogroup(c.groupBy("_bx", "_by", "_salt"))
        .applyInPandas(kernel, schema=out_schema)
    )
    if validate:
        bad = (
            out.groupBy(src_id)
            .agg(F.count("*").alias("_nf"), F.max("dist").alias("_md"))
            .filter((F.col("_nf") < k) | (F.col("_md") > F.lit(float(cell_size))))
            .count()
        )
        if bad:
            raise ValueError(
                f"kNN grid too coarse: {bad} query points have < {k} neighbors "
                f"in the 3x3 neighborhood or kth distance > cell_size="
                f"{cell_size}; increase cell_size or use knn_join_exact"
            )
    return out


def knn_join_pairwise(
    src: DataFrame,
    cand: DataFrame,
    k: int,
    cell_size: float,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    exclude_self: bool = False,
    salt_threshold: int | None | str = "auto",
    n_salts: int = 8,
    validate: bool = False,
) -> DataFrame:
    """Materialized-pair reference plan for knn_join (every neighborhood
    pair as a row through a per-src rank window). Kept as the parity
    oracle for the kernel plan — tests assert bit-equal results — and
    for callers that want the pure-codegen shape on tiny inputs.

    rank is 1-based by (distance, cand_id) — the cand_id tiebreak makes
    the result deterministic where the reference KD-tree's equal-distance
    order is unspecified.

    exclude_self: drop cand rows whose id equals the src id (self-kNN).

    salt_threshold="auto" (default): count-based heuristic — a cell is
    hot when its candidate population exceeds
    max(AUTO_SALT_FLOOR, 8 * |cand| / shuffle_partitions), i.e. when one
    cell alone would dominate a reduce task. Costs one extra map-side-
    combined aggregate; on well-spread data the hot table is empty and
    the plan degenerates to the unsalted one. Pass an int to pin the
    threshold, or None to disable salting entirely.
    """
    s = _with_cell(src.select(F.col(src_id), F.col(x), F.col(y)), cell_size, x, y)
    c = _with_cell(
        cand.select(F.col(cand_id), F.col(x).alias("_cxv"), F.col(y).alias("_cyv")),
        cell_size,
        "_cxv",
        "_cyv",
    )

    if salt_threshold is not None:
        cc = c.groupBy("_cx", "_cy").agg(F.count("*").alias("_n"))
        if salt_threshold == "auto":
            # lazy auto threshold (see knn_join): hot iff cell count >
            # max(floor, 8*|cand|/partitions), with |cand| computed from
            # the same aggregate — no eager cand.count() action
            spark = src.sparkSession
            parts = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200"))
            tot = cc.agg(F.sum("_n").alias("_tot"))
            hot = (
                cc.crossJoin(F.broadcast(tot))
                .filter(F.col("_n") > F.greatest(
                    F.lit(AUTO_SALT_FLOOR).cast("double"),
                    (8.0 * F.col("_tot")) / F.lit(float(max(parts, 1)))))
                .select("_cx", "_cy", F.lit(n_salts).alias("_nsalt"))
            )
        else:
            hot = cc.filter(F.col("_n") > salt_threshold).select(
                "_cx", "_cy", F.lit(n_salts).alias("_nsalt"))
        c = c.join(F.broadcast(hot), ["_cx", "_cy"], "left").withColumn(
            "_salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64(F.col(cand_id)), F.col("_nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("_nsalt")
    else:
        hot = None
        c = c.withColumn("_salt", F.lit(0))

    # explode src over the 3x3 neighborhood (arrays of struct -> explode:
    # one narrow pass, no shuffle until the join itself)
    offs = F.array(
        *[
            F.struct(
                (F.col("_cx") + dx).alias("cx"), (F.col("_cy") + dy).alias("cy")
            )
            for dx, dy in NEIGHBOR_OFFSETS
        ]
    )
    s = (
        s.withColumn("_nb", F.explode(offs))
        .withColumn("_cx", F.col("_nb.cx"))
        .withColumn("_cy", F.col("_nb.cy"))
        .drop("_nb")
    )
    if hot is not None:
        s = s.join(F.broadcast(hot), ["_cx", "_cy"], "left").withColumn(
            "_salts", F.coalesce(F.col("_nsalt"), F.lit(1))
        ).drop("_nsalt")
        s = s.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), (F.col("_salts") - 1).cast("int")))
        ).withColumn("_salt", F.col("_salt").cast("int")).drop("_salts")
    else:
        s = s.withColumn("_salt", F.lit(0))

    joined = s.join(c, ["_cx", "_cy", "_salt"])
    if exclude_self:
        joined = joined.filter(F.col(src_id) != F.col(cand_id))
    d2 = (F.col(x) - F.col("_cxv")) ** 2 + (F.col(y) - F.col("_cyv")) ** 2
    joined = joined.withColumn("_d2", d2)

    w = Window.partitionBy(src_id).orderBy(F.col("_d2").asc(), F.col(cand_id).asc())
    out = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(src_id),
            F.col(cand_id),
            F.sqrt(F.col("_d2")).alias("dist"),
            "rank",
        )
    )
    if validate:
        # exact iff every query found k neighbors AND its kth distance fits
        # within one cell (then the 3x3 neighborhood provably covered the
        # true k-disk). Fewer than k found => neighborhood exhausted before
        # k => grid too coarse (or k > |cand|, where exact join is the tool).
        bad = (
            out.groupBy(src_id)
            .agg(F.count("*").alias("_nf"), F.max("dist").alias("_md"))
            .filter((F.col("_nf") < k) | (F.col("_md") > F.lit(float(cell_size))))
            .count()
        )
        if bad:
            raise ValueError(
                f"kNN grid too coarse: {bad} query points have < {k} neighbors "
                f"in the 3x3 neighborhood or kth distance > cell_size="
                f"{cell_size}; increase cell_size or use knn_join_exact"
            )
    return out


def knn_join_exact(
    src: DataFrame,
    cand: DataFrame,
    k: int,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    exclude_self: bool = False,
) -> DataFrame:
    """Brute-force kNN via broadcast cross join — the small-candidate-set
    path (hausdorff/delta kernels, tests). Same output contract."""
    c = F.broadcast(
        cand.select(
            F.col(cand_id), F.col(x).alias("_cxv"), F.col(y).alias("_cyv")
        )
    )
    joined = src.select(F.col(src_id), F.col(x), F.col(y)).crossJoin(c)
    if exclude_self:
        joined = joined.filter(F.col(src_id) != F.col(cand_id))
    d2 = (F.col(x) - F.col("_cxv")) ** 2 + (F.col(y) - F.col("_cyv")) ** 2
    w = Window.partitionBy(src_id).orderBy(d2.asc(), F.col(cand_id).asc())
    return (
        joined.withColumn("_d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(src_id), F.col(cand_id), F.sqrt(F.col("_d2")).alias("dist"), "rank")
    )


def radius_join(
    src: DataFrame,
    cand: DataFrame,
    radius: float,
    cell_size: float | None = None,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    exclude_self: bool = False,
) -> DataFrame:
    """All candidates within `radius` (inclusive, KD radius-search style)
    per src row. cell_size defaults to radius (then the 3x3 neighborhood
    provably covers the disk)."""
    cell = cell_size or radius
    if cell < radius:
        raise ValueError("cell_size must be >= radius for exact coverage")
    s = _with_cell(src.select(F.col(src_id), F.col(x), F.col(y)), cell, x, y)
    c = _with_cell(
        cand.select(F.col(cand_id), F.col(x).alias("_cxv"), F.col(y).alias("_cyv")),
        cell,
        "_cxv",
        "_cyv",
    )
    offs = F.array(
        *[
            F.struct((F.col("_cx") + dx).alias("cx"), (F.col("_cy") + dy).alias("cy"))
            for dx, dy in NEIGHBOR_OFFSETS
        ]
    )
    s = (
        s.withColumn("_nb", F.explode(offs))
        .withColumn("_cx", F.col("_nb.cx"))
        .withColumn("_cy", F.col("_nb.cy"))
        .drop("_nb")
    )
    joined = s.join(c, ["_cx", "_cy"])
    if exclude_self:
        joined = joined.filter(F.col(src_id) != F.col(cand_id))
    d2 = (F.col(x) - F.col("_cxv")) ** 2 + (F.col(y) - F.col("_cyv")) ** 2
    return (
        joined.withColumn("_d2", d2)
        .filter(F.col("_d2") <= F.lit(radius * radius))
        .select(F.col(src_id), F.col(cand_id), F.sqrt(F.col("_d2")).alias("dist"))
    )


# ---------------------------------------------------------------------------
# filters.neighborclassifier
# ---------------------------------------------------------------------------


def neighbor_classifier(
    src: DataFrame,
    cand: DataFrame | None,
    k: int,
    cell_size: float,
    dim: str = "classification",
    domain: list[str] | None = None,
    id_col: str = "page_id",
    cand_id_col: str | None = None,
    x: str = "x",
    y: str = "y",
    exact: bool = False,
    salt_threshold: int | None = None,
) -> DataFrame:
    """filters.neighborclassifier (NeighborClassifierFilter.cpp:108-193).

    For every src row (optionally restricted to rows passing ANY `domain`
    DimRange, 145-152): take the k nearest candidates, count classes,
    winner = highest count with smallest class value on ties (std::map
    iteration order + strict max_element, 115-127); update iff
    votes > k_actual/2 and winner != current class (131-134).

    cand=None -> self mode with SNAPSHOT semantics (reference self mode
    votes on already-updated neighbors in scan order — order-dependent;
    non-goal, divergence documented). Candidate mode is exact parity.
    """
    self_mode = cand is None
    cand_df = src if self_mode else cand
    cid = id_col if self_mode else (cand_id_col or id_col)
    cand_sel = cand_df.select(
        F.col(cid).alias("_nc_cand"),
        F.col(dim).alias("_nc_class"),
        F.col(x),
        F.col(y),
    )

    in_domain = None
    if domain:
        ftypes = dict((f.name, f.dataType.typeName()) for f in src.schema.fields)
        for rs in domain:
            r = parse_range(rs)
            p = value_passes(r, F.col(r.name), ftypes.get(r.name) in ("double", "float"))
            in_domain = p if in_domain is None else (in_domain | p)

    queries = src.filter(in_domain) if in_domain is not None else src
    q_pts = queries.select(F.col(id_col).alias("_nc_src"), F.col(x), F.col(y))

    join_fn = knn_join_exact if exact else knn_join
    kw = {} if exact else {"cell_size": cell_size, "salt_threshold": salt_threshold}
    knn = join_fn(
        q_pts,
        cand_sel.select(F.col("_nc_cand"), F.col(x), F.col(y)),
        k,
        src_id="_nc_src",
        cand_id="_nc_cand",
        x=x,
        y=y,
        exclude_self=self_mode,
        **kw,
    )

    # F.mode() has no deterministic tie rule, so the vote is explicit:
    per_class = (
        knn.join(cand_sel.select("_nc_cand", "_nc_class"), "_nc_cand")
        .groupBy("_nc_src", "_nc_class")
        .agg(F.count("*").alias("_votes"))
    )
    wv = Window.partitionBy("_nc_src").orderBy(
        F.col("_votes").desc(), F.col("_nc_class").asc()
    )
    winners = (
        per_class.withColumn("_rk", F.row_number().over(wv))
        .filter(F.col("_rk") == 1)
        .join(
            per_class.groupBy("_nc_src").agg(F.sum("_votes").alias("_k_actual")),
            "_nc_src",
        )
        .select("_nc_src", "_nc_class", "_votes", "_k_actual")
    )

    out = src.join(winners, src[id_col] == winners["_nc_src"], "left")
    updated = (
        F.col("_votes").isNotNull()
        & (F.col("_votes") > F.col("_k_actual") / 2.0)
        & (F.col("_nc_class") != F.col(dim))
    )
    return (
        out.withColumn(dim, F.when(updated, F.col("_nc_class")).otherwise(F.col(dim)))
        .drop("_nc_src", "_nc_class", "_votes", "_k_actual")
    )


# ---------------------------------------------------------------------------
# filters.outlier / nndistance / radialdensity
# ---------------------------------------------------------------------------


def outlier_statistical(
    df: DataFrame,
    mean_k: int = 8,
    multiplier: float = 2.0,
    cell_size: float | None = None,
    noise_class: int = 7,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
    exact: bool = False,
    validate: bool = False,
) -> DataFrame:
    """filters.outlier statistical (OutlierFilter.cpp:96-151): per-point
    mean distance to mean_k nearest neighbors (self excluded); outlier iff
    mean dist >= mean + multiplier * sample-stdev of all mean dists;
    outliers get Classification = noise_class."""
    pts = df.select(F.col(id_col).alias("_o_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_o_cand"), F.col(x), F.col(y))
    if exact:
        knn = knn_join_exact(
            pts, cand, mean_k, src_id="_o_src", cand_id="_o_cand", x=x, y=y,
            exclude_self=True,
        )
    else:
        knn = knn_join(
            pts, cand, mean_k, cell_size, src_id="_o_src", cand_id="_o_cand",
            x=x, y=y, exclude_self=True, validate=validate,
        )
    mean_d = knn.groupBy("_o_src").agg(F.avg("dist").alias("_mean_d"))
    thr_row = mean_d.agg(
        F.avg("_mean_d").alias("m"), F.stddev_samp("_mean_d").alias("s")
    ).collect()[0]
    threshold = thr_row["m"] + multiplier * thr_row["s"]
    out = df.join(mean_d, df[id_col] == mean_d["_o_src"], "left")
    is_noise = F.col("_mean_d") >= F.lit(threshold)
    return out.withColumn(
        "classification",
        F.when(is_noise, F.lit(noise_class)).otherwise(
            F.col("classification") if "classification" in df.columns else F.lit(0)
        ),
    ).drop("_o_src", "_mean_d")


def outlier_radius(
    df: DataFrame,
    radius: float = 1.0,
    min_k: int = 2,
    noise_class: int = 7,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """filters.outlier radius (OutlierFilter.cpp:76-94): inlier iff
    neighbor count within radius (self INCLUDED) > min_k."""
    pts = df.select(F.col(id_col).alias("_o_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_o_cand"), F.col(x), F.col(y))
    nb = radius_join(pts, cand, radius, src_id="_o_src", cand_id="_o_cand", x=x, y=y)
    counts = nb.groupBy("_o_src").agg(F.count("*").alias("_n_nb"))
    out = df.join(counts, df[id_col] == counts["_o_src"], "left")
    is_inlier = F.coalesce(F.col("_n_nb"), F.lit(0)) > min_k
    return out.withColumn(
        "classification",
        F.when(~is_inlier, F.lit(noise_class)).otherwise(
            F.col("classification") if "classification" in df.columns else F.lit(0)
        ),
    ).drop("_o_src", "_n_nb")


def nn_distance(
    df: DataFrame,
    k: int = 10,
    mode: str = "kth",
    cell_size: float | None = None,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
    exact: bool = False,
    validate: bool = False,
) -> DataFrame:
    """filters.nndistance (NNDistanceFilter.cpp:60-66): per-point kth or
    average neighbor distance as a new NNDistance column."""
    pts = df.select(F.col(id_col).alias("_n_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_n_cand"), F.col(x), F.col(y))
    if exact:
        knn = knn_join_exact(pts, cand, k, src_id="_n_src", cand_id="_n_cand",
                             x=x, y=y, exclude_self=True)
    else:
        knn = knn_join(pts, cand, k, cell_size, src_id="_n_src", cand_id="_n_cand",
                       x=x, y=y, exclude_self=True, validate=validate)
    if mode == "kth":
        agg = knn.filter(F.col("rank") == k).select(
            F.col("_n_src"), F.col("dist").alias("nn_distance")
        )
    elif mode == "avg":
        agg = knn.groupBy("_n_src").agg(F.avg("dist").alias("nn_distance"))
    else:
        raise ValueError("mode must be kth|avg")
    return df.join(agg, df[id_col] == agg["_n_src"], "left").drop("_n_src")


def radial_density(
    df: DataFrame,
    radius: float = 1.0,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """filters.radialdensity (RadialDensityFilter.cpp:61,84-85): neighbor
    count within radius / sphere volume (reference uses 3D volume even
    for planar data; replicated)."""
    pts = df.select(F.col(id_col).alias("_r_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_r_cand"), F.col(x), F.col(y))
    nb = radius_join(pts, cand, radius, src_id="_r_src", cand_id="_r_cand", x=x, y=y)
    vol = (4.0 / 3.0) * math.pi * radius**3
    counts = nb.groupBy("_r_src").agg((F.count("*") / vol).alias("radial_density"))
    return df.join(counts, df[id_col] == counts["_r_src"], "left").drop("_r_src")


# ---------------------------------------------------------------------------
# kernels.hausdorff / kernels.delta
# ---------------------------------------------------------------------------


def _nn1(src, cand, src_id, cand_id, x, y, cell_size, validate):
    """Nearest-1 join: bucketed grid join when cell_size is given (the
    scale path — no broadcast of the candidate side), else broadcast
    exact. validate=True proves grid exactness at run time."""
    if cell_size is not None:
        return knn_join(src, cand, 1, cell_size, src_id=src_id,
                        cand_id=cand_id, x=x, y=y, validate=validate)
    return knn_join_exact(src, cand, 1, src_id=src_id, cand_id=cand_id,
                          x=x, y=y)


def hausdorff(
    a: DataFrame, b: DataFrame, id_a: str = "page_id", id_b: str = "page_id",
    x: str = "x", y: str = "y", cell_size: float | None = None,
    validate: bool = False,
) -> float:
    """kernels.hausdorff: max(max-min-dist(a->b), max-min-dist(b->a)).

    cell_size routes through the bucketed grid join (candidate side is a
    full point cloud at scale — not broadcastable)."""
    def one_way(s, c, ids, idc):
        nn = _nn1(
            s.select(F.col(ids).alias("_h_src"), x, y),
            c.select(F.col(idc).alias("_h_cand"), x, y),
            "_h_src", "_h_cand", x, y, cell_size, validate,
        )
        return nn.agg(F.max("dist")).collect()[0][0]

    return max(one_way(a, b, id_a, id_b), one_way(b, a, id_b, id_a))


def delta(
    src: DataFrame, cand: DataFrame, id_src: str = "page_id",
    id_cand: str = "page_id", x: str = "x", y: str = "y",
    cell_size: float | None = None, validate: bool = False,
) -> DataFrame:
    """kernels.delta: per src point, coordinate diffs vs nearest cand."""
    nn = _nn1(
        src.select(F.col(id_src).alias("_d_src"), x, y),
        cand.select(F.col(id_cand).alias("_d_cand"), x, y),
        "_d_src", "_d_cand", x, y, cell_size, validate,
    )
    c = cand.select(
        F.col(id_cand).alias("_d_cand"),
        F.col(x).alias("_d_x"),
        F.col(y).alias("_d_y"),
    )
    return (
        src.join(nn, src[id_src] == nn["_d_src"])
        .join(c, "_d_cand")
        .select(
            F.col(id_src),
            (F.col(x) - F.col("_d_x")).alias("delta_x"),
            (F.col(y) - F.col("_d_y")).alias("delta_y"),
            F.col("dist").alias("delta_dist"),
        )
    )
