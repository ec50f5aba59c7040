"""Raster / grid operators (SURVEY §2.10, R1-R8) on the cell-DataFrame
representation: a raster band is rows ``(x int, y int, value double)``
(+ extra band columns), lon/lat derivable from an affine axis (S4,
odin_common/src/ranges.rs:29-62).

Why cells instead of opaque 2-D arrays: every grid op becomes a
Catalyst-visible join/agg — filter pushdown, AQE, broadcast all apply,
and a 100 TB raster archive partitions naturally by (tile_x, tile_y).
The reference does these ops via GDAL on single-process arrays
(odin_gdal/src/warp.rs, grid.rs, contour.rs); the semantics targets are
cited per function. Only contouring needs Python (marching squares,
Arrow-batched applyInPandas per tile with halo exchange) — everything
else is pure JVM column math.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --------------------------------------------------------------------------
# lattice construction (S4 — linear axis decode)
# --------------------------------------------------------------------------

def affine_lattice(
    spark: SparkSession,
    nx: int,
    ny: int,
    x0: float = 0.0,
    dx: float = 1.0,
    y0: float = 0.0,
    dy: float = 1.0,
) -> DataFrame:
    """Materialize an nx×ny cell lattice with affine lon/lat axes
    (LinearRange{first,inc,n}, odin_common/src/ranges.rs:29-62;
    nc axis decode odin_gdal/src/lib.rs:550).

    `spark.range` is a parallel, partitioned source — no driver loop;
    a 10^9-cell lattice stays distributed.
    """
    return spark.range(nx * ny).select(
        (F.col("id") % nx).cast("int").alias("x"),
        (F.col("id") / nx).cast("int").alias("y"),
        (F.lit(x0) + (F.col("id") % nx) * F.lit(dx)).alias("lon"),
        (F.lit(y0) + (F.col("id") / nx).cast("int") * F.lit(dy)).alias("lat"),
    )


# --------------------------------------------------------------------------
# R4 — band combine (per-pixel map)
# --------------------------------------------------------------------------

def windspeed(u: Column | str, v: Column | str) -> Column:
    """√(u²+v²) band combine (odin_wind/src/actor.rs:417,
    odin_gdal/src/lib.rs:784-805). Pure column math → codegen."""
    u, v = _col(u), _col(v)
    return F.sqrt(u * u + v * v)


# --------------------------------------------------------------------------
# neighborhood machinery shared by R2 / R5
# --------------------------------------------------------------------------

def _scatter_to_neighbors(df: DataFrame, cx: Column, cy: Column, radius: int) -> DataFrame:
    """Each row is replicated to every cell within Chebyshev `radius` of
    its (cx, cy) cell — the scatter half of a stencil op. Turns
    neighborhood gathers into plain equi-joins on (x, y): no cross join,
    no window over the whole grid, shuffle ∝ rows × (2r+1)²."""
    offsets = F.expr(
        f"flatten(transform(sequence(-{radius}, {radius}), "
        f"dx -> transform(sequence(-{radius}, {radius}), dy -> struct(dx, dy))))"
    )
    return (
        df.withColumn("__cx", cx)
        .withColumn("__cy", cy)
        .withColumn("__o", F.explode(offsets))
        .withColumn("__tx", (F.col("__cx") + F.col("__o.dx")).cast("int"))
        .withColumn("__ty", (F.col("__cy") + F.col("__o.dy")).cast("int"))
        .drop("__o")
    )


# --------------------------------------------------------------------------
# R2 — scattered observations → grid interpolation
# --------------------------------------------------------------------------

def idw_to_grid(
    points: DataFrame,
    lattice: DataFrame,
    px: str = "px",
    py: str = "py",
    value: str = "value",
    radius_cells: int = 2,
    power: float = 2.0,
    eps: float = 1e-9,
) -> DataFrame:
    """R2 — inverse-distance-weighted interpolation of scattered points
    onto a cell lattice (GDAL Grid linear/IDW, odin_gdal/src/grid.rs:20-75,
    used for the OpenMeteo lattice odin_openmeteo/src/lib.rs:246-319).

    Scale design: each observation scatters to the cells within
    `radius_cells` (Chebyshev, in cell units) of its own cell, then a
    hash equi-join on (x, y) + groupBy(x, y) does the weighted gather.
    Cost is O(points·(2r+1)² + cells); a lattice×points cross join
    (O(N·M)) never materializes. Lattice cells with no observation in
    range come back with NULL `idw` (left join), matching GDAL nodata.

    Output: lattice columns + n_obs + idw.
    """
    cand = _scatter_to_neighbors(
        points.select(
            _col(px).alias("__px"), _col(py).alias("__py"), _col(value).alias("__v")
        ),
        F.floor(F.col("__px")).cast("int"),
        F.floor(F.col("__py")).cast("int"),
        radius_cells,
    )
    d2 = (F.col("__px") - F.col("__tx")) ** F.lit(2.0) + (
        F.col("__py") - F.col("__ty")
    ) ** F.lit(2.0)
    w = F.lit(1.0) / (d2 ** F.lit(power / 2.0) + F.lit(eps))
    contrib = cand.groupBy(F.col("__tx").alias("x"), F.col("__ty").alias("y")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.sum(w * F.col("__v")) / F.sum(w)).alias("idw"),
    )
    return lattice.join(contrib, ["x", "y"], "left")


# --------------------------------------------------------------------------
# R5 — nodata fill
# --------------------------------------------------------------------------

def fill_nodata(
    cells: DataFrame, value: str = "value", radius: int = 1
) -> DataFrame:
    """R5 — fill NULL cells with the mean of valued neighbors within
    Chebyshev `radius` (GDAL FillNodata inverse-distance flavor,
    odin_gdal/src/lib.rs:806-820; here an unweighted neighborhood mean —
    deterministic and oracle-expressible).

    Valued cells scatter to their neighborhood; holes equi-join the
    aggregated contributions. Cells with no valued neighbor stay NULL.
    Output: original columns + `filled` (value if present else fill).
    """
    valued = cells.filter(_col(value).isNotNull()).select(
        F.col("x").alias("__sx"), F.col("y").alias("__sy"), _col(value).alias("__v")
    )
    cand = _scatter_to_neighbors(valued, F.col("__sx"), F.col("__sy"), radius).filter(
        # a cell is not its own neighbor
        ~((F.col("__tx") == F.col("__sx")) & (F.col("__ty") == F.col("__sy")))
    )
    fills = cand.groupBy(F.col("__tx").alias("x"), F.col("__ty").alias("y")).agg(
        F.avg("__v").alias("__fill")
    )
    return (
        cells.join(fills, ["x", "y"], "left")
        .withColumn("filled", F.coalesce(_col(value), F.col("__fill")))
        .drop("__fill")
    )


# --------------------------------------------------------------------------
# R6 — crop-to-data / homogeneity
# --------------------------------------------------------------------------

def data_bbox(cells: DataFrame, value: str = "value") -> DataFrame:
    """R6 — bounding box of valued cells (crop_to_data margin trim,
    odin_gdal/src/lib.rs:635-683). One tiny agg row."""
    return cells.filter(_col(value).isNotNull()).agg(
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
        F.count(F.lit(1)).alias("n_valued"),
    )


def crop_to_data(cells: DataFrame, value: str = "value") -> DataFrame:
    """R6 — drop all-nodata margins: filter to the valued bbox. The bbox
    is a 1-row broadcast; the filter stays a scan-side predicate."""
    bbox = data_bbox(cells, value)
    return cells.join(F.broadcast(bbox)).filter(
        F.col("x").between(F.col("x_min"), F.col("x_max"))
        & F.col("y").between(F.col("y_min"), F.col("y_max"))
    ).drop("x_min", "x_max", "y_min", "y_max", "n_valued")


def is_homogeneous(cells: DataFrame, value: str = "value") -> DataFrame:
    """R6 — all-same-value check (odin_gdal/src/lib.rs:676-683):
    countDistinct==1 over valued cells; map-side partial agg, no data
    motion beyond one combine."""
    return cells.filter(_col(value).isNotNull()).agg(
        (F.count_distinct(_col(value)) == F.lit(1)).alias("homogeneous")
    )


# --------------------------------------------------------------------------
# R8 — tile algebra
# --------------------------------------------------------------------------

def tile_zip(a: DataFrame, b: DataFrame, value: str = "value") -> DataFrame:
    """Align two bands on (x, y) — the cell-DF form of TileData pairwise
    ops (odin_image/src/tile_data.rs:139-273). Both sides hash-partition
    on the same key → co-located join; for repeated algebra over a raster
    archive, bucket the storage by (x, y) tile to kill the shuffle."""
    return a.select("x", "y", _col(value).alias("a")).join(
        b.select("x", "y", _col(value).alias("b")), ["x", "y"]
    )


def tile_abs_diff(a: DataFrame, b: DataFrame, value: str = "value") -> DataFrame:
    return tile_zip(a, b, value).withColumn("abs_diff", F.abs(F.col("a") - F.col("b")))


# --------------------------------------------------------------------------
# R1/J7 — warp / align via quantized target lattice
# --------------------------------------------------------------------------

def warp_to_lattice(
    cells: DataFrame,
    src_x0: float,
    src_dx: float,
    src_y0: float,
    src_dy: float,
    dst_lattice: DataFrame,
) -> DataFrame:
    """R1/J7 — nearest-neighbor warp of a source band onto a destination
    lattice (warp_to_rect/warp_to_wgs84, odin_gdal/src/warp.rs:751-813;
    raster-raster align odin_wind/src/actor.rs:382-415).

    The destination lattice carries (lon, lat); inverse-affine maps each
    destination cell to fractional source indices, rounds to the nearest
    source cell, and an equi-join on the quantized (x, y) gathers values.
    Pure column math + hash join — Catalyst handles distribution; both
    sides can be bucketed by tile for shuffle-free repeated warps.
    """
    keyed = dst_lattice.withColumn(
        "__sx", F.round((F.col("lon") - F.lit(src_x0)) / F.lit(src_dx)).cast("int")
    ).withColumn(
        "__sy", F.round((F.col("lat") - F.lit(src_y0)) / F.lit(src_dy)).cast("int")
    )
    src = cells.select(
        F.col("x").alias("__sx"), F.col("y").alias("__sy"), F.col("value").alias("warped")
    )
    return keyed.join(src, ["__sx", "__sy"], "left").drop("__sx", "__sy")


# --------------------------------------------------------------------------
# R3 — contour segments (marching squares, tiled applyInPandas)
# --------------------------------------------------------------------------

CONTOUR_SCHEMA = (
    "level double, x1 double, y1 double, x2 double, y2 double"
)


def contour_segments(
    cells: DataFrame,
    interval: float,
    value: str = "value",
    tile_size: int = 64,
) -> DataFrame:
    """R3 — iso-line segments at multiples of `interval` (GDAL contour,
    odin_gdal/src/contour.rs:28-215; wind contours at 2.2352 m/s
    odin_wind/src/lib.rs:542-559).

    Marching squares is a stencil over 2×2 cell squares, so it cannot be
    a pure relational op; the scale design is tiling + halo exchange:

    1. each cell goes to its owning tile (x//ts, y//ts);
    2. cells on a tile's low edge are ALSO replicated to the neighbor
       tile that needs them as halo (≤3 copies for a corner cell) —
       explode, no shuffle beyond the one groupBy;
    3. applyInPandas runs vectorized numpy marching squares per tile and
       only emits segments for squares the tile owns (lower-left corner
       in-tile), so halo duplication never duplicates output.

    Work per tile is O(tile²·levels) in numpy; tiles are independent →
    linear scale-out. Ambiguous saddle cases use the standard
    non-connected resolution (same default as GDAL).
    """
    import pandas as pd

    ts = tile_size

    tiles = (
        cells.select(F.col("x"), F.col("y"), _col(value).alias("v"))
        .withColumn(
            "__t",
            F.explode_outer(
                F.array_compact(
                    F.array(
                        F.struct(
                            F.floor(F.col("x") / ts).cast("int").alias("tx"),
                            F.floor(F.col("y") / ts).cast("int").alias("ty"),
                        ),
                        F.when(
                            F.col("x") % ts == 0,
                            F.struct(
                                (F.floor(F.col("x") / ts) - 1).cast("int").alias("tx"),
                                F.floor(F.col("y") / ts).cast("int").alias("ty"),
                            ),
                        ),
                        F.when(
                            F.col("y") % ts == 0,
                            F.struct(
                                F.floor(F.col("x") / ts).cast("int").alias("tx"),
                                (F.floor(F.col("y") / ts) - 1).cast("int").alias("ty"),
                            ),
                        ),
                        F.when(
                            (F.col("x") % ts == 0) & (F.col("y") % ts == 0),
                            F.struct(
                                (F.floor(F.col("x") / ts) - 1).cast("int").alias("tx"),
                                (F.floor(F.col("y") / ts) - 1).cast("int").alias("ty"),
                            ),
                        ),
                    )
                )
            ),
        )
        .select(F.col("__t.tx").alias("tx"), F.col("__t.ty").alias("ty"), "x", "y", "v")
    )

    def march(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        tx = int(pdf["tx"].iloc[0])
        ty = int(pdf["ty"].iloc[0])
        x_lo, y_lo = tx * ts, ty * ts
        xs = pdf["x"].to_numpy() - x_lo
        ys = pdf["y"].to_numpy() - y_lo
        w = int(xs.max()) + 1
        h = int(ys.max()) + 1
        grid = np.full((h, w), np.nan)
        grid[ys, xs] = pdf["v"].to_numpy()

        out_level, out_x1, out_y1, out_x2, out_y2 = [], [], [], [], []
        if w < 2 or h < 2:
            return pd.DataFrame(
                {"level": [], "x1": [], "y1": [], "x2": [], "y2": []}, dtype=float
            )

        bl = grid[:-1, :-1]
        br = grid[:-1, 1:]
        tl = grid[1:, :-1]
        tr = grid[1:, 1:]
        valid = ~(np.isnan(bl) | np.isnan(br) | np.isnan(tl) | np.isnan(tr))
        # squares owned by this tile: lower-left corner within [0, ts)
        own_y, own_x = np.mgrid[0 : h - 1, 0 : w - 1]
        own = valid & (own_x < ts) & (own_y < ts)

        with np.errstate(all="ignore"):
            vmin = np.nanmin(grid)
            vmax = np.nanmax(grid)
        if np.isnan(vmin):  # fully-nodata tile (masked region): no contours
            return pd.DataFrame(
                {"level": [], "x1": [], "y1": [], "x2": [], "y2": []}, dtype=float
            )
        lo = int(np.floor(vmin / interval)) + 1
        hi = int(np.floor(vmax / interval))
        for li in range(lo, hi + 1):
            lvl = li * interval
            c_bl = bl >= lvl
            c_br = br >= lvl
            c_tl = tl >= lvl
            c_tr = tr >= lvl
            case = (
                c_bl.astype(np.int8)
                | (c_br.astype(np.int8) << 1)
                | (c_tr.astype(np.int8) << 2)
                | (c_tl.astype(np.int8) << 3)
            )
            active = own & (case != 0) & (case != 15)
            iy, ix = np.nonzero(active)
            if len(ix) == 0:
                continue
            cs = case[iy, ix]
            a = bl[iy, ix]
            b = br[iy, ix]
            t_ = tl[iy, ix]
            u = tr[iy, ix]

            with np.errstate(divide="ignore", invalid="ignore"):
                # edge crossing parameters (linear interp), clipped for safety
                bot = np.clip((lvl - a) / (b - a), 0, 1)  # bottom edge  y=iy
                top = np.clip((lvl - t_) / (u - t_), 0, 1)  # top edge   y=iy+1
                lft = np.clip((lvl - a) / (t_ - a), 0, 1)  # left edge   x=ix
                rgt = np.clip((lvl - b) / (u - b), 0, 1)  # right edge  x=ix+1

            # endpoints per edge id: 0=bottom 1=right 2=top 3=left
            ex = np.stack([ix + bot, ix + 1.0, ix + top, ix + 0.0])
            ey = np.stack([iy + 0.0, iy + rgt, iy + 1.0, iy + lft])

            # case → (edge_a, edge_b); saddles (5, 10) emit two segments
            table = {
                1: (3, 0), 2: (0, 1), 3: (3, 1), 4: (1, 2), 6: (0, 2),
                7: (3, 2), 8: (2, 3), 9: (2, 0), 11: (2, 1), 12: (1, 3),
                13: (1, 0), 14: (0, 3),
            }
            for cval, (e1, e2) in table.items():
                m = cs == cval
                if not m.any():
                    continue
                out_level.append(np.full(m.sum(), lvl))
                out_x1.append(ex[e1][m] + x_lo)
                out_y1.append(ey[e1][m] + y_lo)
                out_x2.append(ex[e2][m] + x_lo)
                out_y2.append(ey[e2][m] + y_lo)
            for cval, pairs in {5: ((3, 0), (1, 2)), 10: ((0, 1), (2, 3))}.items():
                m = cs == cval
                if not m.any():
                    continue
                for e1, e2 in pairs:
                    out_level.append(np.full(m.sum(), lvl))
                    out_x1.append(ex[e1][m] + x_lo)
                    out_y1.append(ey[e1][m] + y_lo)
                    out_x2.append(ex[e2][m] + x_lo)
                    out_y2.append(ey[e2][m] + y_lo)

        if not out_level:
            return pd.DataFrame(
                {"level": [], "x1": [], "y1": [], "x2": [], "y2": []}, dtype=float
            )
        return pd.DataFrame(
            {
                "level": np.concatenate(out_level),
                "x1": np.concatenate(out_x1),
                "y1": np.concatenate(out_y1),
                "x2": np.concatenate(out_x2),
                "y2": np.concatenate(out_y2),
            }
        )

    return tiles.groupBy("tx", "ty").applyInPandas(march, CONTOUR_SCHEMA)


# --------------------------------------------------------------------------
# R3b — contour POLYLINE assembly (segments → iso-lines)
# --------------------------------------------------------------------------

_NODE_BASE = 1 << 26  # quantized coord < 2^26 per axis
_LEVEL_OFFSET = 512  # level index in [-511, 511] → offset field < 2^10


def _contour_node(level_idx: Column, xc: Column, yc: Column, quant: float) -> Column:
    """Pack (level, quantized endpoint) into one BIGINT graph-node id:
    ((li + 512) · 2^26 + qx) · 2^26 + qy with qx = floor(x·quant + 0.5)
    (the engine-identical rounding the int8 path uses). Budget: 10 bits
    of level, 26 bits per axis → max id < 2^62, no BIGINT overflow.

    VALIDATED, not assumed: coords outside [0, 2^26/quant) or levels
    outside ±511 raise a descriptive error instead of silently bleeding
    into the neighboring bit field and merging unrelated iso-lines
    (with the default quant=1e4 the packable raster is 6710 cells per
    axis; pass a smaller quant for bigger grids — quantization only
    needs to unify IDENTICAL endpoints, and two distinct crossings of
    the same level sit on different cell edges)."""
    qx = F.floor(xc * quant + 0.5).cast("long")
    qy = F.floor(yc * quant + 0.5).cast("long")
    li = level_idx + F.lit(_LEVEL_OFFSET)
    ok = (
        (qx >= 0) & (qx < _NODE_BASE)
        & (qy >= 0) & (qy < _NODE_BASE)
        & (li >= 0) & (li < 2 * _LEVEL_OFFSET)
    )
    packed = (li * _NODE_BASE + qx) * _NODE_BASE + qy
    return F.when(ok, packed).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "contour node out of packable range (coord >= "
                    f"{_NODE_BASE / quant:.0f} cells at quant={quant:g}, "
                    "or |level index| > 511) — pass a smaller quant: "
                ),
                xc.cast("string"), F.lit(","), yc.cast("string"),
            )
        ).cast("long")
    )


def _contour_graph(
    segments: DataFrame, interval: float, quant: float
) -> tuple[DataFrame, DataFrame]:
    """Shared front of `contour_lines` and `contour_polylines`: packed
    endpoint keys, degenerate-segment filter, and the endpoint-graph
    connected components. Returns (seg, comp).

    The keyed segment frame is eagerly localCheckpoint-ed: CC runs
    several jobs (edge count, closure rounds, fingerprints) and would
    otherwise re-run the upstream marching-squares kernel per job;
    unlike persist(), checkpoint blocks are released by the
    ContextCleaner once the frame goes out of scope — no session-
    lifetime cache leak."""
    from odin_rs_spark.operators.dedup import connected_components

    li = F.round(F.col("level") / F.lit(interval)).cast("long")
    seg = (
        segments.withColumn("__ka", _contour_node(li, F.col("x1"), F.col("y1"), quant))
        .withColumn("__kb", _contour_node(li, F.col("x2"), F.col("y2"), quant))
        # zero-length (degenerate corner) segments are not lines
        .filter(F.col("__ka") != F.col("__kb"))
    ).localCheckpoint(eager=True)
    edges = seg.select(F.col("__ka").alias("id_a"), F.col("__kb").alias("id_b"))
    return seg, connected_components(edges)  # comp = (node, component)


def contour_lines(
    segments: DataFrame,
    interval: float,
    quant: float = 1.0e4,
) -> DataFrame:
    """Assemble marching-squares segments into iso-LINES with attributes
    (odin_gdal/src/contour.rs:28-215 emits assembled lines, not raw
    segments; odin_wind/src/lib.rs:542-559 serves them as features).

    Relational restatement: segments sharing a quantized endpoint are
    the same line, so assembly is connected components over the
    endpoint graph — large-star/small-star CC (the dedup module's
    operator, reused), no geometry library. Marching squares gives
    every node degree <= 2, so each component is one open chain or one
    closed ring; `closed` falls out of the degree histogram (a line is
    closed iff its component has no degree-1 node).

    Returns one row per iso-line: (level, line_id, n_segments, length,
    closed) where line_id is the component's minimum node id — a
    deterministic label both engines can replay.

    Scale shape: one CC over the segment graph (output-bounded: contour
    graphs are sparse paths/rings), one degree aggregation, one
    groupBy. Segments never collect to the driver.
    """
    seg, comp = _contour_graph(segments, interval, quant)
    seg = seg.withColumn(
        "__len",
        F.sqrt(
            (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
            + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
        ),
    )
    segc = seg.join(comp, seg["__ka"] == comp["node"]).drop("node")
    ends = seg.select(F.col("__ka").alias("node")).unionAll(
        seg.select(F.col("__kb").alias("node"))
    )
    open_ends = (
        ends.groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .filter(F.col("__deg") == 1)
        .join(comp, "node")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("__n_open"))
    )
    lines = segc.groupBy("level", "component").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.round(F.sum("__len"), 4).alias("length"),
    )
    return lines.join(open_ends, "component", "left").select(
        "level",
        F.col("component").alias("line_id"),
        "n_segments",
        "length",
        (F.coalesce(F.col("__n_open"), F.lit(0)) == 0).alias("closed"),
    )


CONTOUR_POLYLINE_SCHEMA = (
    "level double, line_id long, closed boolean, seq int, x double, y double"
)


def contour_polylines(
    segments: DataFrame,
    interval: float,
    quant: float = 1.0e4,
) -> DataFrame:
    """Ordered vertex chains per iso-line — the LineString geometry K5's
    GeoJSON product wants. Components come from the same endpoint-graph
    CC as `contour_lines`; the per-line vertex walk runs in
    applyInPandas with the component as the group key, so each task
    holds exactly one polyline (bounded by line length, never by corpus
    size).

    Deterministic order: open chains start at their smallest degree-1
    node; rings start at their smallest node; at each step the walk
    takes the smallest-key unvisited neighbor (ties only at the start
    of a ring, broken the same way). Returns one row per vertex:
    (level, line_id, closed, seq, x, y).
    """
    import pandas as pd

    seg, comp = _contour_graph(segments, interval, quant)
    segc = seg.join(comp, seg["__ka"] == comp["node"]).drop("node")

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        lvl = float(pdf["level"].iloc[0])
        line_id = int(pdf["component"].iloc[0])
        adj: dict[int, list[int]] = {}
        coords: dict[int, tuple[float, float]] = {}
        # not itertuples: namedtuple positional-renames the __-prefixed cols
        for ka, kb, x1, y1, x2, y2 in zip(
            pdf["__ka"], pdf["__kb"], pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]
        ):
            ka, kb = int(ka), int(kb)
            adj.setdefault(ka, []).append(kb)
            adj.setdefault(kb, []).append(ka)
            coords[ka] = (float(x1), float(y1))
            coords[kb] = (float(x2), float(y2))
        deg1 = sorted(k for k, ns in adj.items() if len(ns) == 1)
        closed = not deg1
        start = deg1[0] if deg1 else min(adj)
        seq_nodes = [start]
        seen = {start}
        cur = start
        while True:
            nxt = [n for n in sorted(adj[cur]) if n not in seen]
            if not nxt:
                break
            cur = nxt[0]
            seen.add(cur)
            seq_nodes.append(cur)
        if closed:
            seq_nodes.append(start)  # GeoJSON rings repeat the first vertex
        return pd.DataFrame(
            {
                "level": lvl,
                "line_id": line_id,
                "closed": closed,
                "seq": range(len(seq_nodes)),
                "x": [coords[k][0] for k in seq_nodes],
                "y": [coords[k][1] for k in seq_nodes],
            }
        )

    return segc.groupBy("level", "component").applyInPandas(
        walk, CONTOUR_POLYLINE_SCHEMA
    )


def dem_slope_cells(
    cells: DataFrame,
    cell_size: float = 1.0,
    round_to: int = 6,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Horn's-method slope gradients over a DEM cell table — the
    standard gdaldem slope computation (the reference shells DEM
    raster math out to GDAL, odin_gdal/src/lib.rs:578-624; this is the
    DataFrame-native form): for every interior cell with a COMPLETE
    3x3 neighborhood,

      gx = ((z_ne + 2·z_e + z_se) − (z_nw + 2·z_w + z_sw)) / (8·s)
      gy = ((z_sw + 2·z_s + z_se) − (z_nw + 2·z_n + z_ne)) / (8·s)
      slope_pct = 100·sqrt(gx² + gy²)

    Cells bordering nodata holes or the raster edge produce no row
    (count < 9 — GDAL's default edge/nodata policy).

    Scale shape (the q127 offset trick inverted): each cell SCATTERS
    its 8-weighted contributions to its neighbors through one
    broadcast 9-row offset join, then ONE groupBy((x, y)) sums them —
    a single shuffle regardless of raster size, no 2-D self-joins, no
    per-cell Python. Dyadic heights keep gx/gy sums exact, so an
    external oracle replays the whole stage (sqrt is one correctly-
    rounded op).

    Multi-raster inputs: contributions are grouped per RASTER, not
    just per (x, y) — `key_cols` names the raster-identity columns and
    defaults to whichever of ("path", "msg") the input carries (what
    geotiff_grid_cells / grib2_grid_cells emit), so cells from several
    files/messages never sum across rasters that share pixel
    coordinates (ADVICE r6). The keys ride through the scatter and the
    groupBy and come back on every output row."""
    spark = cells.sparkSession
    if key_cols is None:
        key_cols = [c for c in ("path", "msg") if c in cells.columns]
    # (dx, dy, horn weight for gx, for gy, both ROW-relative: +y = south)
    offs = spark.createDataFrame(
        [
            (-1, -1, -1, -1), (0, -1, 0, -2), (1, -1, 1, -1),
            (-1, 0, -2, 0), (0, 0, 0, 0), (1, 0, 2, 0),
            (-1, 1, -1, 1), (0, 1, 0, 2), (1, 1, 1, 1),
        ],
        "dx int, dy int, wx int, wy int",
    )
    contrib = cells.crossJoin(F.broadcast(offs)).select(
        *[F.col(c) for c in key_cols],
        (F.col("x") - F.col("dx")).alias("cx"),
        (F.col("y") - F.col("dy")).alias("cy"),
        (F.col("value") * F.col("wx")).alias("gxc"),
        (F.col("value") * F.col("wy")).alias("gyc"),
    )
    agg = contrib.groupBy(*key_cols, "cx", "cy").agg(
        F.sum("gxc").alias("gx_sum"),
        F.sum("gyc").alias("gy_sum"),
        F.count(F.lit(1)).alias("n_nb"),
    )
    s8 = 8.0 * cell_size
    # n_nb == 9 implies the center itself is a data cell (it contributes
    # its own zero-weight row), so no join back is needed
    return (
        agg.filter(F.col("n_nb") == 9)
        .select(
            *[F.col(c) for c in key_cols],
            F.col("cx").alias("x"),
            F.col("cy").alias("y"),
            F.round(F.col("gx_sum") / s8, round_to).alias("gx"),
            F.round(F.col("gy_sum") / s8, round_to).alias("gy"),
            F.round(
                100.0
                * F.sqrt(
                    (F.col("gx_sum") / s8) * (F.col("gx_sum") / s8)
                    + (F.col("gy_sum") / s8) * (F.col("gy_sum") / s8)
                ),
                round_to,
            ).alias("slope_pct"),
        )
    )
