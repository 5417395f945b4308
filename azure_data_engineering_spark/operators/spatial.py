"""Geospatial joins over plain (lat, lon) double columns.

The scale problem: "nearest facility within R km for every point" is
naively a cross join — 10^9 points x 10^6 facilities is 10^15 distance
evaluations. The standard distributed fix (used by every large-scale
spatial engine — grid / geohash partitioning) turns it into an
EQUI-join: bucket both sides into lat/lon grid cells sized >= R,
replicate each *facility* (the small side) into its 3x3 neighborhood
of cells, and join on the cell key. Every candidate pair within R is
then guaranteed to share a cell key (a point's cell is always inside
the 3x3 block of its true neighbors' cells when the cell edge >= R),
and Catalyst executes a plain shuffle/broadcast hash join — no
cartesian product anywhere in the plan.

Cost model at 100 TB: work = sum over cells of |points_cell| x
|facilities_3x3(cell)|; with facilities ~uniform at density d per
cell, that's O(n_points * 9d) — linear in the big side. Hot cells
(urban cores) are a data-skew problem like any hot join key: AQE
skew-join splitting applies because this IS a plain equi-join.

Distances use haversine on a spherical Earth (R=6371.0088 km, the
IUGG mean radius) entirely in JVM codegen — no Python in the hot
path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (degree) coordinates,
    as a single codegen-able column expression."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp, dl = F.radians(lat2 - lat1), F.radians(lon2 - lon1)
    a = F.pow(F.sin(dp / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dl / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _cell(
    lat: Column, lon: Column, cell_deg: float, n_lon: int, max_abs_lat: float
) -> tuple[Column, Column]:
    """Grid cell of a coordinate. Longitude cells tile the full 360°
    circle with exactly n_lon cells (each 360/n_lon >= cell_deg wide)
    so the index wraps modulo n_lon at the antimeridian — a facility
    at lon 179.9° and a point at -179.9° share a (wrapped) neighbor
    cell. Latitude is range-guarded lazily: assert_true fires inside
    the executors during the scan, so non-NULL inputs beyond
    max_abs_lat fail loudly instead of silently missing neighbors
    (longitude cells narrower than the radius). NULL coordinates are
    exempt from the assert (assert_true raises on NULL conditions
    too, with a misleading message — ADVICE r4): they produce a NULL
    cell, which the inner cell equi-join drops — the same silent-drop
    semantics NULL join keys get everywhere else in the engine."""
    ok = F.assert_true(
        lat.isNull() | (F.abs(lat) <= F.lit(max_abs_lat)),
        F.lit(
            f"spatial grid: |lat| exceeds max_abs_lat={max_abs_lat}; "
            "raise max_abs_lat (cells widen accordingly) or filter the input"
        ),
    )
    guarded_lat = F.when(ok.isNull(), lat)
    lon_cell_deg = 360.0 / n_lon
    lon_cell = F.floor((lon + F.lit(180.0)) / F.lit(lon_cell_deg)).cast("long")
    return (
        F.floor(guarded_lat / F.lit(cell_deg)).cast("long"),
        ((lon_cell % n_lon) + n_lon) % n_lon,
    )


def _radius_candidates(
    points: DataFrame,
    facilities: DataFrame,
    radius_km: float,
    point_cols: tuple[str, str],
    facility_cols: tuple[str, str],
    max_abs_lat: float,
) -> DataFrame:
    """Shared candidate stage for spatial_nearest/spatial_knn: grid
    cells sized >= radius (both axes), 3x3 replication on the facility
    side only, lon cells wrapped at the antimeridian, then the exact
    haversine radius filter. Returns all point columns + facility
    columns suffixed `_f` + `dist_km`."""
    deg_per_km = 1.0 / (math.pi / 180.0 * EARTH_RADIUS_KM)
    cell_deg = radius_km * deg_per_km / math.cos(math.radians(max_abs_lat))
    # exactly n_lon cells of width 360/n_lon >= cell_deg tile the circle,
    # so wrapping the index modulo n_lon never produces an undersized seam
    # cell (ceil would); n_lon >= 3 keeps the 3x3 neighborhood well-defined
    n_lon = max(3, int(360.0 // cell_deg))

    plat, plon = point_cols
    flat, flon = facility_cols
    pcx, pcy = _cell(F.col(plat), F.col(plon), cell_deg, n_lon, max_abs_lat)
    p = points.withColumn("_cx", pcx).withColumn("_cy", pcy)

    fcx, fcy = _cell(F.col(flat), F.col(flon), cell_deg, n_lon, max_abs_lat)
    off = F.sequence(F.lit(-1), F.lit(1))
    fac = (
        facilities.withColumn("_fx", fcx)
        .withColumn("_fy", fcy)
        .withColumn("_dx", F.explode(off))
        .withColumn("_dy", F.explode(off))
        .withColumn("_cx", F.col("_fx") + F.col("_dx"))
        .withColumn("_cy", ((F.col("_fy") + F.col("_dy")) % n_lon + n_lon) % n_lon)
        .drop("_fx", "_fy", "_dx", "_dy")
    )

    fac_lat, fac_lon = F.col(flat + "_f"), F.col(flon + "_f")
    fac = fac.select(
        *[F.col(c).alias(c + "_f") for c in facilities.columns], "_cx", "_cy"
    )
    cand = p.join(fac, ["_cx", "_cy"]).withColumn(
        "dist_km", haversine_km(F.col(plat), F.col(plon), fac_lat, fac_lon)
    )
    return cand.filter(F.col("dist_km") <= F.lit(float(radius_km))).drop("_cx", "_cy")


def spatial_nearest(
    points: DataFrame,
    facilities: DataFrame,
    radius_km: float,
    point_cols: tuple[str, str] = ("lat", "lon"),
    facility_cols: tuple[str, str] = ("lat", "lon"),
    max_abs_lat: float = 75.0,
) -> DataFrame:
    """For every point, the single nearest facility within radius_km.

    Returns all `points` columns + `facilities` columns + `dist_km`;
    points with no facility in range are dropped (left-join semantics
    are one `.join(..., 'left')` away and intentionally not baked in).

    The nearest-pick aggregates on the FULL point row, so byte-equal
    duplicate point rows collapse to one output row — give points a
    unique id column if duplicates must survive.

    Grid cells are sized so one cell spans >= radius_km in BOTH axes
    at any latitude up to max_abs_lat (longitude degrees shrink by
    cos(lat), so the cell edge divides by cos(max_abs_lat)); the
    facility side is replicated into its 3x3 cell neighborhood (9x
    row blowup on the SMALL side only), the point side is never
    replicated. Ties on distance break deterministically by the
    facility's first column ascending.

    Edge handling: longitude cells tile the full circle and wrap
    modulo the cell count, so neighbor pairs straddling the ±180°
    antimeridian DO share a cell key. Rows with |lat| > max_abs_lat
    raise at execution time (executor-side assert_true) rather than
    silently dropping true neighbors — polar workloads should raise
    max_abs_lat (cells widen as 1/cos) or use a polar-cap strategy.
    """
    cand = _radius_candidates(
        points, facilities, radius_km, point_cols, facility_cols, max_abs_lat
    )
    # nearest per point: min_by over (dist, tiebreak) — one partial+final
    # agg keyed on the point's columns, no window over the fat side
    tie = F.col(facilities.columns[0] + "_f")
    best = (
        cand.groupBy(*[F.col(c) for c in points.columns])
        .agg(
            F.min(
                F.struct(
                    F.col("dist_km"), tie.alias("_tie"),
                    *[F.col(c + "_f") for c in facilities.columns],
                )
            ).alias("best")
        )
        .select(
            *points.columns,
            *[F.col(f"best.{c}_f").alias(c + "_f") for c in facilities.columns],
            F.col("best.dist_km").alias("dist_km"),
        )
    )
    return best


def spatial_knn(
    points: DataFrame,
    facilities: DataFrame,
    radius_km: float,
    k: int,
    point_cols: tuple[str, str] = ("lat", "lon"),
    facility_cols: tuple[str, str] = ("lat", "lon"),
    max_abs_lat: float = 75.0,
    round_digits: int = 6,
) -> DataFrame:
    """The k nearest facilities within radius_km for every point —
    the general form of spatial_nearest (same grid equi-join, same
    antimeridian wrap and latitude guard), ranked per point by
    (dist_km, facility first column) with row_number, so ties are
    total and the result is engine-portable. Points with fewer than k
    facilities in range return what exists; points with none are
    dropped.

    Scale shape: identical candidate stage (linear in points when
    facility density is bounded), then ONE window over the candidate
    set keyed by the point — WindowGroupLimit prunes to k rows per
    point during the shuffle sort, so the window output is bounded by
    k * |points| regardless of density. dist_km is rounded BEFORE
    ranking so ulp-level haversine differences cannot flip the order
    across engines (same discipline as lloyd_kmeans argmin)."""
    cand = _radius_candidates(
        points, facilities, radius_km, point_cols, facility_cols, max_abs_lat
    ).withColumn("dist_km", F.round(F.col("dist_km"), round_digits))
    from pyspark.sql import Window

    tie = F.col(facilities.columns[0] + "_f")
    w = Window.partitionBy(*[F.col(c) for c in points.columns]).orderBy(
        F.col("dist_km").asc(), tie.asc()
    )
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= int(k))
        .select(
            *points.columns,
            *[F.col(c + "_f") for c in facilities.columns],
            "dist_km",
            "knn_rank",
        )
    )


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat: Column, lon: Column, precision: int = 6) -> Column:
    """Geohash cell key (Niemeyer 2008, public domain spec): quantize
    lat/lon to (5·precision)//2 and (5·precision+1)//2 bits, interleave
    starting with longitude's MSB, emit base-32 characters. Pure
    integer bit arithmetic in Column expressions — whole-stage-codegen
    resident, no UDF — so a 100 TB point table gets its spatial shard
    key for free during the scan. Geohashes of a common prefix nest,
    which is what makes the key useful for cell aggregation, prefix
    range scans, and neighbor joins.

    Quantization floor((x - min) / extent · 2^bits), clamped at the
    top edge (+90/+180 land in the last cell, matching the reference
    implementations). The double product is the IDENTICAL expression
    in the DuckDB oracle, so cell keys are bit-identical cross-engine."""
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    latq = F.least(
        F.floor((lat + 90.0) / 180.0 * float(2**lat_bits)),
        F.lit(2**lat_bits - 1),
    ).cast("bigint")
    lonq = F.least(
        F.floor((lon + 180.0) / 360.0 * float(2**lon_bits)),
        F.lit(2**lon_bits - 1),
    ).cast("bigint")
    combined = F.lit(0).cast("bigint")
    for j in range(bits):
        if j % 2 == 0:
            src, idx = lonq, lon_bits - 1 - j // 2
        else:
            src, idx = latq, lat_bits - 1 - (j - 1) // 2
        combined = combined + F.shiftleft(
            F.shiftright(src, idx).bitwiseAND(F.lit(1)), bits - 1 - j
        )
    alphabet = F.array(*[F.lit(ch) for ch in GEOHASH_ALPHABET])
    chars = [
        F.element_at(
            alphabet,
            (
                F.shiftright(combined, bits - 5 * (k + 1)).bitwiseAND(F.lit(31))
                + 1
            ).cast("int"),
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql_parts(precision: int = 6) -> dict[str, str]:
    """DuckDB-SQL twins of geohash()'s stages, generated from the same
    bit layout so oracle queries replay the identical arithmetic.
    Returns fragments keyed latq/lonq (format with {lat}/{lon}),
    combined (uses columns latq, lonq) and chars (uses column
    combined) — embed each in its own CTE stage."""
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    latq = (
        "CAST(least(floor(({lat} + 90.0) / 180.0 * " + str(float(2**lat_bits))
        + "), " + str(2**lat_bits - 1) + ") AS BIGINT)"
    )
    lonq = (
        "CAST(least(floor(({lon} + 180.0) / 360.0 * " + str(float(2**lon_bits))
        + "), " + str(2**lon_bits - 1) + ") AS BIGINT)"
    )
    terms = []
    for j in range(bits):
        if j % 2 == 0:
            src_col, idx = "lonq", lon_bits - 1 - j // 2
        else:
            src_col, idx = "latq", lat_bits - 1 - (j - 1) // 2
        terms.append(f"((({src_col} >> {idx}) & 1) << {bits - 1 - j})")
    combined = " + ".join(terms)
    chars = " || ".join(
        f"substring('{GEOHASH_ALPHABET}', "
        f"CAST(((combined >> {bits - 5 * (k + 1)}) & 31) + 1 AS INT), 1)"
        for k in range(precision)
    )
    return {"latq": latq, "lonq": lonq, "combined": combined, "chars": chars}


def trajectory_speed_screen(
    points: DataFrame,
    entity_col: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    max_speed_kmh: float = 900.0,
    round_digits: int = 6,
) -> DataFrame:
    """GPS-jump screen over entity trajectories: consecutive fixes per
    entity (event-time order) become legs with haversine distance and
    implied speed; a leg faster than max_speed_kmh (default: airliner
    cruise) is physically impossible for ground data — the standard
    tele­metry-cleaning pass before any spatial aggregation, because
    one corrupted fix otherwise teleports an entity across the map.

    Scale shape: ONE window (lag over the per-entity time order — the
    same shuffle a sessionizer pays) and one groupBy; no joins. Speed
    compares on the ROUNDED 6 dp value so an ulp of trig drift cannot
    flip a flag cross-engine; per-leg distances sum as 9 dp decimals.
    Time deltas are exact integer microseconds. Returns per entity:
    (entity, n_legs, total_km, max_speed_kmh, n_jumps)."""
    from pyspark.sql import Window

    w = Window.partitionBy(entity_col).orderBy(ts_col)
    legs = (
        points.select(
            F.col(entity_col).alias("entity"),
            F.unix_micros(F.col(ts_col)).alias("us"),
            F.col(lat_col).alias("lat"),
            F.col(lon_col).alias("lon"),
        )
        .withColumn("p_us", F.lag("us").over(Window.partitionBy("entity").orderBy("us")))
        .withColumn("p_lat", F.lag("lat").over(Window.partitionBy("entity").orderBy("us")))
        .withColumn("p_lon", F.lag("lon").over(Window.partitionBy("entity").orderBy("us")))
        .filter(F.col("p_us").isNotNull() & (F.col("us") > F.col("p_us")))
    )
    dist = F.round(
        haversine_km(F.col("p_lat"), F.col("p_lon"), F.col("lat"), F.col("lon")),
        9,
    )
    speed = F.round(
        dist * F.lit(3600.0) * F.lit(1_000_000.0)
        / (F.col("us") - F.col("p_us")).cast("double"),
        round_digits,
    )
    scored = legs.select(
        "entity",
        dist.cast("decimal(20,9)").alias("d9"),
        speed.alias("speed"),
    )
    return scored.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("n_legs"),
        F.round(F.sum("d9").cast("double"), round_digits).alias("total_km"),
        F.max("speed").alias("max_speed_kmh"),
        F.sum((F.col("speed") > F.lit(max_speed_kmh)).cast("long")).alias("n_jumps"),
    )


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Point-in-polygon containment join by ray casting (the even-odd
    rule, W. R. Franklin's PNPOLY): a point is inside iff a ray to +∞
    crosses the polygon boundary an odd number of times — the
    geofencing primitive (assign events to delivery zones, city
    polygons, sales territories).

    `polygons` is the DIMENSION side: (poly_id, xs array<double>,
    ys array<double>) — vertex rings, closed implicitly. It is
    broadcast and cross-joined (every point tests every polygon —
    with P polygons the per-row cost is O(P·vertices), the correct
    plan when P is dim-sized; for thousands of polygons compose with
    the module's grid bucketing first). The crossing test is the
    DIVISION-FREE form — up-cross: y_i ≤ y < y_j and
    (x−x_i)(y_j−y_i) < (x_j−x_i)(y−y_i); down-cross mirrored — so no
    edge can divide by zero and both engines compare identical
    products. Runs entirely in Column HOFs over the vertex arrays.
    Returns points columns + poly_id for each containing polygon
    (points in no polygon are absent; points in several appear once
    per polygon)."""
    x, y = F.col("__px"), F.col("__py")
    n = F.size(F.col("xs"))
    idx = F.sequence(F.lit(1), n)

    def edge_crosses(i):
        xi, yi = F.element_at(F.col("xs"), i), F.element_at(F.col("ys"), i)
        j = F.when(i == n, F.lit(1)).otherwise(i + 1)
        xj, yj = F.element_at(F.col("xs"), j), F.element_at(F.col("ys"), j)
        lhs = (x - xi) * (yj - yi)
        rhs = (xj - xi) * (y - yi)
        up = (yi <= y) & (y < yj) & (lhs < rhs)
        down = (yj <= y) & (y < yi) & (lhs > rhs)
        return up | down

    crossings = F.size(F.filter(idx, edge_crosses))
    p = points.withColumn("__px", F.col(x_col).cast("double")).withColumn(
        "__py", F.col(y_col).cast("double")
    )
    joined = p.crossJoin(F.broadcast(polygons))
    return (
        joined.filter(crossings % 2 == 1)
        .drop("xs", "ys", "__px", "__py")
    )


def geometric_median(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    iterations: int = 8,
    eps: float = 1e-9,
    round_digits: int = 6,
) -> DataFrame:
    """Per-group planar geometric median by fixed-round Weiszfeld
    iteration (Weiszfeld 1937) — the ROBUST spatial center: the
    centroid chases outlying points linearly, the geometric median
    (the 2-D generalization of the median) barely moves; it is the
    right "where is this group, really" answer for depot placement
    and GPS-cluster summarization.

        y_{t+1} = Σ x_i/d_i / Σ 1/d_i ,  d_i = ‖x_i − y_t‖

    Determinism contract (the kmeans/logistic_gd trajectory-pinning
    discipline): init = exact-decimal centroid rounded to 9 dp; each
    round's per-point contributions x/d and 1/d round to 9 dp
    DECIMALs before the group sum (√ is IEEE-exact in both engines,
    so d is bit-identical); the updated coordinate rounds to 9 dp;
    d < ``eps`` clamps (the iterate-on-a-point singularity). State is
    a k-row broadcast frame; each round is ONE corpus scan +
    map-side-combinable group reduce. Returns per group:
    (group, n_points, median_x, median_y, mean_dist)."""
    # materialize the projected points ONCE: every round re-reads them,
    # and without the checkpoint each round re-runs the upstream scan
    pts = df.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).localCheckpoint(eager=True)
    dec = "decimal(38,9)"
    med = pts.groupBy("g").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
            9,
        ).alias("mx"),
        F.round(
            F.sum(F.col("y").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
            9,
        ).alias("my"),
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        j = pts.join(F.broadcast(med), "g")
        d = F.sqrt(
            (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
            + (F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))
        )
        dc = F.greatest(d, F.lit(float(eps)))
        upd = j.groupBy("g").agg(
            F.sum(F.round(F.col("x") / dc, 9).cast(dec)).alias("sx"),
            F.sum(F.round(F.col("y") / dc, 9).cast(dec)).alias("sy"),
            F.sum(F.round(F.lit(1.0) / dc, 9).cast(dec)).alias("sw"),
        )
        med = upd.select(
            "g",
            F.round(F.col("sx").cast("double") / F.col("sw").cast("double"), 9).alias("mx"),
            F.round(F.col("sy").cast("double") / F.col("sw").cast("double"), 9).alias("my"),
        ).localCheckpoint(eager=True)
    j = pts.join(F.broadcast(med), "g")
    d = F.sqrt(
        (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
        + (F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))
    )
    return (
        j.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.first("mx").alias("__mx"),
            F.first("my").alias("__my"),
            F.sum(F.round(d, 9).cast(dec)).alias("sd"),
        )
        .select(
            F.col("g").alias("group"),
            "n_points",
            F.round(F.col("__mx"), round_digits).alias("median_x"),
            F.round(F.col("__my"), round_digits).alias("median_y"),
            F.round(
                F.col("sd").cast("double") / F.col("n_points").cast("double"),
                round_digits,
            ).alias("mean_dist"),
        )
        .orderBy("group")
    )
