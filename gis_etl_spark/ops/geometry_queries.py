"""Geometry query pack over the buildings fixture (FIXTURES.md §B1).

The fixture is generated deterministically (seed 42) into
$SPARK_GRAFT_FIXTURE_DIR at a FIXED 20k-row size for the driver
contract — the driver's oracle SQL is a static string, so both sides
must read the same absolute path. Scale testing of these operators
happens in bench.py (200k rows) and pytest, not here.

Oracle strategy (SURVEY.md §7.2.6): DuckDB 1.0.0 has no spatial
extension, but it CAN check
- byte-level shape-type arithmetic (the reference's own
  `substr(blob::TEXT, 7, 2)` trick, east_asia.py:176);
- centroid/bbox/flip/heatmap results against the independently
  computed golden side-table (buildings_expected.parquet), rounded so
  ULP-level float noise between the two implementations cancels.

Hilbert keys: oracle-paired since r8 (_hilbert_keys_sql — the
Skilling transform unrolled into SQL CTEs; lindel-the-library parity
stays a non-goal, the oracle IS the published algorithm) plus property
tests (tests/test_layout.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gis_etl_spark.fixtures import (
    ensure_buildings,
    ensure_buildings_attrs,
    ensure_shape_stats_ndjson,
    ensure_shapefiles,
    ensure_wkt_csv,
)
from gis_etl_spark.ops.fixedpoint import fxavg, fxavg_sql, fxsum, fxsum_sql
from gis_etl_spark.layout.sfc import (
    DEFAULT_ORDER,
    grid_cell_sql,
    grid_parent_sql,
)
from gis_etl_spark.pipelines import buildings as P

GEO_ROWS = 20_000


def fixture_paths() -> tuple[str, str]:
    return ensure_buildings(GEO_ROWS)


def _read(spark: SparkSession) -> DataFrame:
    from gis_etl_spark.io import read_parquet_cached

    bpath, _ = fixture_paths()
    return read_parquet_cached(spark, bpath)


def _tile_census_sql(b: str, e: str) -> str:
    """ANSI twin of geo_tile_census over the golden centroid table."""
    from gis_etl_spark.layout.sfc import tile_quadkey_sql, tile_xy_sql

    xs, ys = tile_xy_sql("e.cy", "e.cx")
    qk = tile_quadkey_sql("x", "y")
    return f"""
        WITH t AS (
          SELECT {xs} AS x, {ys} AS y
          FROM {b} bb JOIN {e} e USING (building_id)
          WHERE bb.geom IS NOT NULL
            AND abs(e.cy) <= 85.0 AND abs(e.cx) <= 180.0
        )
        SELECT x, y, {qk} AS quadkey, count(*)::BIGINT AS cnt
        FROM t GROUP BY x, y ORDER BY x, y
    """


def _simplify_stats_sql(b: str, v: str, per_building: bool = False) -> str:
    """ANSI twin of geo_simplify_stats (rows-only since r4 — "geometry
    construction has no SQL oracle"): the construction itself still
    doesn't, but the reported vertex ECONOMICS do. Douglas-Peucker is
    a bounded recursion here (fixture rings ≤ 13 vertices → split
    depth ≤ 11), so it unrolls into 12 chained interval stages over
    the ordered vertex side-table (buildings_vertices — pre-WKB
    float64s, bit-equal to what the engine kernel decodes), each
    stage one MATERIALIZED CTE (DuckDB inlines plain CTEs; the
    multi-referenced stages would re-evaluate exponentially without
    the keyword). Mirrors geom.wkb exactly:
      - _dp_keep_mask: endpoints kept; split at the FIRST index of
        the max point-to-SEGMENT distance (row_number ORDER BY d
        DESC, idx ASC == np.argmax first-max) when d > tol; same
        clamped-t distance expression, same op order (sqrt vs
        np.hypot differs ~1 ULP — decisions compare d against
        tol=5e-4 on generic random coords, verified exact per
        building over the full fixture);
      - simplify: parts with n ≤ 4 (closed) / n ≤ 2 (open) pass
        through; a closed ring that would drop below 4 keeps its
        original vertices; points pass through (their single-vertex
        parts never enter the interval set);
      - convex_hull (strictly convex Andrew chain): a point is a
        hull vertex iff some directed edge p→q has every other
        distinct point strictly left (cross > 0) — the cross
        expression matches the kernel's bit-for-bit, so signs agree;
        n_uniq=1 → POINT (1), collinear/2-point → LINESTRING (2),
        else ring count + closing duplicate.
    """
    tol = repr(float(SIMPLIFY_TOL))
    relx, rely = "(vm.x - vi.x)", "(vm.y - vi.y)"
    segx, segy = "(vj.x - vi.x)", "(vj.y - vi.y)"
    l2 = f"({segx}*{segx} + {segy}*{segy})"
    t = (
        f"least(greatest(({relx}*{segx} + {rely}*{segy}) / {l2}, 0.0),"
        " 1.0)"
    )
    dx = f"({relx} - {t}*{segx})"
    dy = f"({rely} - {t}*{segy})"
    d = (
        f"CASE WHEN {l2} = 0 THEN sqrt({relx}*{relx} + {rely}*{rely}) "
        f"ELSE sqrt({dx}*{dx} + {dy}*{dy}) END"
    )
    stages = 12  # ≥ max ring length - 2; interval set provably drains
    parts = [f"""
        WITH verts AS MATERIALIZED (
          SELECT building_id, part, idx, x, y, closed FROM {v}
        ), pn AS MATERIALIZED (
          SELECT building_id, part, max(idx) + 1 AS n,
                 bool_or(closed) AS closed
          FROM verts GROUP BY building_id, part
        ), a0 AS (
          SELECT building_id, part, 0 AS i, n - 1 AS j
          FROM pn
          WHERE (closed AND n > 4) OR ((NOT closed) AND n > 2)
        ), k0(building_id, part, idx) AS (
          SELECT building_id, part, idx FROM verts WHERE false
        )"""]
    for s in range(stages):
        parts.append(f""", c{s} AS MATERIALIZED (
          SELECT a.building_id, a.part, a.i, a.j, vm.idx, {d} AS d
          FROM a{s} a
          JOIN verts vi ON vi.building_id = a.building_id
                       AND vi.part = a.part AND vi.idx = a.i
          JOIN verts vj ON vj.building_id = a.building_id
                       AND vj.part = a.part AND vj.idx = a.j
          JOIN verts vm ON vm.building_id = a.building_id
                       AND vm.part = a.part
                       AND vm.idx > a.i AND vm.idx < a.j
        ), s{s} AS MATERIALIZED (
          SELECT building_id, part, i, j, idx AS m
          FROM (
            SELECT building_id, part, i, j, idx, d,
                   row_number() OVER (
                     PARTITION BY building_id, part, i, j
                     ORDER BY d DESC, idx ASC) AS rn
            FROM c{s}
          ) r WHERE rn = 1 AND d > {tol}
        ), k{s + 1} AS MATERIALIZED (
          SELECT * FROM k{s}
          UNION ALL SELECT building_id, part, m AS idx FROM s{s}
        ), a{s + 1} AS MATERIALIZED (
          SELECT building_id, part, i, m AS j FROM s{s} WHERE m > i + 1
          UNION ALL
          SELECT building_id, part, m AS i, j FROM s{s} WHERE j > m + 1
        )""")
    parts.append(f""", kept AS (
          SELECT building_id, part, count(*) AS nk
          FROM k{stages} GROUP BY 1, 2
        ), per_part AS (
          SELECT pn.building_id,
                 pn.n AS v_raw_part,
                 CASE WHEN NOT ((pn.closed AND pn.n > 4)
                                OR ((NOT pn.closed) AND pn.n > 2))
                        THEN pn.n
                      WHEN pn.closed AND 2 + COALESCE(kept.nk, 0) < 4
                        THEN pn.n
                      ELSE 2 + COALESCE(kept.nk, 0) END AS v_simp_part
          FROM pn LEFT JOIN kept USING (building_id, part)
        ), dp AS (
          SELECT building_id, sum(v_raw_part)::BIGINT AS v_raw,
                 sum(v_simp_part)::BIGINT AS v_simp
          FROM per_part GROUP BY building_id
        ), uniq AS MATERIALIZED (
          SELECT DISTINCT building_id, x, y FROM verts
        ), nu AS (
          SELECT building_id, count(*) AS n_u FROM uniq GROUP BY 1
        ), hullv AS MATERIALIZED (
          SELECT DISTINCT p.building_id, p.x, p.y
          FROM uniq p JOIN uniq q USING (building_id)
          WHERE (p.x != q.x OR p.y != q.y)
            AND NOT EXISTS (
              SELECT 1 FROM uniq r
              WHERE r.building_id = p.building_id
                AND (r.x != p.x OR r.y != p.y)
                AND (r.x != q.x OR r.y != q.y)
                AND (q.x - p.x) * (r.y - p.y)
                  - (q.y - p.y) * (r.x - p.x) <= 0
            )
        ), hc AS (
          SELECT building_id, count(*) AS hull_count
          FROM hullv GROUP BY 1
        ), hull AS (
          SELECT nu.building_id,
                 CASE WHEN nu.n_u = 1 THEN 1
                      WHEN COALESCE(hc.hull_count, 0) >= 3
                        THEN hc.hull_count + 1
                      ELSE 2 END AS v_hull
          FROM nu LEFT JOIN hc USING (building_id)
        )
        {"SELECT dp.building_id AS building_id, dp.v_raw AS v_raw, "
         "dp.v_simp AS v_simp, hull.v_hull AS v_hull "
         "FROM dp JOIN hull USING (building_id) ORDER BY building_id"
         if per_building else
         f'''SELECT bb.source AS source, count(*) AS n,
               sum(dp.v_raw)::BIGINT AS v_raw,
               sum(dp.v_simp)::BIGINT AS v_simp,
               sum(hull.v_hull)::BIGINT AS v_hull
        FROM {b} bb
        JOIN dp ON dp.building_id = bb.building_id
        JOIN hull ON hull.building_id = bb.building_id
        WHERE bb.geom IS NOT NULL
        GROUP BY bb.source ORDER BY bb.source'''}""")
    return "".join(parts)


def _convert_bbox_sql(b: str, e: str, g: str) -> str:
    """ANSI twin of geo_convert_bbox (rows-only since r2 — "the oracle
    cannot reproject UTM"): the Snyder inverse transverse-Mercator
    series unrolls into SQL the same way the Skilling transform did
    (utm_inverse_select_sql, geom/transform.py), so the oracle CAN
    reproject the EPSG:32650 block — per-vertex over the
    independently-written ring-edge side-table (buildings_edges
    carries the pre-WKB float64 ring coordinates; WKB roundtrips
    doubles bit-exactly, so these are the numbers the engine kernel
    transforms). Mirrors convert() stage-for-stage:
      1. clean: epsg supported + geom NOT NULL + core type byte < 8
         (ISO POLYGON Z reads 235 and drops, EWKB-Z reads 3 and
         stays — the reference's own byte semantics);
      2. flip probe on TRANSFORMED centroids (golden cx/cy; UTM rows
         through the inverse series) → per-source min_x < 60;
      3. bbox: 4326 rows use golden extents (identity transform;
         Z-drop never touches x/y), UTM rows min/max the transformed
         vertices;
      4. flip swaps per-axis bboxes (min/max commute with the swap);
      5. global min/max, round 6.
    """
    from gis_etl_spark.geom.transform import utm_inverse_select_sql

    st_byte = "('0x' || substr(CAST(geom AS VARCHAR), 7, 2))::INT"
    supported = (
        "bb.epsg IS NOT NULL AND (bb.epsg = 4326 OR bb.epsg = 3857 "
        "OR bb.epsg BETWEEN 32601 AND 32660 "
        "OR bb.epsg BETWEEN 32701 AND 32760)"
    )
    utm_centroids = f"""(
      SELECT bb.source AS source, e.cx AS cx, e.cy AS cy
      FROM {b} bb JOIN {e} e USING (building_id)
      WHERE bb.geom IS NOT NULL AND {st_byte} < 8
        AND bb.epsg = 32650 AND {supported}
    ) uc"""
    utm_vertices = f"""(
      SELECT g.building_id AS building_id, g.x1 AS x1, g.y1 AS y1
      FROM {g} g JOIN {b} bb USING (building_id)
      WHERE bb.geom IS NOT NULL AND {st_byte} < 8
        AND bb.epsg = 32650 AND {supported}
    ) uv"""
    probe_utm = utm_inverse_select_sql(
        utm_centroids, east="cx", north="cy", zone=50, keep="source"
    )
    vert_utm = utm_inverse_select_sql(
        utm_vertices, east="x1", north="y1", zone=50, keep="building_id"
    )
    return f"""
        WITH probe AS (
          SELECT bb.source AS source, e.cx AS tx
          FROM {b} bb JOIN {e} e USING (building_id)
          WHERE bb.geom IS NOT NULL AND {st_byte} < 8
            AND bb.epsg != 32650 AND {supported}
          UNION ALL
          SELECT source, lon AS tx FROM {probe_utm} pu
        ), flips AS (
          SELECT source, min(tx) < 60.0 AS needs_flip
          FROM probe GROUP BY source
        ), utm_bb AS (
          SELECT building_id,
                 min(lon) AS xmin, min(lat) AS ymin,
                 max(lon) AS xmax, max(lat) AS ymax
          FROM {vert_utm} vu GROUP BY building_id
        ), boxes AS (
          SELECT bb.source AS source,
                 CASE WHEN bb.epsg = 32650 THEN u.xmin ELSE e.xmin END
                   AS xmin,
                 CASE WHEN bb.epsg = 32650 THEN u.ymin ELSE e.ymin END
                   AS ymin,
                 CASE WHEN bb.epsg = 32650 THEN u.xmax ELSE e.xmax END
                   AS xmax,
                 CASE WHEN bb.epsg = 32650 THEN u.ymax ELSE e.ymax END
                   AS ymax
          FROM {b} bb JOIN {e} e USING (building_id)
          LEFT JOIN utm_bb u USING (building_id)
          WHERE bb.geom IS NOT NULL AND {st_byte} < 8 AND {supported}
        ), flipped AS (
          SELECT CASE WHEN f.needs_flip THEN x.ymin ELSE x.xmin END
                   AS xmin,
                 CASE WHEN f.needs_flip THEN x.xmin ELSE x.ymin END
                   AS ymin,
                 CASE WHEN f.needs_flip THEN x.ymax ELSE x.xmax END
                   AS xmax,
                 CASE WHEN f.needs_flip THEN x.xmax ELSE x.ymax END
                   AS ymax
          FROM boxes x JOIN flips f USING (source)
        )
        SELECT round(min(xmin), 6) AS xmin, round(min(ymin), 6) AS ymin,
               round(max(xmax), 6) AS xmax, round(max(ymax), 6) AS ymax
        FROM flipped
    """


def _hilbert_keys_sql(b: str, e: str) -> str:
    """ANSI twin of geo_hilbert_keys (r8 — previously rows-only "the
    oracle lacks lindel"): Skilling's AxesToTranspose + Gray decode +
    bit interleave are pure integer ops, so they unroll into chained
    CTEs the same way the H3 fold did (h3grid). Quantization copies
    the engine's float sequence exactly (((c + off) / span) * scale,
    trunc, clamp) over the golden centroid table; everything after is
    exact integer arithmetic, so the full 2^16-lattice keys hash-match
    bit-for-bit."""
    order = DEFAULT_ORDER
    scale = (1 << order) - 1
    parts = [
        f"""WITH r{order}b AS (
          SELECT bb.building_id AS building_id,
                 LEAST(GREATEST(CAST(trunc(((e.cy + 90.0) / 180.0)
                   * {float(scale)!r}) AS BIGINT), 0), {scale}) AS a,
                 LEAST(GREATEST(CAST(trunc(((e.cx + 180.0) / 360.0)
                   * {float(scale)!r}) AS BIGINT), 0), {scale}) AS b
          FROM {b} bb JOIN {e} e USING (building_id)
          WHERE bb.geom IS NOT NULL
        )"""
    ]
    prev = f"r{order}b"
    for sh in range(order - 1, 0, -1):
        q, p = 1 << sh, (1 << sh) - 1
        parts.append(
            f""", r{sh}a AS (
          SELECT building_id,
                 CASE WHEN (a & {q}) != 0 THEN xor(a, {p}) ELSE a END
                   AS a, b
          FROM {prev}
        ), r{sh}b AS (
          SELECT building_id,
                 CASE WHEN (b & {q}) != 0 THEN xor(a, {p})
                      ELSE xor(a, xor(a, b) & {p}) END AS a,
                 CASE WHEN (b & {q}) != 0 THEN b
                      ELSE xor(b, xor(a, b) & {p}) END AS b
          FROM r{sh}a
        )"""
        )
        prev = f"r{sh}b"
    parts.append(
        f""", g{order} AS (
          SELECT building_id, a, xor(b, a) AS b,
                 CAST(0 AS BIGINT) AS t
          FROM {prev}
        )"""
    )
    prev = f"g{order}"
    for sh in range(order - 1, 0, -1):
        q = 1 << sh
        parts.append(
            f""", g{sh} AS (
          SELECT building_id, a, b,
                 CASE WHEN (b & {q}) != 0 THEN xor(t, {q - 1})
                      ELSE t END AS t
          FROM {prev}
        )"""
        )
        prev = f"g{sh}"
    inter = " + ".join(
        f"(((a >> {bit}) & 1) << {2 * bit + 1})"
        f" + (((b >> {bit}) & 1) << {2 * bit})"
        for bit in range(order)
    )
    parts.append(
        f""", fin AS (
          SELECT building_id, xor(a, t) AS a, xor(b, t) AS b
          FROM {prev}
        )
        SELECT building_id, CAST({inter} AS BIGINT) AS hkey
        FROM fin ORDER BY building_id"""
    )
    return "".join(parts)


def _even_odd_crossings_sql(cx: str, cy: str) -> str:
    """SQL even-odd crossing predicate for one (point, edge) pair —
    the engine kernel's arithmetic verbatim (geom/wkb.contains_point:
    straddle test, then px < (x2-x1)*(py-y1)/(y2-y1)+x1). The divisor
    CASE only guards the never-taken non-straddle branch (y1 == y2
    fails the straddle test), keeping the value stream identical."""
    return (
        f"(ed.y1 > {cy}) != (ed.y2 > {cy})"
        f" AND {cx} < (ed.x2 - ed.x1) * ({cy} - ed.y1)"
        f" / (CASE WHEN ed.y2 = ed.y1 THEN 1.0 ELSE ed.y2 - ed.y1 END)"
        f" + ed.x1"
    )


def _pip_sql(b: str, e: str, g: str) -> str:
    """ANSI twin of points_in_polygons (r8 — previously rows-only "no
    spatial predicate"): the buildings_edges side-table carries every
    areal ring edge straight from the fixture's pre-WKB arrays, so
    DuckDB runs the bbox candidate join AND the even-odd kernel
    itself. Candidate semantics mirror pip_join exactly: the grid-cell
    equi-join is a pure performance device (floor is monotone, so a
    bbox-contained point always shares a cell) — the result set is the
    bbox filter + kernel, which is what this twin computes."""
    from gis_etl_spark.ops.joins import (  # noqa: PLC0415
        PIP_CELL_DEG,
        PIP_MAX_CELLS_PER_AXIS,
    )

    c = PIP_CELL_DEG
    return f"""
        WITH pts AS (
          SELECT bb.building_id AS point_id, e.cx AS cx, e.cy AS cy
          FROM {b} bb JOIN {e} e USING (building_id)
          WHERE bb.geom IS NOT NULL AND e.cx IS NOT NULL
            AND abs(e.cx) <= 180.0 AND abs(e.cy) <= 90.0
        ), polys AS (
          SELECT bb.building_id AS poly_id, bb.source AS source,
                 e.xmin, e.ymin, e.xmax, e.ymax
          FROM {b} bb JOIN {e} e USING (building_id)
          WHERE bb.geom IS NOT NULL AND e.xmin IS NOT NULL
            AND e.xmin >= -180.0 AND e.xmax <= 180.0
            AND e.ymin >= -90.0 AND e.ymax <= 90.0
            AND floor(e.xmax / {c!r}) - floor(e.xmin / {c!r})
                < {PIP_MAX_CELLS_PER_AXIS}
            AND floor(e.ymax / {c!r}) - floor(e.ymin / {c!r})
                < {PIP_MAX_CELLS_PER_AXIS}
        ), cand AS (
          SELECT p.point_id, q.poly_id, p.cx, p.cy
          FROM pts p JOIN polys q
            ON p.cx >= q.xmin AND p.cx <= q.xmax
           AND p.cy >= q.ymin AND p.cy <= q.ymax
           AND p.point_id != q.poly_id
        ), crossx AS (
          SELECT cd.point_id, cd.poly_id,
                 sum(CASE WHEN {_even_odd_crossings_sql('cd.cx', 'cd.cy')}
                          THEN 1 ELSE 0 END) AS crossings
          FROM cand cd JOIN {g} ed ON ed.building_id = cd.poly_id
          GROUP BY cd.point_id, cd.poly_id
        ), per_poly AS (
          SELECT poly_id, count(*)::BIGINT AS n_contained
          FROM crossx WHERE crossings % 2 = 1 GROUP BY poly_id
        )
        SELECT q.source AS source,
               count(*)::BIGINT AS n_polys_with_hits,
               sum(pp.n_contained)::BIGINT AS n_pairs
        FROM per_poly pp JOIN polys q USING (poly_id)
        GROUP BY q.source ORDER BY source
    """


def _centroid_containment_sql(b: str, e: str, g: str) -> str:
    """ANSI twin of geo_centroid_containment (r8): each row's golden
    centroid tested against its OWN ring edges; non-areal rows have no
    edges and count as not-inside, exactly like the engine kernel."""
    return f"""
        WITH rows_ AS (
          SELECT bb.building_id AS building_id, bb.source AS source,
                 e.cx AS cx, e.cy AS cy
          FROM {b} bb JOIN {e} e USING (building_id)
          WHERE bb.geom IS NOT NULL
        ), crossx AS (
          SELECT r.building_id,
                 sum(CASE WHEN {_even_odd_crossings_sql('r.cx', 'r.cy')}
                          THEN 1 ELSE 0 END) AS crossings
          FROM rows_ r JOIN {g} ed USING (building_id)
          GROUP BY r.building_id
        ), flags AS (
          SELECT r.source,
                 COALESCE(c.crossings % 2 = 1, FALSE) AS inside
          FROM rows_ r LEFT JOIN crossx c USING (building_id)
        )
        SELECT source, count(*)::BIGINT AS n,
               count(*) FILTER (inside)::BIGINT AS n_inside,
               round(count(*) FILTER (inside) / count(*)::DOUBLE, 4)
                 AS rate
        FROM flags GROUP BY source ORDER BY source
    """


def _geohash_census_sql(b: str, e: str) -> str:
    """ANSI twin of geo_geohash_census — scalings, interleave, and
    alphabet lookup staged as CTE columns."""
    from gis_etl_spark.layout.sfc import (
        geohash_chars_sql,
        geohash_interleave_sql,
        geohash_xy_sql,
    )

    x4, y4 = geohash_xy_sql("e.cy", "e.cx", 4)
    x6, y6 = geohash_xy_sql("e.cy", "e.cx", 6)
    return f"""
        WITH keyed AS (
          SELECT {x4} AS gx4, {y4} AS gy4, {x6} AS gx6, {y6} AS gy6
          FROM {b} bb JOIN {e} e USING (building_id)
          WHERE bb.geom IS NOT NULL
            AND abs(e.cy) <= 90.0 AND abs(e.cx) <= 180.0
        ), gis AS (
          SELECT {geohash_interleave_sql('gx4', 'gy4', 4)} AS gi4,
                 {geohash_interleave_sql('gx6', 'gy6', 6)} AS gh6
          FROM keyed
        ), gh AS (
          SELECT {geohash_chars_sql('gi4', 4)} AS gh4, gh6 FROM gis
        )
        SELECT gh4, count(*)::BIGINT AS cnt,
               count(DISTINCT gh6)::BIGINT AS n_sub
        FROM gh GROUP BY gh4 ORDER BY gh4
    """


def geo_total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-row audit (East-Asia-Building-Footprints.md:225-227)."""
    return _read(spark).agg(F.count("*").alias("cnt"))


def io_geojsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSONSeq scan roundtrip proof: the buildings corpus
    re-serialized as newline-delimited GeoJSON, read back distributed
    (sources/geojson.py), centroids recomputed from the decoded WKB —
    a hash match against the golden table means every coordinate
    survived the text roundtrip bit-exactly."""
    import os

    from gis_etl_spark.fixtures import ensure_geojsonl
    from gis_etl_spark.sources.geojson import read_geojsonl

    root = ensure_geojsonl()
    df = read_geojsonl(spark, os.path.join(root, "*.geojsonl"))
    df = P.with_centroid(df.filter(F.col("geom").isNotNull()))
    return (
        df.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("building_id").alias("id_sum"),
            fxavg(F.col("centroid").getField("x"), nd=6, out=6).alias(
                "avg_cx"
            ),
            fxavg(F.col("centroid").getField("y"), nd=6, out=6).alias(
                "avg_cy"
            ),
        )
        .orderBy("source")
    )


def geo_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-source audit — A3 (East-Asia-…md:171-174)."""
    return _read(spark).agg(F.countDistinct("source").alias("n_sources"))


def geo_shape_type_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ewkb-stats rendition (east_asia.py:336-340): native byte-peek,
    one shuffle, no geometry decode."""
    return P.shape_type_census(_read(spark)).orderBy("shape_type", "filename")


def geo_core_type_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 core-type filter cardinality (east_asia.py:248)."""
    df = _read(spark)
    from gis_etl_spark.geom.functions import st_is_core_type

    return (
        df.filter(F.col("geom").isNotNull())
        .filter(st_is_core_type(F.col("geom")))
        .agg(F.count("*").alias("cnt"))
    )


def geo_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file count plausibility listing (East-Asia-…md:179-222)."""
    return (
        _read(spark)
        .groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .orderBy("cnt", "source")
    )


def geo_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source centroid means — engine WKB kernel vs golden table."""
    df = P.with_centroid(_read(spark).filter(F.col("geom").isNotNull()))
    return (
        df.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            # nd=6 (not more): UTM-meter sources reach |y| ~ 1e7, so the
            # quantized per-row int stays ≤ 1e13 and the group sum far
            # from int64 overflow
            fxavg(F.col("centroid").getField("x"), nd=6, out=6).alias("avg_cx"),
            fxavg(F.col("centroid").getField("y"), nd=6, out=6).alias("avg_cy"),
        )
        .orderBy("source")
    )


def geo_haversine_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source great-circle bbox diagonal in floor-metres —
    ST_DISTANCE_SPHERE over the centroid extremes [beyond-reference:
    the reference never measures geodesic extent; footprint-corpus QA
    wants it]. Geographic sources only (the projected/flipped frames
    have no spherical meaning). min/max are exact; the haversine text
    is SHARED verbatim with the oracle (geom.functions.haversine_m_sql)
    so both engines parse the identical AST — floor-to-metres absorbs
    the residual libm ulp, the tile-codec risk class."""
    from gis_etl_spark.geom.functions import haversine_m_sql

    df = P.with_centroid(_read(spark).filter(F.col("geom").isNotNull()))
    pts = df.select(
        "source",
        F.col("centroid").getField("x").alias("cx"),
        F.col("centroid").getField("y").alias("cy"),
    ).filter((F.abs(F.col("cx")) <= 180.0) & (F.abs(F.col("cy")) <= 90.0))
    box = pts.groupBy("source").agg(
        F.count("*").alias("n"),
        F.min("cx").alias("x0"),
        F.min("cy").alias("y0"),
        F.max("cx").alias("x1"),
        F.max("cy").alias("y1"),
    )
    span = F.expr(
        f"CAST(floor({haversine_m_sql('x0', 'y0', 'x1', 'y1')}) AS BIGINT)"
    )
    return box.select("source", "n", span.alias("span_m")).orderBy("source")


def geo_spatial_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-connected building clusters: connected components over
    the NEAR_RADIUS_DEG proximity graph — single-linkage clustering,
    the DBSCAN-core shape (every paired point is 'core' here; a
    min-neighbors gate would be one degree filter on the same edges)
    [beyond-reference: the reference detects nothing spatial beyond
    per-file counts]. Edges come from the verified grid-bucketed
    near-pair join; components from the shared
    ops.dedup.label_components (driver union-find below its size gate,
    star contraction above it; exact transitive closure). The
    oracle recomputes the closure with a recursive CTE over the golden
    centroid table.

    Output: one row per cluster (>= 2 members by construction):
    component = min building_id, n_members, id_sum checksum."""
    from gis_etl_spark.ops.dedup import label_components
    from gis_etl_spark.ops.joins import spatial_near_pairs

    pairs = spatial_near_pairs(spark, sf_dir).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    labels = label_components(pairs)
    return (
        labels.groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("component")
    )


def geo_area_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source area/perimeter rollup — ST_AREA/ST_PERIMETER over
    WKB [beyond-reference: footprint QA needs area distributions; the
    reference never computes them]. Engine kernel vs the independent
    plain-Python golden table, fixed-point-summed so ULP noise between
    the two shoelace implementations cancels. nd=6: UTM-meter sources
    reach ring areas ~1e6 m² → quantized rows ≤ 1e12, and 20k rows
    keep the int64 sum ≤ 2e16, far from overflow."""
    from gis_etl_spark.geom.functions import st_area_perimeter

    df = _read(spark).filter(F.col("geom").isNotNull())
    ap = df.withColumn("ap", st_area_perimeter(F.col("geom")))
    return (
        ap.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            fxsum(F.col("ap").getField("area"), nd=6, out=6).alias(
                "total_area"
            ),
            fxsum(F.col("ap").getField("perim"), nd=6, out=6).alias(
                "total_perim"
            ),
        )
        .orderBy("source")
    )


def geo_tile_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slippy-map tile census at z=10 — the web-map export analog of
    the reference's heatmap rollup: per-tile feature counts keyed by
    (x, y, quadkey). Tile math is JVM-built-in trig (stays in
    codegen); the quadkey is pure bit interleaving. Filtered to the
    Web-Mercator latitude range, which also drops the UTM-declared
    source whose raw coordinates aren't lon/lat."""
    from gis_etl_spark.layout.sfc import tile_quadkey, tile_xy

    df = P.with_centroid(_read(spark).filter(F.col("geom").isNotNull()))
    cy = F.col("centroid").getField("y")
    cx = F.col("centroid").getField("x")
    tx, ty = tile_xy(cy, cx)
    t = (
        df.filter((F.abs(cy) <= 85.0) & (F.abs(cx) <= 180.0))
        .select(tx.alias("x"), ty.alias("y"))
        .withColumn("quadkey", tile_quadkey(F.col("x"), F.col("y")))
    )
    return (
        t.groupBy("x", "y", "quadkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy("x", "y")
    )


def geo_geohash_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash census — the base-32 interop geocode (public standard;
    known-vector tested: u4pruyd/ezs42): per-4-char-cell counts plus
    the count of distinct 6-char refinements inside each. Both the
    string codec and the integer key are exercised; everything is
    fixed-point scaling + bit interleaving, exact in any engine."""
    from gis_etl_spark.layout.sfc import geohash_int, geohash_str

    df = P.with_centroid(_read(spark).filter(F.col("geom").isNotNull()))
    cy = F.col("centroid").getField("y")
    cx = F.col("centroid").getField("x")
    g = df.filter((F.abs(cy) <= 90.0) & (F.abs(cx) <= 180.0)).select(
        geohash_str(cy, cx, 4).alias("gh4"),
        geohash_int(cy, cx, 6).alias("gh6"),
    )
    return (
        g.groupBy("gh4")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("gh6").alias("n_sub"),
        )
        .orderBy("gh4")
    )


SIMPLIFY_TOL = 0.0005  # ~10% of the fixture ring radius


def geo_simplify_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SIMPLIFY + ST_CONVEXHULL vertex economics per source
    [beyond-reference]. Oracle-paired since r10 (_simplify_stats_sql —
    bounded Douglas-Peucker recursion unrolled into 12 interval
    stages + an extreme-point hull census over the golden vertex
    table; was rows-only "geometry construction has no SQL oracle");
    tests/test_wkb.py additionally pins the kernels with analytic
    shapes and deviation/containment properties. Reports Σ vertices
    raw / simplified / hull — the payload-shrink numbers a
    tile-export pipeline budgets with."""
    from gis_etl_spark.geom.functions import (
        st_convex_hull,
        st_npoints,
        st_simplify,
    )

    df = _read(spark).filter(F.col("geom").isNotNull())
    g = df.select(
        "source",
        st_npoints(F.col("geom")).alias("v_raw"),
        st_npoints(st_simplify(F.col("geom"), SIMPLIFY_TOL)).alias("v_simp"),
        st_npoints(st_convex_hull(F.col("geom"))).alias("v_hull"),
    )
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("v_raw").alias("v_raw"),
            F.sum("v_simp").alias("v_simp"),
            F.sum("v_hull").alias("v_hull"),
        )
        .orderBy("source")
    )


def geo_global_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the reference-segfaulting query, rounded for oracle parity."""
    bb = P.global_bbox(_read(spark))
    return bb.select(
        F.round("xmin", 6).alias("xmin"),
        F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"),
        F.round("ymax", 6).alias("ymax"),
    )


def geo_flip_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 flip heuristic per source (east_asia.py:204-239)."""
    return (
        P.detect_flip_sources(_read(spark))
        .select("source", F.round("min_x", 6).alias("min_x"), "needs_flip")
        .orderBy("source")
    )


def geo_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6 grid heatmap over engine centroids (East-Asia-…md:243-257)."""
    return P.heatmap(_read(spark), res=7).orderBy("cell")


def geo_heatmap_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heatmap export with antimeridian guard + boundary WKT
    (East-Asia-…md:263-273). Oracle-paired since r10: the boundary
    string is pure arithmetic + printf, re-derived in SQL by
    grid_cell_boundary_wkt_sql, so a hash match pins the full WKT."""
    return P.heatmap_export(_read(spark), res=7).orderBy("cell")


def geo_normalized_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extract() semantics end-to-end: null-drop → core-type filter
    → force2d → conditional flip → global bbox (east_asia.py:96-283)."""
    norm = P.normalize(_read(spark))
    bb = P.global_bbox(norm)
    return bb.select(
        F.round("xmin", 6).alias("xmin"),
        F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"),
        F.round("ymax", 6).alias("ymax"),
    )


def geo_heatmap_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup: the res-7 heatmap re-aggregated to
    res-5 parent cells via grid_parent — the hierarchy traversal
    (H3_CELL_TO_PARENT shape) a tiling service runs per zoom level.
    All-native arithmetic; shuffle volume is O(res-7 cells)."""
    from gis_etl_spark.layout.sfc import grid_parent

    fine = P.heatmap(_read(spark), res=7)
    return (
        fine.groupBy(grid_parent(F.col("cell"), 5).alias("parent_cell"))
        .agg(F.sum("num_recs").cast("bigint").alias("num_recs"))
        .orderBy("parent_cell")
    )


def hex_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6 heatmap on the icosahedral aperture-7 hex grid
    (layout/geohex.py) — the exact-math upgrade of geo_heatmap's
    equal-angle lattice: near-uniform cell areas globally, H3-style √7
    hierarchy. Native column arithmetic with let-bound subexpressions;
    aggregation is a two-phase hash agg on an int64 id, exactly like
    the lattice path, so the 100 TB plan is unchanged. Cell ids come
    from the fused WKB→centroid→cell Arrow kernel (one Python hop;
    bit-identical to the let-bound Column rendition —
    tests/test_layout.py)."""
    return P.hex_heatmap(_read(spark), res=7).orderBy("cell")


def hex_heatmap_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex heatmap rolled up res 7 → res 5 via hex_parent
    (H3_CELL_TO_PARENT shape) — pure arithmetic on the packed id, no
    trig, shuffle volume O(res-7 cells)."""
    from gis_etl_spark.layout.geohex import hex_parent

    fine = P.hex_heatmap(_read(spark), res=7)
    return (
        fine.groupBy(hex_parent(F.col("cell"), 7, 5).alias("parent_cell"))
        .agg(F.sum("num_recs").cast("bigint").alias("num_recs"))
        .orderBy("parent_cell")
    )


def hex_heatmap_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal (1-ring neighborhood) sum over the hex heatmap — the
    H3 grid_disk smoothing a density-surface renderer applies. Pure
    integer arithmetic on packed ids (hex_disk), so the 7× candidate
    explode + self-join shuffles O(7·cells), never touches geometry,
    and hash-matches the oracle exactly."""
    from gis_etl_spark.layout.geohex import hex_disk

    fine = P.hex_heatmap(_read(spark), res=7)
    nbrs = fine.select(
        "cell", F.explode(hex_disk(F.col("cell"))).alias("nbr")
    )
    return (
        nbrs.join(
            fine.select(
                F.col("cell").alias("nbr"), F.col("num_recs").alias("n2")
            ),
            "nbr",
        )
        .groupBy("cell")
        .agg(F.sum("n2").cast("bigint").alias("focal_recs"))
        .orderBy("cell")
    )


def hex_heatmap_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex heatmap with cell centers + hexagon boundary WKT
    (H3_CELL_TO_BOUNDARY_WKT shape, East-Asia-…md:264-268).
    Oracle-paired since r10: hex_export_select_sql re-derives the
    inverse gnomonic (same constants, same association order) in
    DuckDB; the 7-decimal printf rendering absorbs residual libm ulp,
    so a hash match pins centers AND the full boundary ring.
    Geometric invariants remain pytest-covered (tests/test_layout.py)."""
    from gis_etl_spark.layout.geohex import hex_export_arrow

    cells = hex_heatmap(spark, sf_dir)
    # r19: the cell aggregate is a few MB, so AQE coalesces its
    # exchange to one partition and the boundary-export Arrow kernel
    # ran as a SINGLE task (profiled 2.2 s serial Python on the 200k
    # rig). Respread to cluster width before the kernel — explicit
    # count, exempt from AQE coalescing; the final orderBy re-sorts,
    # so the result is unchanged.
    para = spark.sparkContext.defaultParallelism
    return (
        cells.repartition(para)
        .withColumn("exp", hex_export_arrow(F.col("cell"), 7))
        .select(
            "cell",
            "num_recs",
            F.round(F.col("exp.center_lat"), 6).alias("center_lat"),
            F.round(F.col("exp.center_lng"), 6).alias("center_lng"),
            F.col("exp.boundary").alias("boundary"),
        )
        .orderBy("cell")
    )


def geo_centroid_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source centroid-containment audit — ST_CONTAINS(geom,
    ST_CENTROID(geom)) rate, the standard concavity/quality probe.
    Rows-only: DuckDB 1.0.0 has no spatial predicate to twin it;
    the even-odd kernel is golden-tested against an independent scalar
    implementation and synthetic hole/multipart cases (tests/test_wkb)."""
    from gis_etl_spark.geom.functions import st_centroid_inside

    df = _read(spark).filter(F.col("geom").isNotNull())
    return (
        df.select("source", st_centroid_inside(F.col("geom")).alias("inside"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.count_if("inside").alias("n_inside"),
            F.round(F.count_if("inside") / F.count("*"), 4).alias("rate"),
        )
        .orderBy("source")
    )


def geo_convert_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full convert() pipeline (clean → reproject → flip) → global
    bbox. Oracle-paired since r10 (was rows-only "the oracle cannot
    reproject UTM"): _convert_bbox_sql unrolls the Snyder inverse-TM
    series into SQL over the golden edge vertices — the
    geo_hilbert_keys precedent. pytest additionally asserts the UTM
    block lands inside zone-50 geographic bounds
    (tests/test_transform.py, tests/test_pipelines.py)."""
    conv = P.convert(_read(spark))
    bb = P.global_bbox(conv)
    return bb.select(
        F.round("xmin", 6).alias("xmin"),
        F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"),
        F.round("ymax", 6).alias("ymax"),
    )


def geo_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout keys (O1, east_asia.py:75-77) — rows-only check (the
    oracle lacks lindel, SURVEY.md F9); locality properties are pytest
    golden tests."""
    df = P.with_hilbert_key(_read(spark).filter(F.col("geom").isNotNull()))
    return df.select("building_id", "hkey").orderBy("building_id")


def io_ndjson_shape_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON scan (S6, `READ_JSON('shape_stats.json')`,
    East-Asia-Building-Footprints.md:113): read the diagnostic file,
    roll up per shape type."""
    path = ensure_shape_stats_ndjson()
    df = spark.read.json(path)
    return (
        df.groupBy(F.col("shape_type").cast("int").alias("shape_type"))
        .agg(
            F.sum("num_recs").cast("bigint").alias("total"),
            F.countDistinct("filename").alias("n_files"),
        )
        .orderBy("shape_type")
    )


def io_csv_wkt_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-with-header scan (S4, `READ_CSV(?, header=True)`,
    east_asia.py:72-74): WKT text rows → per-geometry-type counts via
    string ops (WKT *parsing* of the same file is pytest-verified —
    the oracle can't build geometries)."""
    path = ensure_wkt_csv()
    df = (
        spark.read.option("header", True)
        .schema("building_id long, wkt string")
        .csv(path)
    )
    return (
        df.select(F.substring_index("wkt", " ", 1).alias("gtype"))
        .groupBy("gtype")
        .agg(F.count("*").alias("cnt"))
        .orderBy("gtype")
    )


def io_wide_attrs_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclude-and-rename projection on the ORNL-style wide table (P1,
    `SELECT * EXCLUDE(Shape), Shape geom`, ORNL-FEMA-Buildings.md:80-81)
    + attribute rollup. Column pruning means the (large) geometry
    column is never read for this aggregate."""
    path = ensure_buildings_attrs()
    wide = spark.read.parquet(path)
    projected = wide.withColumnRenamed("Shape", "geom")
    return (
        projected.groupBy("occ_cls")
        .agg(
            F.count("*").alias("cnt"),
            fxavg("height").alias("avg_height"),
            fxsum("sqmeters").alias("total_sqm"),
        )
        .orderBy("occ_cls")
    )


def shp_scan_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL shapefile scan (S1, `ST_READ(file, keep_wkb=TRUE)`,
    east_asia.py:145): binaryFile source + pure-Python .shp decoder →
    per-(file, ESRI type) feature counts. The oracle checks against
    the parquet twin written alongside the .shp files."""
    from gis_etl_spark.sources.shapefile import read_shapefile

    shp_dir, _ = ensure_shapefiles()
    df = read_shapefile(spark, shp_dir)
    return (
        df.select(
            F.element_at(F.split(F.col("source"), "/"), -1).alias("file"),
            "shape_type",
        )
        .groupBy("file", "shape_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("file", "shape_type")
    )


def gdb_scan_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FileGDB scan (S3, `ST_READ('…/*.gdbtable')`,
    ORNL-FEMA-Buildings.md:76-81): largest-member selection + binary
    .gdbtable decode + the EXCLUDE(Shape)-style attrs rollup. The
    `columns` projection reaches inside the decoder, so the geometry
    blobs are skipped, not decoded (the reference pays GDAL decode
    for every feature here). Oracle checks against the parquet twin."""
    from gis_etl_spark.fixtures import ensure_filegdb
    from gis_etl_spark.sources.filegdb import read_filegdb

    gdb_dir, _ = ensure_filegdb()
    df = read_filegdb(
        spark, gdb_dir, columns=["occ_cls", "height", "sqmeters"]
    )
    return (
        df.groupBy("occ_cls")
        .agg(
            F.count("*").alias("cnt"),
            fxavg("height").alias("avg_height"),
            fxsum("sqmeters").alias("total_sqm"),
        )
        .orderBy("occ_cls")
    )


def gdb_scan_oids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FileGDB OBJECTID audit: implicit-id reconstruction + string
    attribute decode (varuint-length UTF-8) against the twin — the
    per-feature identity the reference's OBJECTID column carries."""
    from gis_etl_spark.fixtures import ensure_filegdb
    from gis_etl_spark.sources.filegdb import read_filegdb

    gdb_dir, _ = ensure_filegdb()
    df = read_filegdb(spark, gdb_dir, columns=["OBJECTID", "prop_st"])
    return (
        df.groupBy("prop_st")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("OBJECTID").cast("bigint").alias("oid_sum"),
        )
        .orderBy("prop_st")
    )


def gpkg_heatmap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 GeoPackage export, REAL (sources/geopackage.py, stdlib
    sqlite3 — no GDAL): res-7 heatmap polygons → .gpkg with per-feature
    envelopes (WRITE_BBOX=YES parity, East-Asia-…md:263-273) →
    distributed rowid-range re-scan → audit aggregate. The oracle
    computes the same audit straight from the golden heatmap, so the
    write→read cycle must be lossless to hash-match."""
    import os as _os

    from gis_etl_spark.fixtures import FIXTURE_ROOT
    from gis_etl_spark.geom.functions import st_geomfromtext
    from gis_etl_spark.sources.geopackage import (
        read_geopackage,
        write_geopackage,
    )

    cells = P.heatmap_export(_read(spark), res=7)
    feat = cells.select(
        st_geomfromtext(F.col("boundary")).alias("geom"),
        F.col("cell"),
        F.col("num_recs"),
    )
    out_dir = _os.path.join(FIXTURE_ROOT, "gpkg_export")
    _os.makedirs(out_dir, exist_ok=True)
    path = _os.path.join(out_dir, "heatmap.gpkg")
    write_geopackage(
        feat, path, "heatmap", geometry_type="POLYGON", write_bbox=True
    )
    back = read_geopackage(spark, path, "heatmap", num_partitions=8)
    return back.agg(
        F.count("*").alias("n_cells"),
        F.sum("num_recs").cast("bigint").alias("total_recs"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"),
        # envelope sanity folds into the hash: every feature carries a
        # well-ordered bbox in WGS84
        F.sum(
            (
                (F.col("env_minx") <= F.col("env_maxx"))
                & (F.col("env_miny") <= F.col("env_maxy"))
                & (F.col("srs_id") == 4326)
            ).cast("long")
        ).alias("n_bbox_ok"),
    )


def layout_morton_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over engine centroids — JVM-native bit expressions
    (layout/sfc.py), oracle-checked: unlike the Hilbert loop, the
    bit-spread chain is expressible in ANSI SQL against the golden
    centroid table."""
    from gis_etl_spark.layout.sfc import morton_encode

    df = P.with_centroid(_read(spark).filter(F.col("geom").isNotNull()))
    return (
        df.select(
            "building_id",
            morton_encode(
                F.col("centroid").getField("y"),
                F.col("centroid").getField("x"),
            ).alias("mkey"),
        )
        .orderBy("building_id")
    )


def _morton_sql(y: str, x: str) -> str:
    scale = (1 << DEFAULT_ORDER) - 1
    def spread(v: str) -> str:
        s = f"least(greatest(floor(({v}) * {scale}.0)::BIGINT, 0), {scale})"
        s = f"(({s} | ({s} << 8)) & 16711935)"
        s = f"(({s} | ({s} << 4)) & 252645135)"
        s = f"(({s} | ({s} << 2)) & 858993459)"
        s = f"(({s} | ({s} << 1)) & 1431655765)"
        return s
    return f"((({spread(f'(({y}) + 90.0) / 180.0')}) << 1) | ({spread(f'(({x}) + 180.0) / 360.0')}))"


def oracle_sqls() -> dict[str, str]:
    from gis_etl_spark.geom.functions import haversine_m_sql as _hav_sql
    from gis_etl_spark.ops.joins import NEAR_RADIUS_DEG
    from gis_etl_spark.layout.geohex import (
        hex_cell_select_sql,
        hex_disk_sql,
        hex_export_select_sql,
        hex_parent_sql,
    )
    from gis_etl_spark.layout.sfc import grid_cell_boundary_wkt_sql

    from gis_etl_spark.fixtures import (
        ensure_buildings_edges,
        ensure_buildings_vertices,
    )

    bpath, epath = fixture_paths()
    gpath = ensure_buildings_edges(GEO_ROWS)
    vpath = ensure_buildings_vertices(GEO_ROWS)
    b5, e5 = ensure_buildings(5_000)  # the geojsonl corpus scale
    b = f"read_parquet('{bpath}')"
    e = f"read_parquet('{epath}')"
    g = f"read_parquet('{gpath}')"
    st_byte = "('0x' || substr(CAST(geom AS VARCHAR), 7, 2))::INT"
    cell = grid_cell_sql("e.cy", "e.cx", 7)
    hex_pts = hex_cell_select_sql(
        f"""(SELECT bb.building_id, e.cy, e.cx
             FROM {b} bb JOIN {e} e USING (building_id)
             WHERE bb.geom IS NOT NULL) src""",
        "building_id",
        "cy",
        "cx",
        7,
    )
    ndjson = ensure_shape_stats_ndjson()
    wkt_csv = ensure_wkt_csv()
    attrs = ensure_buildings_attrs()
    _, shp_twin = ensure_shapefiles()
    from gis_etl_spark.fixtures import ensure_filegdb

    _, gdb_twin = ensure_filegdb()
    return {
        "gdb_scan_attrs": f"""
            SELECT occ_cls, count(*) AS cnt,
                   (floor(CAST(sum(CAST(floor((height) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5) / 1e4) AS avg_height,
                   (floor(CAST(sum(CAST(floor((sqmeters) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 + 0.5) / 1e2) AS total_sqm
            FROM read_parquet('{gdb_twin}')
            GROUP BY occ_cls ORDER BY occ_cls
        """,
        "gdb_scan_oids": f"""
            SELECT prop_st, count(*) AS cnt,
                   sum(objectid)::BIGINT AS oid_sum
            FROM read_parquet('{gdb_twin}')
            GROUP BY prop_st ORDER BY prop_st
        """,
        # the .shp filename is derived from source exactly as the
        # fixture writer does (slashes→underscores, .pq stripped)
        "shp_scan_census": f"""
            SELECT replace(replace(source, '/', '_'), '.pq', '') || '.shp'
                     AS file,
                   esri_type AS shape_type,
                   count(*) AS cnt
            FROM read_parquet('{shp_twin}')
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "io_ndjson_shape_stats": f"""
            SELECT shape_type::INT AS shape_type,
                   sum(num_recs)::BIGINT AS total,
                   count(DISTINCT filename) AS n_files
            FROM read_json_auto('{ndjson}')
            GROUP BY 1 ORDER BY 1
        """,
        "io_geojsonl_scan": f"""
            SELECT source, count(*) AS n,
                   sum(building_id)::BIGINT AS id_sum,
                   {fxavg_sql('e.cx', nd=6, out=6)} AS avg_cx,
                   {fxavg_sql('e.cy', nd=6, out=6)} AS avg_cy
            FROM read_parquet('{b5}') bb
            JOIN read_parquet('{e5}') e USING (building_id)
            WHERE bb.geom IS NOT NULL
            GROUP BY source ORDER BY source
        """,
        "io_csv_wkt_scan": f"""
            SELECT split_part(wkt, ' ', 1) AS gtype, count(*) AS cnt
            FROM read_csv('{wkt_csv}', header=true)
            GROUP BY 1 ORDER BY 1
        """,
        "io_wide_attrs_projection": f"""
            SELECT occ_cls, count(*) AS cnt,
                   (floor(CAST(sum(CAST(floor((height) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5) / 1e4) AS avg_height,
                   (floor(CAST(sum(CAST(floor((sqmeters) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 + 0.5) / 1e2) AS total_sqm
            FROM read_parquet('{attrs}')
            GROUP BY occ_cls ORDER BY occ_cls
        """,
        "layout_morton_keys": f"""
            SELECT building_id, {_morton_sql('e.cy', 'e.cx')} AS mkey
            FROM {b} bb JOIN {e} e USING (building_id)
            WHERE bb.geom IS NOT NULL
            ORDER BY building_id
        """,
        "geo_total_count": f"SELECT count(*) AS cnt FROM {b}",
        "geo_distinct_sources": (
            f"SELECT count(DISTINCT source) AS n_sources FROM {b}"
        ),
        "geo_shape_type_census": f"""
            SELECT {st_byte} AS shape_type, source AS filename,
                   count(*) AS num_recs
            FROM {b} WHERE geom IS NOT NULL
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "geo_core_type_count": f"""
            SELECT count(*) AS cnt FROM {b}
            WHERE geom IS NOT NULL AND {st_byte} < 8
        """,
        "geo_source_counts": f"""
            SELECT source, count(*) AS cnt FROM {b}
            GROUP BY source ORDER BY cnt, source
        """,
        "geo_centroid_stats": f"""
            SELECT source, count(*) AS n,
                   (floor(CAST(sum(CAST(floor((e.cx) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5) / 1e6) AS avg_cx,
                   (floor(CAST(sum(CAST(floor((e.cy) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5) / 1e6) AS avg_cy
            FROM {b} bb JOIN {e} e USING (building_id)
            WHERE bb.geom IS NOT NULL
            GROUP BY source ORDER BY source
        """,
        "geo_spatial_clusters": f"""
            WITH RECURSIVE pts AS (
              SELECT e.building_id, e.cx, e.cy
              FROM {b} bb JOIN {e} e USING (building_id)
              WHERE bb.geom IS NOT NULL
                AND abs(e.cx) <= 180.0 AND abs(e.cy) <= 90.0
            ), p AS (
              SELECT a.building_id AS u, b.building_id AS v
              FROM pts a JOIN pts b
                ON a.building_id < b.building_id
               AND b.cx BETWEEN a.cx - {repr(NEAR_RADIUS_DEG)}
                            AND a.cx + {repr(NEAR_RADIUS_DEG)}
               AND b.cy BETWEEN a.cy - {repr(NEAR_RADIUS_DEG)}
                            AND a.cy + {repr(NEAR_RADIUS_DEG)}
               AND (b.cx - a.cx) * (b.cx - a.cx)
                 + (b.cy - a.cy) * (b.cy - a.cy)
                   <= {repr(NEAR_RADIUS_DEG)} * {repr(NEAR_RADIUS_DEG)}
            ), ed AS (
              SELECT u, v FROM p UNION ALL SELECT v, u FROM p
            ), reach(u, v) AS (
              SELECT u, v FROM ed
              UNION
              SELECT r.u, ed.v FROM reach r JOIN ed ON ed.u = r.v
            ), comp AS (
              SELECT u AS building_id, least(u, min(v)) AS component
              FROM reach GROUP BY u
            )
            SELECT component, count(*)::BIGINT AS n_members,
                   sum(building_id)::BIGINT AS id_sum
            FROM comp GROUP BY component ORDER BY component
        """,
        "geo_haversine_span": f"""
            WITH box AS (
              SELECT source, count(*) AS n,
                     min(e.cx) AS x0, min(e.cy) AS y0,
                     max(e.cx) AS x1, max(e.cy) AS y1
              FROM {b} bb JOIN {e} e USING (building_id)
              WHERE bb.geom IS NOT NULL
                AND abs(e.cx) <= 180.0 AND abs(e.cy) <= 90.0
              GROUP BY source
            )
            SELECT source, n,
                   CAST(floor({_hav_sql('x0', 'y0', 'x1', 'y1')}) AS BIGINT)
                     AS span_m
            FROM box ORDER BY source
        """,
        "geo_area_stats": f"""
            SELECT source, count(*) AS n,
                   {fxsum_sql('e.area', nd=6, out=6)} AS total_area,
                   {fxsum_sql('e.perim', nd=6, out=6)} AS total_perim
            FROM {b} bb JOIN {e} e USING (building_id)
            WHERE bb.geom IS NOT NULL
            GROUP BY source ORDER BY source
        """,
        "geo_tile_census": _tile_census_sql(b, e),
        "geo_hilbert_keys": _hilbert_keys_sql(b, e),
        "geo_convert_bbox": _convert_bbox_sql(b, e, g),
        "geo_simplify_stats": _simplify_stats_sql(
            b, f"read_parquet('{vpath}')"
        ),
        "points_in_polygons": _pip_sql(b, e, g),
        "geo_centroid_containment": _centroid_containment_sql(b, e, g),
        "geo_geohash_census": _geohash_census_sql(b, e),
        "geo_global_bbox": f"""
            SELECT round(min(e.xmin), 6) AS xmin,
                   round(min(e.ymin), 6) AS ymin,
                   round(max(e.xmax), 6) AS xmax,
                   round(max(e.ymax), 6) AS ymax
            FROM {b} bb JOIN {e} e USING (building_id)
            WHERE bb.geom IS NOT NULL
        """,
        "geo_flip_sources": f"""
            SELECT source, round(min(e.cx), 6) AS min_x,
                   min(e.cx) < 60.0 AS needs_flip
            FROM {b} bb JOIN {e} e USING (building_id)
            WHERE bb.geom IS NOT NULL
            GROUP BY source ORDER BY source
        """,
        "geo_heatmap": f"""
            SELECT {cell} AS cell, count(*) AS num_recs
            FROM {b} bb JOIN {e} e USING (building_id)
            WHERE bb.geom IS NOT NULL
            GROUP BY 1 ORDER BY 1
        """,
        "geo_heatmap_export": f"""
            WITH fine AS (
              SELECT {cell} AS cell, count(*)::INT AS num_recs
              FROM {b} bb JOIN {e} e USING (building_id)
              WHERE bb.geom IS NOT NULL
                AND e.cx < 175.0 AND e.cx > -175.0  -- antimeridian guard
              GROUP BY 1
            )
            SELECT cell, num_recs,
                   {grid_cell_boundary_wkt_sql('cell')} AS boundary
            FROM fine ORDER BY cell
        """,
        "hex_heatmap_export": hex_export_select_sql(
            f"SELECT cell, count(*) AS num_recs FROM ({hex_pts}) hp "
            "GROUP BY 1",
            7,
        ),
        "hex_heatmap": f"""
            SELECT cell, count(*) AS num_recs
            FROM ({hex_pts}) hp
            GROUP BY 1 ORDER BY 1
        """,
        "hex_heatmap_pyramid": f"""
            WITH fine AS (
              SELECT cell, count(*) AS num_recs
              FROM ({hex_pts}) hp GROUP BY 1
            )
            SELECT {hex_parent_sql('cell', 7, 5)} AS parent_cell,
                   sum(num_recs)::BIGINT AS num_recs
            FROM fine GROUP BY 1 ORDER BY 1
        """,
        "hex_heatmap_smoothed": f"""
            WITH fine AS (
              SELECT cell, count(*) AS num_recs
              FROM ({hex_pts}) hp GROUP BY 1
            ), nbrs AS (
              SELECT f.cell, unnest({hex_disk_sql('f.cell')}) AS nbr
              FROM fine f
            )
            SELECT n.cell, sum(f2.num_recs)::BIGINT AS focal_recs
            FROM nbrs n JOIN fine f2 ON f2.cell = n.nbr
            GROUP BY 1 ORDER BY 1
        """,
        "gpkg_heatmap_roundtrip": f"""
            WITH fine AS (
              SELECT {cell} AS cell, count(*) AS num_recs
              FROM {b} bb JOIN {e} e USING (building_id)
              WHERE bb.geom IS NOT NULL
                AND e.cx < 175.0 AND e.cx > -175.0  -- antimeridian guard
              GROUP BY 1
            )
            SELECT count(*) AS n_cells,
                   sum(num_recs)::BIGINT AS total_recs,
                   min(cell) AS min_cell,
                   max(cell) AS max_cell,
                   count(*)::BIGINT AS n_bbox_ok
            FROM fine
        """,
        "geo_heatmap_pyramid": f"""
            WITH fine AS (
              SELECT {cell} AS cell, count(*) AS num_recs
              FROM {b} bb JOIN {e} e USING (building_id)
              WHERE bb.geom IS NOT NULL GROUP BY 1
            )
            SELECT {grid_parent_sql('cell', 5)} AS parent_cell,
                   sum(num_recs)::BIGINT AS num_recs
            FROM fine GROUP BY 1 ORDER BY 1
        """,
        # flip decision is per-SOURCE (min centroid x < 60), matching
        # detect_flip_sources; the bbox then aggregates core-typed rows
        # with flipped sources' x/y extents swapped.
        "geo_normalized_bbox": f"""
            WITH flags AS (
              SELECT source, min(e.cx) < 60.0 AS needs_flip
              FROM {b} bb JOIN {e} e USING (building_id)
              WHERE bb.geom IS NOT NULL GROUP BY source
            )
            SELECT
              round(min(CASE WHEN f.needs_flip THEN e.ymin ELSE e.xmin END), 6) AS xmin,
              round(min(CASE WHEN f.needs_flip THEN e.xmin ELSE e.ymin END), 6) AS ymin,
              round(max(CASE WHEN f.needs_flip THEN e.ymax ELSE e.xmax END), 6) AS xmax,
              round(max(CASE WHEN f.needs_flip THEN e.xmax ELSE e.ymax END), 6) AS ymax
            FROM {b} bb JOIN {e} e USING (building_id)
            JOIN flags f ON bb.source = f.source
            WHERE bb.geom IS NOT NULL AND {st_byte} < 8
        """,
    }
