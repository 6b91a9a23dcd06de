package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Geometric-type slice (reference `src/backend/utils/adt/geo_ops.c`):
  * the operator semantics the reference's point/box/circle types carry —
  * `box @> point` containment (box_contain_pt), `point <-> point`
  * distance (point_dt), `circle && circle` overlap (circle_overlap) —
  * re-expressed as plain arithmetic over deterministic synthetic
  * coordinates derived from the TPC-H keys, identically in both engines.
  * SURVEY §1.3 scoped geo/network/money/bit to "as far as tests demand";
  * with Network.scala (inet) and Bits.scala (varbit) this closes the
  * demanded surface.
  *
  * Scale shapes:
  *  - g01/g02 broadcast the tiny geometry dim (25 boxes / 5 anchors) and
  *    stream the point corpus once — the only plan that survives 100 TB.
  *  - g02 ranks with the bounded TopKPairs aggregate (k×16 bytes per
  *    group across the shuffle), not a window over corpus×anchors rows.
  *  - g03's candidate pairs form only within a spatial grid cell
  *    (equi-join key, circles replicated to the ≤4 cells their bbox
  *    touches), never all-pairs — the standard partitioned spatial
  *    join; the cell size just shrinks as density grows.
  */
object Geo {

  /** customer → deterministic 2-D point grid, integer coordinates. */
  private def points(s: SparkSession, dir: String): DataFrame =
    Tables.df(s, dir, "customer").select(
      col("c_custkey"),
      expr("(c_custkey * 17) % 1000").as("px"),
      expr("(c_custkey * 31) % 1000").as("py"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // box @> point: 25 nation boxes (150×150 on a 200-step grid, so
    // neighbors overlap) contain customer points; per-box population +
    // mean distance to the box center (point_dt against the centroid).
    "g01_point_in_box" -> { (s, dir) =>
      val boxes = Tables.df(s, dir, "nation").select(
        col("n_name"),
        expr("(n_nationkey % 5) * 200").as("x0"),
        expr("CAST(floor(n_nationkey / 5) AS BIGINT) * 200").as("y0"))
        .withColumn("x1", col("x0") + 150)
        .withColumn("y1", col("y0") + 150)
      points(s, dir)
        .join(broadcast(boxes),
          col("px") >= col("x0") && col("px") <= col("x1") &&
          col("py") >= col("y0") && col("py") <= col("y1"))
        .withColumn("cdist", expr(
          "sqrt(pow(px - (x0 + 75), 2) + pow(py - (y0 + 75), 2))"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_pts"),
          round(avg(col("cdist")), 4).as("avg_center_dist"))
        .orderBy(col("n_name"))
    },

    // point <-> point k-NN: for each of the 5 region anchor points, the
    // 3 nearest customer points. Distance is rounded BEFORE ranking (so
    // both engines rank identical keys); ties break on c_custkey via the
    // aggregator's (score DESC, id ASC) order = (dist ASC, id ASC).
    "g02_anchor_knn" -> { (s, dir) =>
      val anchors = Tables.df(s, dir, "region").select(
        col("r_name"),
        expr("(r_regionkey * 173) % 1000").as("ax"),
        expr("(r_regionkey * 389) % 1000").as("ay"))
      points(s, dir)
        .crossJoin(broadcast(anchors))
        .withColumn("dist_r", expr(
          "round(sqrt(pow(px - ax, 2) + pow(py - ay, 2)), 4)"))
        .groupBy(col("r_name"))
        .agg(expr("top3_pairs(-dist_r, c_custkey)").as("top"))
        .select(col("r_name"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("r_name"), (col("pos") + 1).cast("long").as("rnk"),
          col("p._2").as("c_custkey"), round(-col("p._1"), 4).as("dist"))
        .orderBy(col("r_name"), col("rnk"))
    },

    // circle && circle via a spatial grid-cell join (the scale shape for
    // geometric overlap joins): each circle replicates to every 200×200
    // cell its bounding box touches (≤4, since diameter ≤ 98 < cell),
    // candidate pairs form ONLY within a cell (equi-join key), and the
    // exact predicate — center distance² ≤ (r1+r2)², integer arithmetic,
    // no sqrt (geo_ops.c circle_overlap) — verifies. Exact: intersecting
    // circles have intersecting bboxes, which always share a cell, and
    // the pair DISTINCT collapses multi-cell duplicates. The DuckDB
    // oracle runs the naive quadratic join — same pairs, which is the
    // point: grid bucketing is a pure-performance rewrite.
    "g03_circle_overlap" -> { (s, dir) =>
      val circles = Tables.df(s, dir, "supplier").select(
        col("s_suppkey"),
        expr("(s_suppkey * 23) % 500").as("cx"),
        expr("(s_suppkey * 41) % 500").as("cy"),
        expr("25 + s_suppkey % 25").as("r"))
      val celled = circles
        .withColumn("gx", explode(expr(
          "sequence(CAST(floor((cx - r) / 200.0) AS BIGINT), CAST(floor((cx + r) / 200.0) AS BIGINT))")))
        .withColumn("gy", explode(expr(
          "sequence(CAST(floor((cy - r) / 200.0) AS BIGINT), CAST(floor((cy + r) / 200.0) AS BIGINT))")))
        .withColumn("cell", expr("gx * 1000 + gy"))
      val a = celled.select(col("cell"), col("s_suppkey").as("a_key"),
        col("cx").as("ax"), col("cy").as("ay"), col("r").as("ar"))
      val b = celled.select(col("cell"), col("s_suppkey").as("b_key"),
        col("cx").as("bx"), col("cy").as("by"), col("r").as("br"))
      a.join(b, Seq("cell"))
        .filter(col("a_key") < col("b_key"))
        .filter(expr("pow(ax - bx, 2) + pow(ay - by, 2) <= pow(ar + br, 2)"))
        .select(col("a_key"), col("b_key"),
          expr("round(ar + br - sqrt(pow(ax - bx, 2) + pow(ay - by, 2)), 4)").as("depth"))
        .distinct()
        .orderBy(col("a_key"), col("b_key"))
    },

    // earth_distance(ll_to_earth(a), ll_to_earth(b)) — contrib/
    // earthdistance/earthdistance.c: great-circle distance from the 3-D
    // chord (sec_to_gc: 2R·asin(chord/2R)), algebraically the haversine
    // below. Customers on a deterministic lat/lon grid; one fixed probe
    // point; per-nation rollup of min/max great-circle km + a radius
    // predicate (the earth_box workload). Per-row trig stays in one
    // WholeStageCodegen span; the rollup is a plain partial-agg — at
    // 100 TB the probe broadcast + map-side combine is the whole plan.
    "g04_earth_distance" -> { (s, dir) =>
      val nation = Tables.df(s, dir, "nation")
      Tables.df(s, dir, "customer")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .withColumn("lat", expr("(c_custkey * 7 % 1200) / 10.0 - 60.0"))
        .withColumn("lon", expr("(c_custkey * 13 % 3600) / 10.0 - 180.0"))
        .withColumn("km", expr(
          """2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(lat - 48.9) / 2), 2) +
               cos(radians(lat)) * cos(radians(48.9)) *
               pow(sin(radians(lon - 2.3) / 2), 2)))"""))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(min(col("km")), 1).as("min_km"),
          round(max(col("km")), 1).as("max_km"),
          sum(expr("CASE WHEN km < 5000 THEN 1 ELSE 0 END")).cast("bigint")
            .as("n_within_5000"))
        .orderBy(col("n_name"))
    },

    // -- g05: polygon @> point — geo_ops.c point_inside(): the even-odd
    //    ray-casting rule over a fixed NON-convex 7-vertex polygon
    //    (vertices (137k mod 1000, 251k mod 1000) in key order — the
    //    edges cross, which is exactly what even-odd handles and a
    //    convex half-plane test would get wrong). The crossing test for
    //    every edge is generated ONCE in Scala and interpolated into
    //    both engines verbatim, all per-row codegen'd arithmetic; the
    //    corpus streams, nothing shuffles but the per-nation rollup --
    "g05_point_in_polygon" -> { (s, dir) =>
      Tables.df(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          expr("(c_custkey * 17) % 1000").as("px"),
          expr("(c_custkey * 31) % 1000").as("py"))
        .withColumn("inside", expr(s"(${crossingSum}) % 2 = 1"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_pts"),
          sum(col("inside").cast("long")).as("n_inside"))
        .orderBy(col("c_nationkey"))
    },

    // -- g06: polygon METRICS — geo_ops.c poly_area (the shoelace /
    //    surveyor's formula, signed by winding order), path_length
    //    (perimeter as Σ segment lengths), and the vertex centroid.
    //    One 5-vertex polygon per nation from deterministic integer
    //    vertices; the shoelace cross-products are EXACT BIGINTs (the
    //    only doubles are the final divisions and the per-edge sqrt,
    //    identical IEEE in both engines). Pure per-row HOF arithmetic
    //    over a 25-row dim — at scale this is a map stage over
    //    however many polygons the catalog holds --
    "g06_polygon_metrics" -> { (s, dir) =>
      Tables.df(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"),
          expr("""transform(sequence(0, 4),
                    i -> struct(CAST((n_nationkey * 7 + i * 13) % 100 AS BIGINT) AS x,
                                CAST((n_nationkey * 11 + i * 17) % 100 AS BIGINT) AS y))""")
            .as("vs"))
        .withColumn("shoelace2", expr(
          """aggregate(sequence(0, 4), 0L, (a, i) ->
               a + vs[i].x * vs[(i + 1) % 5].y - vs[(i + 1) % 5].x * vs[i].y)"""))
        // per-edge lengths quantized to micro-units BEFORE summing: the
        // 5-term Σ is then BIGINT-exact in any evaluation order (both
        // engines' list-fold orders stop mattering)
        .withColumn("perim_u", expr(
          """aggregate(sequence(0, 4), 0L, (a, i) ->
               a + CAST(round(sqrt(CAST(pow(vs[(i + 1) % 5].x - vs[i].x, 2)
                           + pow(vs[(i + 1) % 5].y - vs[i].y, 2) AS DOUBLE)) * 1000000)
                   AS BIGINT))"""))
        .select(col("n_nationkey"), col("n_name"),
          round(abs(col("shoelace2")).cast("double") / 2.0, 6).as("area"),
          round(col("perim_u").cast("double") / 1000000.0, 6).as("perimeter"),
          round(expr("aggregate(vs, 0L, (a, v) -> a + v.x)").cast("double") / 5.0, 6)
            .as("cx"),
          round(expr("aggregate(vs, 0L, (a, v) -> a + v.y)").cast("double") / 5.0, 6)
            .as("cy"))
        .orderBy(col("n_nationkey"))
    },

    // -- g07: lseg depth — dist_ps closest-point distances + proper
    //    lseg_interpt intersections (shared SQL text; see g07Sql) --
    "g07_lseg_ops" -> { (s, dir) =>
      graft.Tables.register(s, dir)
      s.sql(g07Sql)
    }
  )

  /** g07's SQL text, shared VERBATIM by both engines — geo_ops.c's line
    * segment depth: `dist_ps` (point-to-segment distance through
    * close_ps's clamped projection: t = ((p−a)·(b−a))/|b−a|² clipped to
    * [0,1], closest point a + t(b−a)) and `lseg_interpt` (proper segment
    * intersection via the parametric 2×2 solve). Everything before the
    * final interpolation is EXACT BIGINT arithmetic: the projection's
    * numerator/denominator are integer dot products (one IEEE division
    * makes t), and the intersection test never divides at all — t,u ∈
    * [0,1] is decided by sign-aware integer BETWEEN against the
    * determinant, so the hit SET is exact and only the reported
    * coordinates are (identically-rounded) doubles. Per-point distances
    * quantize to micro-units before summing, the order-free Σ
    * discipline. Scale shape: the 25-row segment dim broadcasts and the
    * point corpus streams once; the segment-segment solve is dim×dim. */
  private val g07Sql: String = """
      WITH pts AS (
        SELECT c_custkey, (c_custkey * 17) % 1000 AS px, (c_custkey * 31) % 1000 AS py
        FROM customer),
      segs AS (
        SELECT n_nationkey AS seg_id,
          (n_nationkey % 5) * 200 AS ax, ((n_nationkey * 7) % 5) * 200 AS ay,
          ((n_nationkey + 2) % 5) * 200 + 150 AS bx, ((n_nationkey * 3 + 1) % 5) * 200 + 150 AS byy
        FROM nation),
      proj AS (
        SELECT s.seg_id,
          p.px, p.py, s.ax, s.ay, s.bx, s.byy,
          least(greatest(
            CAST((p.px - s.ax) * (s.bx - s.ax) + (p.py - s.ay) * (s.byy - s.ay) AS DOUBLE)
              / ((s.bx - s.ax) * (s.bx - s.ax) + (s.byy - s.ay) * (s.byy - s.ay)),
            0.0), 1.0) AS t
        FROM pts p CROSS JOIN segs s),
      dists AS (
        SELECT seg_id,
          sqrt((px - (ax + t * (bx - ax))) * (px - (ax + t * (bx - ax)))
             + (py - (ay + t * (byy - ay))) * (py - (ay + t * (byy - ay)))) AS dp
        FROM proj),
      near AS (
        SELECT seg_id, count(*) AS n_pts,
          CAST(sum(CASE WHEN dp <= 120.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
          round(min(dp), 6) AS min_dist,
          CAST(sum(CAST(round(dp * 1000000) AS BIGINT)) AS BIGINT) AS dist_micro_sum
        FROM dists GROUP BY seg_id),
      pairs AS (
        SELECT s1.seg_id,
          s1.ax, s1.ay, (s1.bx - s1.ax) AS d1x, (s1.byy - s1.ay) AS d1y,
          (s2.ax - s1.ax) * (s2.byy - s2.ay) - (s2.ay - s1.ay) * (s2.bx - s2.ax) AS tn,
          (s2.ax - s1.ax) * (s1.byy - s1.ay) - (s2.ay - s1.ay) * (s1.bx - s1.ax) AS un,
          (s1.bx - s1.ax) * (s2.byy - s2.ay) - (s1.byy - s1.ay) * (s2.bx - s2.ax) AS dn
        FROM segs s1 CROSS JOIN segs s2
        WHERE s1.seg_id <> s2.seg_id),
      hits AS (
        SELECT seg_id,
          ax + (CAST(tn AS DOUBLE) / dn) * d1x AS ix,
          ay + (CAST(tn AS DOUBLE) / dn) * d1y AS iy
        FROM pairs
        WHERE (dn > 0 AND tn BETWEEN 0 AND dn AND un BETWEEN 0 AND dn)
           OR (dn < 0 AND tn BETWEEN dn AND 0 AND un BETWEEN dn AND 0)),
      x AS (
        SELECT seg_id, count(*) AS n_crossings,
          CAST(sum(CAST(round(ix * 1000000) AS BIGINT)
                 + CAST(round(iy * 1000000) AS BIGINT)) AS BIGINT) AS interpt_micro_sum
        FROM hits GROUP BY seg_id)
      SELECT n.seg_id, n.n_pts, n.n_near, n.min_dist, n.dist_micro_sum,
        CAST(coalesce(x.n_crossings, 0) AS BIGINT) AS n_crossings,
        CAST(coalesce(x.interpt_micro_sum, 0) AS BIGINT) AS interpt_micro_sum
      FROM near n LEFT JOIN x ON n.seg_id = x.seg_id
      ORDER BY n.seg_id"""

  /** Even-odd crossing count for the fixed 7-gon, as SQL text shared by
    * both engines (px/py are the point columns). An edge (xi,yi)-(xj,yj)
    * crosses the rightward ray from (px,py) iff the edge spans py
    * strictly-above/not-above AND the intersection x exceeds px. */
  private val crossingSum: String = {
    val verts = (0 until 7).map(k => ((k * 137) % 1000, (k * 251) % 1000))
    verts.zip(verts.tail :+ verts.head).map { case ((xi, yi), (xj, yj)) =>
      s"""(CASE WHEN (($yi > py) <> ($yj > py)) AND
         (CAST(px AS DOUBLE) < CAST(${xj - xi} AS DOUBLE) * CAST(py - $yi AS DOUBLE)
            / CAST(${yj - yi} AS DOUBLE) + $xi) THEN 1 ELSE 0 END)"""
    }.mkString(" + ")
  }

  def oracle: Map[String, String] = Map(
    "g07_lseg_ops" -> g07Sql,

    "g05_point_in_polygon" -> s"""
      WITH pts AS (
        SELECT c_custkey, c_nationkey,
          (c_custkey * 17) % 1000 AS px,
          (c_custkey * 31) % 1000 AS py
        FROM customer)
      SELECT c_nationkey, count(*) AS n_pts,
        CAST(sum(CASE WHEN ($crossingSum) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_inside
      FROM pts GROUP BY c_nationkey ORDER BY c_nationkey""",
    "g01_point_in_box" -> """
      WITH pts AS (
        SELECT c_custkey, (c_custkey * 17) % 1000 AS px, (c_custkey * 31) % 1000 AS py
        FROM customer),
      boxes AS (
        SELECT n_name, (n_nationkey % 5) * 200 AS x0,
               CAST(floor(n_nationkey / 5) AS BIGINT) * 200 AS y0
        FROM nation)
      SELECT n_name, count(*) AS n_pts,
             round(avg(sqrt(pow(px - (x0 + 75), 2) + pow(py - (y0 + 75), 2))), 4) AS avg_center_dist
      FROM pts, boxes
      WHERE px BETWEEN x0 AND x0 + 150 AND py BETWEEN y0 AND y0 + 150
      GROUP BY n_name
      ORDER BY n_name""",

    "g02_anchor_knn" -> """
      WITH pts AS (
        SELECT c_custkey, (c_custkey * 17) % 1000 AS px, (c_custkey * 31) % 1000 AS py
        FROM customer),
      anchors AS (
        SELECT r_name, (r_regionkey * 173) % 1000 AS ax, (r_regionkey * 389) % 1000 AS ay
        FROM region),
      d AS (
        SELECT r_name, c_custkey,
               round(sqrt(pow(px - ax, 2) + pow(py - ay, 2)), 4) AS dist_r,
               row_number() OVER (PARTITION BY r_name
                 ORDER BY round(sqrt(pow(px - ax, 2) + pow(py - ay, 2)), 4), c_custkey) AS rnk
        FROM pts, anchors)
      SELECT r_name, rnk, c_custkey, dist_r AS dist
      FROM d WHERE rnk <= 3
      ORDER BY r_name, rnk""",

    "g03_circle_overlap" -> """
      WITH c AS (
        SELECT s_suppkey, (s_suppkey * 23) % 500 AS cx,
               (s_suppkey * 41) % 500 AS cy, 25 + s_suppkey % 25 AS r
        FROM supplier)
      SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
             round(a.r + b.r - sqrt(pow(a.cx - b.cx, 2) + pow(a.cy - b.cy, 2)), 4) AS depth
      FROM c a JOIN c b ON a.s_suppkey < b.s_suppkey
      WHERE pow(a.cx - b.cx, 2) + pow(a.cy - b.cy, 2) <= pow(a.r + b.r, 2)
      ORDER BY a_key, b_key""",

    "g04_earth_distance" -> """
      WITH pts AS (
        SELECT n_name,
               (c_custkey * 7 % 1200) / 10.0 - 60.0 AS lat,
               (c_custkey * 13 % 3600) / 10.0 - 180.0 AS lon
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      d AS (
        SELECT n_name,
               2 * 6371.0088 * asin(sqrt(
                 pow(sin(radians(lat - 48.9) / 2), 2) +
                 cos(radians(lat)) * cos(radians(48.9)) *
                 pow(sin(radians(lon - 2.3) / 2), 2))) AS km
        FROM pts)
      SELECT n_name, count(*) AS n_cust,
        round(min(km), 1) AS min_km,
        round(max(km), 1) AS max_km,
        CAST(sum(CASE WHEN km < 5000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_within_5000
      FROM d GROUP BY n_name ORDER BY n_name""",

    "g06_polygon_metrics" -> """
      WITH poly AS (
        SELECT n_nationkey, n_name,
          list_transform(generate_series(0, 4),
            i -> {'x': CAST((n_nationkey * 7 + i * 13) % 100 AS BIGINT),
                  'y': CAST((n_nationkey * 11 + i * 17) % 100 AS BIGINT)}) AS vs
        FROM nation),
      m AS (
        SELECT n_nationkey, n_name, vs,
          list_sum(list_transform(generate_series(0, 4), i ->
            vs[CAST(i + 1 AS INT)].x * vs[CAST((i + 1) % 5 + 1 AS INT)].y
          - vs[CAST((i + 1) % 5 + 1 AS INT)].x * vs[CAST(i + 1 AS INT)].y))
            AS shoelace2,
          CAST(list_sum(list_transform(generate_series(0, 4), i ->
            CAST(round(sqrt(CAST(pow(vs[CAST((i + 1) % 5 + 1 AS INT)].x - vs[CAST(i + 1 AS INT)].x, 2)
                    + pow(vs[CAST((i + 1) % 5 + 1 AS INT)].y - vs[CAST(i + 1 AS INT)].y, 2)
                 AS DOUBLE)) * 1000000) AS BIGINT))) AS BIGINT) AS perim_u
        FROM poly)
      SELECT n_nationkey, n_name,
        round(CAST(abs(shoelace2) AS DOUBLE) / 2.0, 6) AS area,
        round(CAST(perim_u AS DOUBLE) / 1000000.0, 6) AS perimeter,
        round(CAST(list_sum(list_transform(vs, v -> v.x)) AS DOUBLE) / 5.0, 6) AS cx,
        round(CAST(list_sum(list_transform(vs, v -> v.y)) AS DOUBLE) / 5.0, 6) AS cy
      FROM m ORDER BY n_nationkey"""
  )
}
