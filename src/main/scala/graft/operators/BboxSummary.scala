package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.Scalars._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheScope.TrackedDataset

/** The reference's `api_transform` + geocode-enrichment pipeline
  * (dags/etl_crash_traffic.py:363-495), re-expressed Spark-first: raw
  * tagged nodes → category filter → per-category normalization → three
  * group-counts → union-all → fixed-value pivot → broadcast geocode join →
  * the 21-column per-bbox summary contract (:477-487).
  *
  * Mapped onto test data: events plays the raw OSM node table (bbox from
  * binned coordinates, category from event_type, tag values derived
  * deterministically from props.k); the Nominatim geocode service (S7) is
  * modeled as a static broadcast lookup built from nation/region, exactly
  * as SURVEY §2.1 commits.
  *
  * Scale: one shuffle for the union-of-groupBys, one for the pivot
  * (fixed value list → static schema, no distinct-collection job); the
  * geocode join is broadcast. The 36-bbox output is dimension-sized at any
  * input scale.
  */
object BboxSummary extends QueryModule {

  /** category ← event_type (the reference's 4-category whitelist filter,
    * P4; dags/etl_crash_traffic.py:431).
    */
  private val categoryMap: Column = {
    val et = col("event_type")
    when(et === "signup", "school")
      .when(et === "purchase", "hospital")
      .when(et === "click", "traffic_signals")
      .when(et === "view", "crossing")
      .otherwise("other")
  }

  /** Deterministic raw tag value from props.k — exercises every normalizer
    * branch (whitelist hit, semicolon, garbage → unknown).
    */
  private def rawTag(values: Seq[String]): Column = {
    val k = parsePyDict(col("props")).getItem("k").cast("int")
    val branches = values.zipWithIndex.map { case (v, i) => (i, v) }
    branches.tail.foldLeft(when(pmod(k, lit(10)) === branches.head._1, branches.head._2)) {
      case (acc, (i, v)) => acc.when(pmod(k, lit(10)) === i, v)
    }.otherwise("garbage")
  }

  private val signalRawValues =
    Seq("signal", " TRAFFIC_lights ", "bridge", "emergency", "level_crossing",
      "pedestrian_crossing", "ramp_meter")
  private val crossingRawValues =
    Seq("marked;unmarked", "Zebra", "marked", "unmarked", "uncontrolled",
      "pelican", "puffin")

  /** The pivot's fixed 16 count columns (the reference's declared contract,
    * dags/etl_crash_traffic.py:477-487 — static schema, missing → 0).
    */
  val countColumns: Seq[String] =
    Seq("category_hospital", "category_school") ++
      Seq("combinations", "marked", "uncontrolled", "unknown", "unmarked", "zebra")
        .map("crossing_" + _) ++
      Seq("bridge", "emergency", "level_crossing", "pedestrian_crossing",
        "ramp_meter", "signal", "traffic_lights", "unknown")
        .map("traffic_signals_" + _)

  /** Raw "OSM node" table derived from events (S6: the REST source modeled
    * as a static table).
    */
  def rawNodes(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      bboxLabel(geoBin(col("value") / 100.0), geoBin(col("user_id").cast("double") / 10.0))
        .as("bbox_label"),
      geoBin(col("value") / 100.0).as("lat_bin"),
      categoryMap.as("category"),
      rawTag(signalRawValues).as("signal_raw"),
      rawTag(crossingRawValues).as("crossing_raw"))

  /** S7 — the geocode lookup: one row per bbox, city/county/state from a
    * broadcast nation/region join on a key derived from the bbox latitude
    * (stands in for the Nominatim reverse-geocode table; unknown fallback
    * per P7/P16).
    */
  def geocodeLookup(s: SparkSession, d: String, bboxes: DataFrame): DataFrame = {
    val nations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
    bboxes
      .withColumn("nkey", pmod(abs(col("lat_bin") * 2).cast("int"), lit(25)))
      .join(broadcast(nations), col("nkey") === col("n_nationkey"), "left")
      .select(col("bbox_label"),
        coalesce(col("n_name"), lit("unknown")).as("city"),
        coalesce(concat(col("n_name"), lit("_county")), lit("unknown")).as("county"),
        coalesce(col("r_name"), lit("unknown")).as("state"),
        lit("00000").as("postcode"))
  }

  /** The full 21-column per-bbox summary (flagship composition of
    * P4+P11+P12+A1+U1+A2+P2+P3+S7).
    */
  def summary(s: SparkSession, d: String): DataFrame = {
    val nodes = rawNodes(s, d)
      .filter(col("category").isin("school", "hospital", "traffic_signals", "crossing"))

    // three group-counts, labels flattened to group_value (P3 rename shape)
    val sh = nodes.filter(col("category").isin("school", "hospital"))
      .groupBy(col("bbox_label"), concat(lit("category_"), col("category")).as("gv"))
      .agg(count(lit(1)).as("cnt"))
    val ts = nodes.filter(col("category") === "traffic_signals")
      .groupBy(col("bbox_label"),
        concat(lit("traffic_signals_"), mapTrafficSignal(col("signal_raw"))).as("gv"))
      .agg(count(lit(1)).as("cnt"))
    val cr = nodes.filter(col("category") === "crossing")
      .groupBy(col("bbox_label"),
        concat(lit("crossing_"), mapCrossing(col("crossing_raw"))).as("gv"))
      .agg(count(lit(1)).as("cnt"))

    // U1 union-all → A2 fixed-value pivot (static schema, fill 0)
    val pivoted = sh.unionByName(ts).unionByName(cr)
      .groupBy("bbox_label")
      .pivot("gv", countColumns)
      .agg(sum(col("cnt")))
      .na.fill(0L, countColumns)

    // S7 geocode enrichment via broadcast join, then the declared column
    // order (P2 reorder, dags/etl_crash_traffic.py:488-490)
    val bboxes = rawNodes(s, d).select("bbox_label", "lat_bin").distinct()
    val geo = geocodeLookup(s, d, bboxes)
    pivoted.join(broadcast(geo), Seq("bbox_label"), "left")
      .select(("bbox_label" +: countColumns :+ "city" :+ "county" :+ "state" :+ "postcode")
        .map(col): _*)
  }

  /** Bin-bucketed nearest-neighbor join in the integer coordinate plane:
    * each crossing (view event) finds its nearest hospital (purchase
    * event) among the 3×3 neighboring grid cells — the standard bounded-
    * radius spatial-NN shape (candidates via equi-join on cell ids, never
    * all-pairs; a 1000-executor run shuffles on cell ids with per-cell
    * density bounded by the grid pitch). Coordinates are exact integer
    * micro-units, distances exact integer squares; per-point argmin
    * breaks ties to the smallest neighbor id via a two-step min (min
    * distance, then min id at that distance), so the result is fully
    * deterministic. Crossings with an empty 3×3 neighborhood surface
    * with NULLs (the bounded-radius contract), not dropped.
    *
    * The argmin is ONE lexicographic `min(struct(d2, rid))` aggregation
    * (struct ordering = min distance, then min id at that distance —
    * identical to the two-step min), so the candidate join is computed
    * once; the original min-then-join-back shape computed the full
    * candidate set twice and benched 24 s at sf0.1 vs ~8 s for this.
    */
  def nearestHospital(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    def pts(et: String) = events
      .filter(col("event_type") === et && col("value").isNotNull)
      .select(col("event_id").as("id"),
        round(col("value") * 1000, 0).cast("long").as("la"),
        col("user_id").cast("long").as("ln"))
    val left = pts("view")
    val right = pts("purchase")
      .select(col("id").as("rid"), col("la").as("rla"), col("ln").as("rln"))
      .withColumn("bx", expr("rla div 20000"))
      .withColumn("by", expr("rln div 100"))
    val offs = (-1 to 1).flatMap(dx => (-1 to 1).map(dy => (dx, dy)))
    val lb = left
      .withColumn("o", explode(array(offs.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
      .select(col("id"), col("la"), col("ln"),
        (expr("la div 20000") + col("o.dx")).as("bx"),
        (expr("ln div 100") + col("o.dy")).as("by"))
    // The argmin key (d2, rid) packs into ONE BIGINT: d2 is
    // NEIGHBORHOOD-bounded by the grid pitch (≤ (2·20000)² + (2·100)²
    // < 2³¹), so d2·2³⁰ + rid preserves lexicographic order inside int64
    // for any rid < 2³⁰ — and min(packed) is a codegen'd HashAggregate
    // with map-side partials. Earlier shapes paid 25 s at sf0.1: a
    // min(struct) falls out of whole-stage codegen into SortAggregate
    // (two full sorts of the 8M candidate pairs), a higher-order
    // array_min(transform(…)) fold runs interpreted, and the source
    // parquet's single split serialized everything — the repartition by
    // cell spreads the probe side, the candidate join stays a broadcast
    // hash join, and every operator in the hot path stays primitive.
    // Packing is only order-preserving for 0 ≤ rid < 2³⁰; at corpus sizes
    // where ids outgrow that, fall back to min(struct) — correct at any id
    // width, just out of whole-stage codegen. The bound check is one agg
    // over the small (broadcast-sized) side, so it costs nothing at scale.
    val pack = lit(1L << 30)
    val ridRow = right.agg(min(col("rid")), max(col("rid"))).head()
    val ridPackable = !ridRow.isNullAt(0) &&
      ridRow.getLong(0) >= 0L && ridRow.getLong(1) < (1L << 30)
    val cand = lb.repartition(col("bx"), col("by"))
      .join(broadcast(right), Seq("bx", "by"))
    val d2c = (col("la") - col("rla")) * (col("la") - col("rla")) +
      (col("ln") - col("rln")) * (col("ln") - col("rln"))
    val nn =
      if (ridPackable)
        cand.groupBy("id")
          .agg(min(d2c * pack + col("rid")).as("s"))
          .select(col("id"), expr("s div (1 << 30)").as("d2"),
            expr("s % (1 << 30)").as("nn_id"))
      else
        cand.groupBy("id")
          .agg(min(struct(d2c.as("d2"), col("rid").as("nn_id"))).as("s"))
          .select(col("id"), col("s.d2").as("d2"), col("s.nn_id").as("nn_id"))
    left.select(col("id"))
      .join(nn, Seq("id"), "left")
      .select(col("id"), col("d2"), col("nn_id"))
      .orderBy("id")
  }

  /** Grid-density clustering (DBSCAN-lite): cells of the integer grid
    * holding at least the MEAN occupied-cell density (auto-sized, so the
    * threshold tracks the scale factor) are "dense"; adjacent dense
    * cells (8-neighborhood) merge via connected components
    * ([[Dedup.componentLabels]] — the same min-label propagation as the
    * near-dup clusters, cluster id = smallest cell id). The corpus-sized
    * work is ONE cell aggregation; everything after runs on the
    * grid-bounded cell frame. Output: one row per cluster with cell and
    * point counts — fully integer, fully deterministic.
    */
  def gridClusters(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(expr("CAST(round(value * 1000, 0) AS BIGINT) div 20000").as("bx"),
        expr("CAST(user_id AS BIGINT) div 100").as("by"))
      .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
    val thr = cells.agg(sum(col("cnt")).as("s"), count(lit(1)).as("c"))
      .select(expr("(s + c - 1) div c").as("minpts"))
    val dense = cells.crossJoin(broadcast(thr))
      .filter(col("cnt") >= col("minpts"))
      .select((col("bx") * 1000000L + col("by")).as("cid"),
        col("bx"), col("by"), col("cnt"))
      .persistTracked()
    val offs = (-1 to 1).flatMap(dx => (-1 to 1).map(dy => (dx, dy)))
      .filterNot { case (dx, dy) => dx == 0 && dy == 0 }
    val nbrs = dense
      .withColumn("o", explode(array(offs.map { case (dx, dy) =>
        struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")) }: _*)))
      .select(col("cid").as("id_a"),
        ((col("bx") + col("o.dx")) * 1000000L + (col("by") + col("o.dy")))
          .as("id_b"))
      .join(dense.select(col("cid").as("id_b")), Seq("id_b"))
      .filter(col("id_a") < col("id_b"))
    val pairs = nbrs.select(col("id_a"), col("id_b"))
      .union(dense.select(col("cid").as("id_a"), col("cid").as("id_b")))
    // grid adjacency has LONG paths (a dense blob's diameter, not a
    // near-dup star) — pointer jumping converges in log(diameter) rounds
    val labels = Dedup.componentLabelsJump(pairs)
    labels.join(dense.select(col("cid").as("id"), col("cnt")), Seq("id"))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_points"))
      .orderBy("cluster_id")
  }

  // ---- DuckDB oracle ----

  private def rawNodesSql: String = {
    def tagCase(values: Seq[String]): String =
      values.zipWithIndex.map { case (v, i) =>
        s"WHEN CAST(json_extract_string(props,'$$.k') AS INTEGER) % 10 = $i THEN '${v.replace("'", "''")}'"
      }.mkString("CASE ", " ", " ELSE 'garbage' END")
    s"""SELECT
       | 'bbox_' || printf('%.1f', floor((value/100.0)/0.5)*0.5) || '_' ||
       | printf('%.1f', floor((CAST(user_id AS DOUBLE)/10.0)/0.5)*0.5) AS bbox_label,
       | floor((value/100.0)/0.5)*0.5 AS lat_bin,
       | CASE event_type WHEN 'signup' THEN 'school' WHEN 'purchase' THEN 'hospital'
       |  WHEN 'click' THEN 'traffic_signals' WHEN 'view' THEN 'crossing'
       |  ELSE 'other' END AS category,
       | ${tagCase(signalRawValues)} AS signal_raw,
       | ${tagCase(crossingRawValues)} AS crossing_raw
       |FROM events""".stripMargin
  }

  private val signalNormSql =
    """CASE WHEN lower(trim(signal_raw)) IN
      |  ('traffic_lights','signal','pedestrian_crossing','ramp_meter',
      |   'level_crossing','emergency','bridge')
      | THEN lower(trim(signal_raw)) ELSE 'unknown' END""".stripMargin
  private val crossingNormSql =
    """CASE WHEN contains(lower(trim(crossing_raw)), ';') THEN 'combinations'
      | WHEN lower(trim(crossing_raw)) IN
      |  ('uncontrolled','marked','unmarked','zebra','pelican','puffin','toucan')
      | THEN lower(trim(crossing_raw)) ELSE 'unknown' END""".stripMargin

  private def geocodeSql: String =
    s"""SELECT bbox_label,
       | COALESCE(n_name, 'unknown') AS city,
       | COALESCE(n_name || '_county', 'unknown') AS county,
       | COALESCE(r_name, 'unknown') AS state,
       | '00000' AS postcode
       |FROM (SELECT bbox_label, CAST(abs(lat_bin*2) AS INTEGER) % 25 AS nkey
       |      FROM (SELECT DISTINCT bbox_label, lat_bin FROM raw_nodes))
       |LEFT JOIN (SELECT n_nationkey, n_name, r_name FROM nation
       |           JOIN region ON n_regionkey = r_regionkey) ON nkey = n_nationkey""".stripMargin

  // The bbox-summary oracle's pivot: one count column per contract column
  private def pivotCols: String = countColumns.map { c =>
    val expr =
      if (c.startsWith("category_"))
        s"COALESCE(CAST(sum(cnt) FILTER (WHERE gv = '$c') AS BIGINT), 0)"
      else
        s"COALESCE(CAST(sum(cnt) FILTER (WHERE gv = '$c') AS BIGINT), 0)"
    s"""$expr AS "$c""""
  }.mkString(",\n ")

  def entries: Seq[Q] = Seq(
    Q("q_s6_bbox_summary", { (s, d) => summary(s, d).orderBy("bbox_label") },
      s"""WITH raw_nodes AS ($rawNodesSql),
         |nodes AS (SELECT * FROM raw_nodes
         |          WHERE category IN ('school','hospital','traffic_signals','crossing')),
         |u AS (
         | SELECT bbox_label, 'category_' || category AS gv, count(*) AS cnt
         | FROM nodes WHERE category IN ('school','hospital') GROUP BY 1,2
         | UNION ALL
         | SELECT bbox_label, 'traffic_signals_' || $signalNormSql AS gv, count(*) AS cnt
         | FROM nodes WHERE category = 'traffic_signals' GROUP BY 1,2
         | UNION ALL
         | SELECT bbox_label, 'crossing_' || $crossingNormSql AS gv, count(*) AS cnt
         | FROM nodes WHERE category = 'crossing' GROUP BY 1,2),
         |p AS (
         | SELECT bbox_label,
         | $pivotCols
         | FROM u GROUP BY bbox_label),
         |geo AS ($geocodeSql)
         |SELECT p.*, geo.city, geo.county, geo.state, geo.postcode
         |FROM p LEFT JOIN geo USING (bbox_label)
         |ORDER BY bbox_label""".stripMargin),
    // Grid-density clusters over the event point cloud (DBSCAN-lite).
    Q("q_grid_clusters", { (s, d) => gridClusters(s, d) },
      """WITH RECURSIVE cells AS (
        | SELECT CAST(round(value * 1000, 0) AS BIGINT) // 20000 AS bx,
        |  CAST(user_id AS BIGINT) // 100 AS by,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |thr AS (
        | SELECT (sum(cnt) + count(*) - 1) // count(*) AS minpts FROM cells),
        |dense AS (
        | SELECT bx * 1000000 + by AS cid, bx, by, cnt
        | FROM cells CROSS JOIN thr WHERE cnt >= minpts),
        |e AS (
        | SELECT a.cid AS src, b.cid AS dst
        | FROM dense a
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dx) dxs
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) dys
        |  JOIN dense b ON b.bx = a.bx + dxs.dx AND b.by = a.by + dys.dy
        | WHERE NOT (dxs.dx = 0 AND dys.dy = 0)),
        |reach(a, b) AS (
        | SELECT cid, cid FROM dense
        | UNION
        | SELECT reach.a, e.dst FROM reach JOIN e ON reach.b = e.src),
        |labels AS (SELECT a AS cid, min(b) AS cluster_id FROM reach GROUP BY 1)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_cells,
        | CAST(sum(cnt) AS BIGINT) AS n_points
        |FROM labels JOIN dense USING (cid)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_s7_geocode_join", { (s, d) =>
      val bboxes = rawNodes(s, d).select("bbox_label", "lat_bin").distinct()
      geocodeLookup(s, d, bboxes).orderBy("bbox_label")
    },
      s"""WITH raw_nodes AS ($rawNodesSql)
         |$geocodeSql
         |ORDER BY bbox_label""".stripMargin),
    // Spatial NN: every crossing's nearest hospital within the 3×3 grid
    // neighborhood (bounded-radius contract, exact integer distances).
    Q("q_nn_join", { (s, d) => nearestHospital(s, d) },
      """WITH l AS (
        | SELECT event_id AS id, CAST(round(value * 1000, 0) AS BIGINT) AS la,
        |  CAST(user_id AS BIGINT) AS ln
        | FROM events WHERE event_type = 'view' AND value IS NOT NULL),
        |r AS (
        | SELECT event_id AS rid, CAST(round(value * 1000, 0) AS BIGINT) AS rla,
        |  CAST(user_id AS BIGINT) AS rln
        | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |c AS (
        | SELECT l.id, r.rid,
        |  (l.la - r.rla) * (l.la - r.rla)
        |   + (l.ln - r.rln) * (l.ln - r.rln) AS d2
        | FROM l
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dx) dxs
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) dys
        |  JOIN r ON r.rla // 20000 = l.la // 20000 + dxs.dx
        |        AND r.rln // 100 = l.ln // 100 + dys.dy),
        |m AS (SELECT id, min(d2) AS d2 FROM c GROUP BY 1),
        |nn AS (
        | SELECT c.id, c.d2, min(c.rid) AS nn_id
        | FROM c JOIN m ON c.id = m.id AND c.d2 = m.d2 GROUP BY 1, 2)
        |SELECT l.id, nn.d2, nn.nn_id
        |FROM l LEFT JOIN nn ON l.id = nn.id ORDER BY l.id""".stripMargin)
  )
}
