package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.Scalars._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's centerpiece re-expressed Spark-first: star-schema build
  * ("star schema design, optimized for analytical queries",
  * pdf/Traffic_Accidents_ETL_Documentation.pdf §5.4) with the reference's
  * full EIGHT dimensions (dags/etl_crash_traffic.py:50-118) mapped onto
  * the test schema.
  *
  * Reference shape (dags/etl_crash_traffic.py:666-905): scan the flat fact
  * table, extract each dimension's distinct natural keys, assign surrogate
  * ids, then resolve every fact row's FKs via dict probes. Here: dims =
  * `distinct` + deterministic `row_number` surrogate (Star.buildDim), FK
  * resolution = successive broadcast hash LEFT joins (Star.resolveDims).
  *
  * Scale: the flat fact is lineitem ⋈ orders on l_orderkey — both sides
  * large, so that one join shuffles on the join key (sort-merge, AQE-
  * coalesced); on a real deployment both tables would be bucketed by
  * orderkey to make it shuffle-free. part/supplier/nation attach as
  * broadcast joins. Every dimension join is a broadcast: the fact table
  * is never shuffled again after the orderkey join.
  */
object StarPipeline extends QueryModule {

  /** The flat pre-star fact row (the reference's `accidentes_final`):
    * lineitem enriched with order, part, and supplier-nation attributes
    * plus derived natural-key columns.
    */
  def flatFact(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
      .select("o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority")
    val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_type")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"), "inner")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"), "left")
      .withColumn("y", year(col("o_orderdate")))
      .withColumn("m", month(col("o_orderdate")))
      .withColumn("dom", dayofmonth(col("o_orderdate")))
      .withColumn("dayname", date_format(col("o_orderdate"), "EEEE"))
      .withColumn("qty_bin", geoBin(col("l_quantity") / 10.0))
      .withColumn("price_band", floor(col("l_extendedprice") / 10000.0))
  }

  /** Dimension specs: name → natural-key columns — the reference's 8 dims
    * (fecha, ubicacion, clima, iluminacion, condicion_camino,
    * tipo_accidente, contribuyente, infraestructura;
    * dags/etl_crash_traffic.py:50-118) mapped onto the test schema.
    */
  val dimSpecs: Seq[(String, Seq[String])] = Seq(
    "dim_date"     -> Seq("y", "m", "dom", "dayname"),      // dim_fecha
    "dim_status"   -> Seq("o_orderstatus"),                 // dim_clima
    "dim_priority" -> Seq("o_orderpriority"),               // dim_iluminacion
    "dim_flags"    -> Seq("l_returnflag", "l_linestatus"),  // dim_condicion_camino (2-col)
    "dim_part"     -> Seq("p_brand", "p_type"),             // dim_tipo_accidente (multi-col)
    "dim_nation"   -> Seq("n_name"),                        // dim_contribuyente
    "dim_qty"      -> Seq("qty_bin"),                       // dim_ubicacion (binned coords)
    "dim_price"    -> Seq("price_band")                     // dim_infraestructura
  )

  def dims(s: SparkSession, d: String): Map[String, DataFrame] = {
    val f = flatFact(s, d)
    dimSpecs.map { case (name, key) =>
      name -> Star.buildDim(f, key, name + "_id")
    }.toMap
  }

  /** The star fact: every natural key replaced by its surrogate id via
    * broadcast left joins (J2), measures kept.
    */
  def fact(s: SparkSession, d: String): DataFrame = {
    // Each dim's broadcast build carries its own copy of the flat fact,
    // pruned by Catalyst to just that dim's key columns, and the 8 builds
    // execute CONCURRENTLY (broadcast futures). That is deliberately NOT a
    // persist-the-fact-first design: materializing the full joined fact
    // costs a full write of it (prohibitive at 100 TB), while 8 concurrent
    // column-pruned scans are how a columnar warehouse wants to be read.
    // Pipeline implements the other trade (the DAG contract materializes
    // flat_fact to storage anyway, and dims read the loaded table).
    // (r13 measured the cache-one-key-projection alternative: eager narrow
    // persist + dims off the cache = 8.2-9.2 s steady vs 6.5 s here — the
    // serialized 3-task cache build starves the box that the concurrent
    // column-pruned builds saturate. Kept the at-scale-correct shape.)
    val f = flatFact(s, d)
    val dm = dimSpecs.map { case (n, k) => n -> Star.buildDim(f, k, n + "_id") }.toMap
    val resolved = Star.resolveDims(f, dimSpecs.map { case (n, k) => (dm(n), k) })
    resolved.select(
      col("l_orderkey"), col("l_linenumber"),
      col("dim_date_id"), col("dim_status_id"), col("dim_priority_id"),
      col("dim_flags_id"), col("dim_part_id"), col("dim_nation_id"),
      col("dim_qty_id"), col("dim_price_id"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"))
  }

  /** Shared oracle CTEs: the flat fact and each dim as
    * distinct + row_number. (package-visible: Pipeline's idempotence
    * oracle recounts the same shapes.)
    */
  private[operators] val flatFactSql =
    """SELECT l.*, o.o_orderdate, o.o_orderstatus, o.o_orderpriority,
      |  p.p_brand, p.p_type, n.n_name,
      |  CAST(year(o_orderdate) AS INTEGER) AS y,
      |  CAST(month(o_orderdate) AS INTEGER) AS m,
      |  CAST(day(o_orderdate) AS INTEGER) AS dom,
      |  dayname(o_orderdate) AS dayname,
      |  floor((l_quantity/10.0)/0.5)*0.5 AS qty_bin,
      |  CAST(floor(l_extendedprice/10000.0) AS BIGINT) AS price_band
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey""".stripMargin

  private def dimSql(name: String): String = {
    val keys = dimSpecs.toMap.apply(name)
    val k = keys.mkString(", ")
    // NULLS LAST pinned on both engines: Spark ASC defaults nulls-first,
    // DuckDB nulls-last (Star.buildDim uses asc_nulls_last to match).
    val ord = keys.map(_ + " NULLS LAST").mkString(", ")
    s"""$name AS (
       | SELECT $k, CAST(row_number() OVER (ORDER BY $ord) AS BIGINT) AS ${name}_id
       | FROM (SELECT DISTINCT $k FROM f))""".stripMargin
  }

  // The star-fact oracle's dim CTEs and FK joins
  private def dimCtes: String = dimSpecs.map { case (n, _) => dimSql(n) }.mkString(",\n")
  private def joins: String = dimSpecs.map { case (n, k) =>
    // NULL-safe equality mirrors Star.resolveDims' `<=>` (the
    // reference's dict probe matches None keys too).
    val cond = k.map(c => s"f.$c IS NOT DISTINCT FROM $n.$c").mkString(" AND ")
    s"LEFT JOIN $n ON $cond"
  }.mkString("\n")

  def entries: Seq[Q] = Seq(
    // The flagship: full 8-dim star build, FK-resolved fact rows.
    Q("q_star_fact", { (s, d) =>
      fact(s, d).orderBy("l_orderkey", "l_linenumber")
    },
      s"""WITH f AS ($flatFactSql),
         |$dimCtes
         |SELECT f.l_orderkey, f.l_linenumber, dim_date_id, dim_status_id,
         | dim_priority_id, dim_flags_id, dim_part_id, dim_nation_id,
         | dim_qty_id, dim_price_id, l_quantity, l_extendedprice, l_discount
         |FROM f
         |$joins
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // Per-dim contract: distinct natural keys + deterministic surrogates.
    Q("q_star_dim_date", { (s, d) =>
      dims(s, d)("dim_date").orderBy("dim_date_id")
    },
      s"""WITH f AS ($flatFactSql),
         |${dimSql("dim_date")}
         |SELECT * FROM dim_date ORDER BY dim_date_id""".stripMargin),
    Q("q_star_dim_flags", { (s, d) =>
      dims(s, d)("dim_flags").orderBy("dim_flags_id")
    },
      s"""WITH f AS ($flatFactSql),
         |${dimSql("dim_flags")}
         |SELECT * FROM dim_flags ORDER BY dim_flags_id""".stripMargin),
    Q("q_star_dim_part", { (s, d) =>
      dims(s, d)("dim_part").orderBy("dim_part_id")
    },
      s"""WITH f AS ($flatFactSql),
         |${dimSql("dim_part")}
         |SELECT * FROM dim_part ORDER BY dim_part_id""".stripMargin)
  )
}
