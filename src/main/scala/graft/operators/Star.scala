package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Star-schema building blocks (SURVEY.md §2.3/§2.4/§2.5: A4, W3, J2, J3).
  *
  * Scale posture: dimensions are by definition low-cardinality (the
  * reference's largest dim is dim_fecha, one row per distinct timestamp), so
  * every surrogate-key resolution is a broadcast hash left join — at 100 TB
  * the fact side never shuffles for the star build. The only exchanges are
  * the per-dim `distinct` (map-side partial aggregation first, so the
  * shuffle carries one row per distinct key per task, not the fact table).
  */
object Star {

  /** Dimension content = SELECT DISTINCT natural-key FROM fact (A4), with a
    * deterministic surrogate id (W3): `row_number()` over the natural-key
    * order — run-stable for oracle comparison, unlike the reference's
    * insert-order SERIAL (SURVEY §7.4) or `monotonically_increasing_id`
    * (partition-order dependent). Null natural keys are KEPT (plain
    * `SELECT DISTINCT` semantics — the reference's dim insert takes
    * whatever distinct combos exist, None included) and sorted NULLS LAST
    * explicitly, because Spark's ASC default is nulls-first while
    * DuckDB's is nulls-last. The unpartitioned window funnels through
    * one task, which is fine *for dimensions*: the distinct has already
    * reduced the data to dimension cardinality.
    * Ref: dags/etl_crash_traffic.py:693-787 (dim inserts with ON CONFLICT
    * DO NOTHING ≡ distinct), :52-101 (SERIAL keys).
    */
  def buildDim(src: DataFrame, natKey: Seq[String], idCol: String): DataFrame = {
    val w = Window.orderBy(natKey.map(k => col(k).asc_nulls_last): _*)
    src.select(natKey.map(col): _*).distinct()
      .withColumn(idCol, row_number().over(w).cast("long"))
  }

  /** J2 — resolve surrogate keys: successive broadcast hash LEFT joins.
    * NULL-SAFE equality (`<=>`) when any key column is nullable: the
    * reference resolves FKs by probing a dict built from the same table
    * the dims came from, so a None-keyed fact row finds the None-keyed
    * dim row — `<=>` reproduces that, where a plain USING join would
    * null-reject and leave an orphan FK. `EqualNullSafe` is still an
    * equi-join key to the planner, so the joins stay BroadcastHashJoin.
    * Dim key columns are renamed before the join (no ambiguous-self-join
    * resolution when the dim derives from the fact) and dropped after.
    *
    * When EVERY key column is non-nullable in the schema, `<=>` ≡ `=` and
    * the plain USING join is used instead — null-rejecting equality keeps
    * Catalyst's full rule set in play (e.g. an unused left join to a
    * provably-distinct dim is eliminated outright under a narrower
    * projection; the null-safe condition blocks that rule).
    * Ref: dags/etl_crash_traffic.py:244-263 (dict build), :297-310 (probe).
    */
  def resolveDims(fact: DataFrame,
                  dims: Seq[(DataFrame, Seq[String])]): DataFrame =
    dims.foldLeft(fact) { case (f, (dim, natKey)) =>
      val nullable = natKey.exists(k => f.schema(k).nullable || dim.schema(k).nullable)
      if (!nullable) f.join(broadcast(dim), natKey, "left")
      else {
        val renamed = natKey.foldLeft(dim)((d, k) => d.withColumnRenamed(k, "__dk_" + k))
        val cond = natKey.map(k => col(k) <=> col("__dk_" + k)).reduce(_ && _)
        f.join(broadcast(renamed), cond, "left")
          .drop(natKey.map("__dk_" + _): _*)
      }
    }

  /** Incremental dimension growth. The reference's skip-guard freezes a
    * dim after its first build (dags/etl_crash_traffic.py:678-690) — a
    * later run over augmented data would leave new natural keys resolving
    * to NULL FKs. This computes ONLY the not-yet-present natural keys and
    * assigns surrogates continuing from max(existing id) in natural-key
    * order; existing ids never move, so fact rows loaded by earlier runs
    * stay valid. The anti join is NULL-SAFE (a null natural key already
    * in the dim must not be re-inserted — plain USING would null-reject
    * and duplicate it). Callers append the result to dim storage: no
    * rewrite of existing rows, hence no overwrite-while-reading hazard
    * and no id churn. The unpartitioned ranking window is new-key-
    * cardinality-sized (same argument as [[buildDim]]); the max(id)
    * scalar attaches via a broadcast cross join, keeping the whole plan
    * lazy and distributed.
    */
  def newDimRows(existing: DataFrame, src: DataFrame,
                 natKey: Seq[String], idCol: String): DataFrame = {
    val renamed = natKey.foldLeft(existing.select(natKey.map(col): _*))(
      (d, k) => d.withColumnRenamed(k, "__dk_" + k))
    val cond = natKey.map(k => col(k) <=> col("__dk_" + k)).reduce(_ && _)
    val fresh = src.select(natKey.map(col): _*).distinct()
      .join(renamed, cond, "left_anti")
    val w = Window.orderBy(natKey.map(k => col(k).asc_nulls_last): _*)
    val maxId = existing.agg(
      coalesce(max(col(idCol)), lit(0L)).cast("long").as("__mx"))
    fresh.withColumn("__rn", row_number().over(w).cast("long"))
      .crossJoin(broadcast(maxId))
      .withColumn(idCol, col("__rn") + col("__mx"))
      .drop("__rn", "__mx")
  }

  /** The storage-facing incremental-growth action: append [[newDimRows]]
    * to the dim directory. Safe against its own read — the appended files
    * commit only after the plan's scan of the existing files finishes
    * (job-commit semantics), and existing rows/ids are never touched.
    */
  def extendDim(spark: org.apache.spark.sql.SparkSession, path: String,
                src: DataFrame, natKey: Seq[String], idCol: String): Unit =
    newDimRows(spark.read.schema(buildDim(src, natKey, idCol).schema).parquet(path),
      src, natKey, idCol)
      .write.mode(SaveMode.Append).parquet(path)

  /** J3 — idempotent append: keep only incoming rows whose key is absent
    * from `existing` (left-anti), the set-based equivalent of the
    * reference's `INSERT ... ON CONFLICT (id) DO NOTHING` + id-set filter.
    * At scale: existing-keys side is projected to the key columns only, so
    * the anti join shuffles keys, not rows; with AQE it broadcasts when the
    * existing key set is small.
    * Ref: dags/etl_crash_traffic.py:619-624, :641-654.
    */
  def idempotentAppend(incoming: DataFrame, existing: DataFrame,
                       keys: Seq[String]): DataFrame =
    // no distinct on the existing-keys side: left_anti is key-multiplicity-
    // insensitive (the r13 runIncremental precedent), so the distinct was a
    // pure extra exchange + aggregate per idempotent load
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** S4 — the full idempotent-load action: anti-join against what is already
    * at `path`, then append. (Parquet replaces the reference's Postgres
    * table; SURVEY §2.1 S4.)
    */
  def idempotentWrite(incoming: DataFrame, path: String, keys: Seq[String]): Unit = {
    val spark = incoming.sparkSession
    val fresh =
      if (!Tables.exists(path)) incoming // first load
      else idempotentAppend(incoming, spark.read.schema(incoming.schema).parquet(path), keys)
    fresh.write.mode(SaveMode.Append).parquet(path)
  }
}
