package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Table roles mirror the reference's domain (FIXTURES.md §2):
  * `lineitem`/`orders` play the accident fact rows, `customer`/`supplier`/
  * `part`/`nation`/`region` the dimensions, `events` the Kafka-fed stream,
  * `documents`/`embeddings` the LLM-pipeline extensions.
  *
  * Scale posture: plain parquet scans — Catalyst's V2ScanRelationPushDown
  * prunes columns and pushes predicates into the scan, so callers just
  * `.select`/`.filter` and the 100 TB read stays minimal. No data is
  * cached here: each query composes its own plan so the optimizer sees
  * end-to-end. Only each file's schema is remembered (see [[load]]).
  */
object Tables {

  /** Session confs that change the schema Spark infers from a footer. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles")

  /** A table's identity: every file under it as (qualified path, length,
    * modification time), plus the inference confs in force.
    */
  private case class SchemaKey(files: Seq[(String, Long, Long)],
                               confs: Seq[Option[String]])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** `$dir/$name.parquet` read with its schema known. Without a schema,
    * `spark.read.parquet` infers one with a one-task Spark job (footer
    * merge) before the DataFrame exists; a table is loaded dozens of times
    * per pipeline run. So the schema Spark infers on the first load is
    * remembered, keyed by the file's identity and the inference confs,
    * and later loads pass it to the reader: no job, the same relation
    * (Spark makes a given schema all-nullable exactly as it does an
    * inferred one). A replaced or rewritten file, or a changed conf,
    * misses and infers again. A missing path goes straight to Spark,
    * which raises its own error.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = fileKey(spark, path)
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(schemas.put(_, df.schema))
        df
    }
  }

  /** One driver-side status call for a file, one recursive listing for a
    * directory; None when the path does not exist.
    */
  private def fileKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      val files =
        if (!st.isDirectory) Seq((st.getPath.toString, st.getLen, st.getModificationTime))
        else {
          val it = fs.listFiles(p, true)
          val b = Seq.newBuilder[(String, Long, Long)]
          while (it.hasNext) {
            val f = it.next()
            b += ((f.getPath.toString, f.getLen, f.getModificationTime))
          }
          b.result().sorted
        }
      Some(SchemaKey(files, InferenceConfs.map(spark.conf.getOption)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Whether a table the engine writes is there yet: the skip-guards and
    * first-load checks. The engine's writes are sequential and complete
    * before the next phase reads them, so presence of the directory is the
    * signal. On a real deployment this is one FileSystem.exists RPC. A
    * schema probe instead would be a Spark job, and catching the read's
    * failure on a missing path logs a stack trace.
    */
  def exists(path: String): Boolean = new java.io.File(path).exists()

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.parquet` has shipped in two physical layouts across driver
    * testdata generations: INT64 TIMESTAMP(NANOS) — which Spark's
    * vectorized reader rejects, so it's read nanos-as-long and
    * integer-divided to micros (a plain `/` would go through double and
    * lose precision above 2^53 ns) — and plain TIMESTAMP(MICROS) NTZ.
    * Probe the resolved schema and normalize either to session-zone
    * TimestampType (the session pins UTC, so NTZ→TZ is value-preserving
    * and matches the DuckDB oracle's naive timestamps).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
