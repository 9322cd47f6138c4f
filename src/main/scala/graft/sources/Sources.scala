package graft.sources

import graft.Scratch
import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources & sinks (SURVEY.md §2.1). Parquet scan (S3) is exercised by every
  * query; here: CSV scan/sink (S1/S2) with explicit schema + timestamp
  * format, proven by a value-fidelity round-trip, and schema declarations
  * (S5). Kafka-shaped streaming sources/sinks (S8/S9) live in
  * graft.streaming.
  */
object Sources extends QueryModule {

  /** S5 — explicit StructType contract for the CSV round-trip (the
    * reference's DDL-declared schemas; dags/etl_crash_traffic.py:50-147).
    */
  val ordersCsvSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType)))

  /** S1 + S2 — header CSV sink then schema-ed CSV scan with an explicit
    * timestamp format (the reference's `%m/%d/%Y %I:%M:%S %p` parse,
    * notebooks/001_extract.ipynb cell 11 — pattern differs, machinery
    * identical). Scratch lives under target/ (gitignored).
    */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("csv_orders")
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite")
      .option("header", true)
      .csv(tmp)
    s.read.schema(ordersCsvSchema)
      .option("header", true)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS")
      .csv(tmp)
      .orderBy("o_orderkey")
  }

  /** CSV QUOTING FIDELITY — the part of the CSV contract the clean
    * round-trip above never touches: fields containing the delimiter,
    * the quote character itself (doubled on write per RFC 4180), and
    * embedded newlines. The synthetic corpus is [a-z ]-only, so the
    * hard cases are PLANTED (the pii/boilerplate fixture idiom), written
    * through the real CSV sink, and read back with `multiLine` (a
    * newline inside quotes otherwise splits the record). Fidelity is
    * gated value-for-value: per-doc byte length and md5 must survive the
    * trip; the oracle recomputes both from the source rows, planting the
    * same text.
    *
    * Scale note: `multiLine` CSV cannot split files on newlines (a
    * newline may be quoted), so each file parses as one task — the
    * 100 TB posture is many modest files, which is what the writer
    * produces anyway. Schema is declared, never inferred.
    */
  def csvQuotedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("csv_quoted")
    val planted = Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("a,b \"quoted\" c\nnext line,"), col("text")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("trailing,comma,and \"quote\""), col("text")))
          .otherwise(col("text")).as("text"))
    planted.write.mode("overwrite").option("header", true).csv(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    s.read.schema(schema)
      .option("header", true).option("multiLine", true)
      .csv(tmp)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("digest"))
      .orderBy("doc_id")
  }

  /** NON-DEFAULT CHARSET round-trip (the last untouched reference CSV
    * option: `notebooks/prueva.ipynb` cell 1 reads latin1) — the corpus
    * is ASCII so latin1 code points are PLANTED (é ñ Ç are single
    * bytes 0xE9/0xF1/0xC7 in latin1, two bytes in UTF-8: a charset
    * mix-up corrupts them loudly), written through the CSV sink with
    * `encoding=latin1`, and read back declaring the same charset.
    * Fidelity gates on per-doc char length + md5 (Spark md5 hashes the
    * decoded string's UTF-8 bytes, so a mojibake'd é changes the
    * digest). Schema declared, never inferred.
    */
  def csvLatin1Roundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Scratch.dir("csv_latin1")
    val planted = Tables.documents(s, d)
      .filter(col("doc_id") < 30)
      .select(col("doc_id"),
        concat(lit("café niño Çédille ü: "), col("text")).as("text"))
    planted.write.mode("overwrite")
      .option("header", true).option("encoding", "iso-8859-1").csv(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    s.read.schema(schema)
      .option("header", true).option("encoding", "iso-8859-1")
      .csv(tmp)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("digest"))
      .orderBy("doc_id")
  }

  /** S4 — the idempotent-append sink driven end-to-end: partial first
    * load, two idempotent loads of the full table (second is a no-op),
    * then read back — the table must hold each key exactly once (the
    * reference's `ON CONFLICT (id) DO NOTHING` contract,
    * dags/etl_crash_traffic.py:641-654).
    */
  def idempotentWriteRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("idempotent_orders")
    Scratch.clear(path)
    val orders = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
    orders.filter(col("o_orderkey") % 2 === 0).write.parquet(path)
    graft.operators.Star.idempotentWrite(orders, path, Seq("o_orderkey"))
    graft.operators.Star.idempotentWrite(orders, path, Seq("o_orderkey")) // no-op
    s.read.parquet(path).orderBy("o_orderkey")
  }

  /** Scale pattern: BUCKETED co-located join — both fact tables written
    * `bucketBy(8, orderkey).sortBy(orderkey)`, so the join needs neither
    * exchange nor sort (the SCALE.md claim for the 100 TB star build; the
    * shuffle-free plan is asserted in ScaleSpec). Bucketed copies live in
    * spark-warehouse/ (gitignored).
    */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    s.sql("DROP TABLE IF EXISTS li_bucketed")
    s.sql("DROP TABLE IF EXISTS o_bucketed")
    // the in-memory catalog forgets tables between sessions but their
    // warehouse directories persist — remove them or saveAsTable refuses
    Seq("li_bucketed", "o_bucketed").foreach(t => Scratch.clear(s"spark-warehouse/$t"))
    // project before the bucketed write: the table carries what its
    // consumers join/aggregate on, not every source column
    Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_bucketed")
    s.table("li_bucketed")
      .join(s.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Relational.sumDec(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** S1/S2 for the training-data world: JSONL (one JSON object per line)
    * is how text corpora actually ship. Round-trip the documents table
    * through a JSONL sink and a schema-ed JSONL scan (explicit schema —
    * at 100 TB schema inference would be a full extra pass over the
    * data), then prove value fidelity with a checksum-grade aggregate
    * (per-language counts + exact length sums + id xor-fold would over-
    * fit the driver hash; counts + decimal sums suffice and match SQL).
    */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("jsonl_docs")
    Scratch.clear(path)
    Tables.documents(s, d)
      .select("doc_id", "lang", "source", "text")
      .write.json(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType)))
    s.read.schema(schema).json(path)
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  /** Raw-media ingest via the `binaryFile` source — how image/audio/video
    * bytes actually enter a lake (one opaque blob per file, path + length
    * + modification metadata attached by the reader). The fixture writes
    * one .bin per document (UTF-8 text bytes — content-representative,
    * deterministic), then the REAL `format("binaryFile")` read is the
    * thing under test: a distributed scan that never parses the payload;
    * per-file identity (byte length + md5 digest) must round-trip exactly
    * against the source table. At 100 TB the same plan shape holds — the
    * scan parallelizes over files, payloads stay opaque binary columns
    * ([[graft.operators.Multimodal]] takes over from there), and the
    * digest/length audit is the standard ingest fixity check.
    */
  def binaryIngest(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir("blobs")
    Scratch.clear(dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // fixture: 20 small files on the driver (fixture setup, not the
    // operator — the read below is the distributed path)
    Tables.documents(s, d).filter(col("doc_id") < 20)
      .select("doc_id", "text").collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%05d.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("digest"))
      .orderBy("doc_id")
  }

  /** S3/S4 over JDBC — the reference's actual Postgres surface
    * (dags/etl_crash_traffic.py:266-290 scan, :641-654 sink), exercised
    * through Spark's REAL `write.jdbc` / `read.jdbc` code path against
    * embedded Derby (ships with the Spark distribution; no external DB in
    * this container — at deployment the url simply points at Postgres).
    * The read back is PARTITIONED on the key column (lower/upper bound,
    * 4 partitions): Spark issues one range-predicated query per
    * partition, which is the parallel-ingest posture a 100 TB migration
    * needs — a single-connection read would serialize the whole table
    * through one task. Derby is driver-embedded so this specific backend
    * is local-mode-only; the Spark-side plumbing (dialect type mapping,
    * predicate ranges, partitioned pulls) is identical against any RDBMS.
    */
  def jdbcRoundtrip(s: SparkSession, d: String): DataFrame = {
    // keep derby.log out of the repo root (read at engine boot; this is
    // the only Derby user in the JVM)
    System.setProperty("derby.system.home", Scratch.root)
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Tables.nation(s, d).write.mode("overwrite")
      .jdbc(url, "nation_jdbc", props)
    val back = s.read.jdbc(url, "nation_jdbc",
      columnName = "n_nationkey", lowerBound = 0L, upperBound = 25L,
      numPartitions = 4, connectionProperties = props)
    back.groupBy("n_regionkey")
      .agg(count(lit(1)).as("cnt"), max(col("n_name")).as("max_name"))
      .orderBy("n_regionkey")
  }

  /** Scale pattern: HIVE-PARTITIONED layout + partition pruning. Orders
    * re-written `partitionBy(o_year)` — one directory per year — then the
    * year-filtered read back touches exactly ONE of them: the scan's
    * PartitionFilters prune the other years' files without opening them
    * (asserted on the plan in ScaleSpec). This is the first-order 100 TB
    * lever: a date-partitioned fact turns a full-table read into a
    * partition-sized one. Complements q_bucketed_join (bucketing removes
    * the join shuffle; partitioning removes the scan itself) and
    * q_zorder_layout (file-internal clustering below the partition grain).
    */
  def partitionedPrunedScan(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("orders_by_year")
    Scratch.clear(path)
    Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").parquet(path)
    partitionedYearSlice(s, path)
  }

  /** The pruned read-back, separate so ScaleSpec asserts pruning on the
    * exact plan the query runs.
    */
  def partitionedYearSlice(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .filter(col("o_year") === 1995)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Relational.sumDec(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")

  /** Operational scale pattern: SMALL-FILE COMPACTION. A long-lived lake
    * table accretes tiny files (streaming micro-batches, incremental
    * appends — our own idempotentWrite/extendDim do exactly this); at
    * 100 TB the scan-planning and open() overhead of millions of small
    * files dominates. The compactor sizes its target file count from the
    * actual byte size (128 MB target files, the parquet sweet spot) and
    * rewrites with `coalesce` — a repartition-free narrow dependency, so
    * compaction reads and writes each byte exactly once with no shuffle.
    * The gated query proves content fidelity (checksum-grade aggregate)
    * plus the compaction effect itself (fewer files, oracle-pinned TRUE).
    */
  def compactionRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Scratch.dir("compact_src")
    val dst = Scratch.dir("compact_dst")
    Scratch.clear(src); Scratch.clear(dst)
    Tables.documents(s, d).select("doc_id", "lang", "text")
      .repartition(32).write.parquet(src) // the accreted small files
    def parquetFiles(p: String): Seq[java.io.File] =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet")).toSeq
    val bytes = parquetFiles(src).map(_.length()).sum
    val target = math.max(1L, math.ceil(bytes / (128.0 * 1024 * 1024)).toLong)
    s.read.parquet(src).coalesce(target.toInt).write.parquet(dst)
    val before = parquetFiles(src).size
    val after = parquetFiles(dst).size
    s.read.parquet(dst)
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .withColumn("compacted", lit(after < before))
  }

  /** DYNAMIC PARTITION OVERWRITE — the lake-table restatement primitive:
    * re-publish ONE partition (year 1995 restated with doubled totals)
    * into a date-partitioned table WITHOUT touching any other
    * partition. partitionOverwriteMode=dynamic is the difference
    * between "replace the partitions present in the incoming data"
    * (this) and static overwrite's "truncate the whole table first" —
    * at 100 TB the latter is a catastrophic full rewrite, and getting
    * this mode wrong is a classic data-loss incident. The gated query
    * reads the whole table back per year, so the oracle proves BOTH
    * effects at once: 1995 carries the restated (doubled) totals, and
    * every other year's rows and totals are bit-identical to the
    * source. The mode is the write's own option, so the session's conf
    * never changes (no cross-query bleed).
    */
  def partitionDynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("orders_dyn_overwrite")
    Scratch.clear(path)
    val base = Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
    base.write.partitionBy("o_year").parquet(path)
    val restated = base.filter(col("o_year") === 1995)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    restated.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_year").parquet(path)
    s.read.parquet(path)
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Relational.sumDec(col("o_totalprice")).as("total"))
      .orderBy("o_year")
  }

  /** TARGETED ERASURE REWRITE — GDPR right-to-erasure at lake scale:
    * delete one subject's rows (customer key 7) from a date-partitioned
    * table by rewriting ONLY the partitions that contain them. The
    * affected-partition set comes from a distributed semi-join (never a
    * driver collect), the replacement data is the anti-filtered content
    * of exactly those partitions, and dynamic partitionOverwriteMode
    * makes the write replace just that set — at 100 TB this is a
    * handful of partition-sized rewrites instead of a table rewrite,
    * the difference between a routine compliance job and an outage. The
    * readback gates all three contracts per year: subject rows gone
    * (n_subject = 0 everywhere), non-subject rows bit-identical, and
    * the `rewritten` flag marks which partitions were touched.
    */
  def erasureRewrite(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("orders_erasure")
    Scratch.clear(path)
    val subject = col("o_custkey") % 10000 === 7
    val base = Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
    base.write.partitionBy("o_year").parquet(path)
    val t = s.read.parquet(path)
    val affected = t.filter(subject).select("o_year").distinct()
    val incoming = t.join(affected, Seq("o_year"), "left_semi")
      .filter(!subject)
    incoming.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_year").parquet(path)
    val flag = base.filter(subject).select("o_year").distinct()
      .withColumn("rw", lit(true))
    s.read.parquet(path)
      .groupBy("o_year")
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(when(subject, 1L)), lit(0L)).as("n_subject"))
      .join(broadcast(flag), Seq("o_year"), "left")
      .withColumn("rewritten", coalesce(col("rw"), lit(false)))
      .select("o_year", "cnt", "n_subject", "rewritten")
      .orderBy("o_year")
  }

  /** Robustness: PERMISSIVE corrupt-record capture. Orders re-written as
    * CSV with two malformed lines appended; the schema-ed read must keep
    * every good row and quarantine exactly the bad ones in
    * `_corrupt_record` (never silently drop — the 100 TB posture is
    * quarantine + count, not fail or drop).
    */
  def corruptRecordScan(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("csv_corrupt")
    Scratch.clear(path)
    Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      .coalesce(1).write.option("header", true).csv(path)
    // malformed rows land in their own file (appending to Spark's part
    // file breaks its .crc checksum sidecar); header line present because
    // header=true skips each file's first line
    val w = new java.io.FileWriter(new java.io.File(path, "bad.csv"))
    w.write("o_orderkey,o_totalprice\nnot_a_number,broken\nalso,bad\n"); w.close()
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("header", true).option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      // must reference a data column alongside _corrupt_record (Spark
      // disallows corrupt-column-only scans)
      .agg(count(col("o_orderkey")).as("good_rows"),
        count(col("_corrupt_record")).as("corrupt_rows"))
  }

  /** Robustness: schema evolution via mergeSchema — an old fileset without
    * a column and a new fileset with it read as one table, missing values
    * null (the additive-evolution contract of a long-lived lake table).
    */
  def schemaMergeScan(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("schema_merge")
    Scratch.clear(base)
    val o = Tables.orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey")
      .write.parquet(s"$base/v1")
    o.filter(col("o_orderkey") % 2 === 1).select("o_orderkey", "o_orderstatus")
      .write.parquet(s"$base/v2")
    s.read.option("mergeSchema", true).parquet(s"$base/v1", s"$base/v2")
      .orderBy("o_orderkey")
  }

  /** ORC source/sink round-trip: Spark ships a native vectorized ORC
    * reader/writer (the other columnar lake format; same predicate-pushdown
    * and column-pruning machinery as parquet). A filtered lineitem slice is
    * written to ORC, read back, and checksum-aggregated — the oracle runs
    * the identical aggregate off the parquet source, so any value drift in
    * the ORC round-trip (type mapping, timestamp encoding) breaks the hash.
    */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("orc_lineitem")
    Scratch.clear(path)
    Tables.lineitem(s, d).filter(col("l_quantity") > 40)
      .write.orc(path)
    s.read.orc(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Relational.sumDec(col("l_extendedprice")).as("revenue"),
        min(col("l_shipdate")).as("first_ship"))
      .orderBy("l_returnflag")
  }

  /** XML round-trip over Spark 4's NATIVE XML source (the spark-xml
    * donation, built into spark-sql since 4.0 — no external connector):
    * write a filtered region/nation join as row-tagged XML, read it back
    * with an explicit schema, aggregate. DuckDB has no XML reader, so the
    * oracle (like every roundtrip gate here) is the same aggregate off
    * the original parquet — fidelity through the format IS the assertion.
    * Scale posture: XML is a per-row text codec like CSV/JSONL; the scan
    * parallelizes per file split and everything downstream is ordinary
    * relational plan.
    */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("xml_nation")
    Scratch.clear(path)
    Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.option("rowTag", "nation").xml(path)
    s.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("rowTag", "nation").xml(path)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("cnt"), min(col("n_name")).as("first_name"),
        max(col("n_name")).as("last_name"))
      .orderBy("n_regionkey")
  }

  /** Order-independent table fingerprint: Σ of per-row md5-60 hashes over
    * a canonical column rendering (ints verbatim, the double money column
    * as exact CENTS, dates formatted) summed as exact DECIMAL — the
    * tabular integrity check next to the binary-ingest fixity audit. Any
    * changed/dropped/duplicated row moves the sum; partitioning and row
    * order cannot. One map-side-combined scan, output printed as a
    * decimal string (the value exceeds int64).
    */
  def tableFingerprint(s: SparkSession, d: String): DataFrame = {
    val h = graft.operators.Dedup.Md5Hash(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"),
      col("o_orderpriority"))
    Tables.orders(s, d).agg(count(lit(1)).as("n_rows"),
      sum(h.cast(DecimalType(38, 0))).cast("string").as("fingerprint"))
  }

  /** JOIN-STRATEGY PLAN AUDIT — the measured version of the "did I
    * broadcast the dim?" review every fact-join plan needs: the SAME
    * orders ⋈ customer aggregation is planned twice, once with the
    * default 10 MB broadcast threshold (dimension side qualifies →
    * BroadcastHashJoin, zero fact shuffle) and once with broadcasting
    * disabled (-1 → SortMergeJoin, BOTH sides shuffle — at 100 TB the
    * difference is the whole fact table over the wire). Counts come
    * from the compiled physical plan (no job runs); AQE is pinned OFF
    * for the measurement so the static planner's strategy is what's
    * audited (AQE's runtime re-plan would hide the threshold's effect).
    * Both measurements plan on a child session (`newSession`) that holds
    * the threshold and AQE setting, so the caller's session conf, which
    * a concurrent query may be reading, never changes.
    * The oracle pins the expected strategy table — a plan regression
    * (dimension stats lost, threshold misconfigured) fails the gate.
    */
  def joinStrategyAudit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def measure(threshold: String): (Long, Long) = {
      val c = s.newSession()
      c.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      c.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Tables.orders(c, d)
        .join(Tables.customer(c, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      val p = df.queryExecution.executedPlan
      (p.collect { case _: BroadcastHashJoinExec => 1L }.sum,
        p.collect { case _: SortMergeJoinExec => 1L }.sum)
    }
    import s.implicits._
    val (b1, m1) = measure("10485760")
    val (b2, m2) = measure("-1")
    Seq(("broadcast_disabled", b2, m2), ("broadcast_enabled", b1, m1))
      .toDF("mode", "n_broadcast_hash_joins", "n_sort_merge_joins")
      .orderBy("mode")
  }

  def entries: Seq[Q] = Seq(
    // expected-strategy pin: the dimension must broadcast under the
    // default threshold and sort-merge when broadcasting is disabled
    Q("q_join_strategy_audit", joinStrategyAudit _,
      """SELECT * FROM (VALUES
        | ('broadcast_disabled', CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
        | ('broadcast_enabled', CAST(1 AS BIGINT), CAST(0 AS BIGINT)))
        | t(mode, n_broadcast_hash_joins, n_sort_merge_joins)
        |ORDER BY mode""".stripMargin),
    Q("q_table_fingerprint", tableFingerprint _,
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CAST('0x' || substr(md5(concat_ws(':',
        |   CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |   o_orderstatus,
        |   CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR),
        |   strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)), 1, 15)
        |  AS BIGINT)) AS VARCHAR) AS fingerprint
        |FROM orders""".stripMargin),
    Q("q_s1_csv_roundtrip", csvRoundtrip _,
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Q("q_csv_quoted", csvQuotedRoundtrip _,
      """WITH p AS (
        | SELECT doc_id, CASE
        |   WHEN doc_id % 3 = 0 THEN 'a,b "quoted" c' || chr(10) || 'next line,' || text
        |   WHEN doc_id % 3 = 1 THEN 'trailing,comma,and "quote"' || text
        |   ELSE text END AS text
        | FROM documents WHERE doc_id < 50)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | md5(text) AS digest
        |FROM p ORDER BY doc_id""".stripMargin),
    // same plant off the parquet source — the CSV trip must be
    // value-invisible, latin1 code points included
    Q("q_csv_latin1", csvLatin1Roundtrip _,
      """WITH p AS (
        | SELECT doc_id, 'café niño Çédille ü: ' || text AS text
        | FROM documents WHERE doc_id < 30)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | md5(text) AS digest
        |FROM p ORDER BY doc_id""".stripMargin),
    Q("q_orc_roundtrip", orcRoundtrip _,
      """SELECT l_returnflag, count(*) AS cnt,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | min(l_shipdate) AS first_ship
        |FROM lineitem WHERE l_quantity > 40
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_xml_roundtrip", xmlRoundtrip _,
      """SELECT n_regionkey, count(*) AS cnt,
        | min(n_name) AS first_name, max(n_name) AS last_name
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_s4_idempotent_write", idempotentWriteRoundtrip _,
      """SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey""".stripMargin),
    // the JDBC round-trip must preserve values exactly: oracle = the same
    // aggregate straight off the parquet source
    Q("q_jdbc_roundtrip", jdbcRoundtrip _,
      """SELECT n_regionkey, count(*) AS cnt, max(n_name) AS max_name
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_jsonl_roundtrip", jsonlRoundtrip _,
      """SELECT lang, count(*) AS cnt,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // per-file byte-identity vs the source rows: md5 over UTF-8 bytes is
    // the same value both engines compute over this ASCII corpus
    Q("q_binary_ingest", binaryIngest _,
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        | md5(text) AS digest
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin),
    Q("q_bucketed_join", bucketedJoin _,
      """SELECT o_orderstatus, count(*) AS cnt,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // partition pruning must not change results: oracle = the same year
    // slice straight off the unpartitioned source
    Q("q_partition_pruning", partitionedPrunedScan _,
      """SELECT o_orderstatus, count(*) AS cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_partition_overwrite", partitionDynamicOverwrite _,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | count(*) AS cnt,
        | CAST(SUM(CAST(CASE WHEN year(o_orderdate) = 1995
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |  AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    Q("q_erasure_rewrite", erasureRewrite _,
      """WITH b AS (
        | SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_custkey
        | FROM orders),
        |a AS (SELECT DISTINCT o_year FROM b WHERE o_custkey % 10000 = 7)
        |SELECT o_year,
        | CAST(count(CASE WHEN o_custkey % 10000 <> 7 THEN 1 END) AS BIGINT) AS cnt,
        | CAST(0 AS BIGINT) AS n_subject,
        | o_year IN (SELECT o_year FROM a) AS rewritten
        |FROM b GROUP BY o_year ORDER BY o_year""".stripMargin),
    // compaction must not change content: oracle = the same checksum
    // aggregate off the source, with the fewer-files effect pinned TRUE
    Q("q_compaction", compactionRoundtrip _,
      """SELECT count(*) AS cnt,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id,
        | TRUE AS compacted
        |FROM documents""".stripMargin),
    Q("q_corrupt_records", corruptRecordScan _,
      """SELECT count(*) AS good_rows, CAST(2 AS BIGINT) AS corrupt_rows
        |FROM orders""".stripMargin),
    Q("q_schema_merge", schemaMergeScan _,
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  )
}
