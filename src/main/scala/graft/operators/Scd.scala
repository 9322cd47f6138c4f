package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension Type 2 — versioned dimension history.
  *
  * The reference freezes each dimension at first build (skip-guarded
  * inserts, dags/etl_crash_traffic.py:678-690) and Star.extendDim adds
  * Type-1-style growth (new keys only). This completes the warehouse
  * story with the Type-2 contract a long-lived 100 TB dimension needs:
  * attribute changes CLOSE the old row (`valid_to`, `is_current=false`)
  * and open a successor version, so facts loaded under the old attributes
  * keep joining to the history row that was true when they were loaded.
  *
  * Batch stamps are integers (load numbers), not wall-clock timestamps —
  * deterministic for the oracle and exactly how reprocessable pipelines
  * should version anyway (a re-run of batch N must produce batch N again).
  *
  * Scale posture: everything is dimension-sized. One full-outer equi-join
  * of current rows vs the incoming snapshot per merge — no windows, no
  * ranking (versions derive from `old.version + 1`, not row_number), so
  * nothing funnels through a single task no matter how large the
  * dimension grows. Closed history rows pass through untouched.
  */
object Scd extends QueryModule {

  /** First load: every snapshot row opens version 1 at `batch`. */
  def scd2Init(snapshot: DataFrame, batch: Int): DataFrame =
    snapshot
      .withColumn("version", lit(1))
      .withColumn("valid_from", lit(batch))
      .withColumn("valid_to", lit(null).cast("int"))
      .withColumn("is_current", lit(true))

  /** Merge an incoming snapshot into the dim at `batch`:
    *  - matched, tracked attrs unchanged (null-safe)  → row passes through;
    *  - matched, any attr changed → old row closes (`valid_to = batch`),
    *    successor opens with `version + 1`;
    *  - key only in snapshot → brand-new version-1 row;
    *  - key only in dim → stays open (absence from a snapshot is not a
    *    delete; soft-delete would be one more `when` branch).
    * `dim` must carry key ++ attrs ++ version/valid_from/valid_to/
    * is_current, as produced by [[scd2Init]] / earlier merges.
    */
  def scd2Merge(dim: DataFrame, snapshot: DataFrame, key: Seq[String],
                attrs: Seq[String], batch: Int): DataFrame = {
    val closedHistory = dim.filter(!col("is_current"))
    val current = dim.filter(col("is_current"))
    // presence markers, not attr-null inference: a tracked attribute that
    // is legitimately NULL in the snapshot must not read as "absent"
    val snap = attrs.foldLeft(snapshot)((d, a) => d.withColumnRenamed(a, s"__new_$a"))
      .withColumn("__in_snap", lit(true))
    val j = current.withColumn("__in_dim", lit(true)).join(snap, key, "full_outer")
    val changed = attrs.map(a => !(col(a) <=> col(s"__new_$a"))).reduce(_ || _)
    val inSnap = col("__in_snap").isNotNull
    val inDim = col("__in_dim").isNotNull
    val cols = key ++ attrs ++ Seq("version", "valid_from", "valid_to", "is_current")
    // surviving current rows: unchanged, or not in this snapshot — or the
    // closing stamp when the attrs changed
    val fromCurrent = j.filter(inDim)
      .select((key.map(col) ++ attrs.map(col) ++ Seq(
        col("version"), col("valid_from"),
        when(inSnap && changed, lit(batch)).otherwise(col("valid_to")).as("valid_to"),
        (!(inSnap && changed)).as("is_current"))): _*)
    // opened rows: successor versions for changes, version 1 for new keys
    val opened = j.filter(inSnap && (!inDim || changed))
      .select((key.map(col) ++ attrs.map(a => col(s"__new_$a").as(a)) ++ Seq(
        (coalesce(col("version"), lit(0)) + 1).as("version"),
        lit(batch).as("valid_from"),
        lit(null).cast("int").as("valid_to"),
        lit(true).as("is_current"))): _*)
    closedHistory.select(cols.map(col): _*)
      .unionByName(fromCurrent).unionByName(opened)
  }

  /** The gated end-to-end scenario: initial load of the even-keyed
    * customers' segment at batch 0, then a batch-1 snapshot of ALL
    * customers where negative-balance accounts have moved to 'LAPSED' —
    * exercising every path: unchanged rows, closed+reopened changes, and
    * brand-new keys (the odd custkeys).
    */
  def scd2CustomerDim(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val v1 = cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val v2 = cust.select(col("c_custkey"),
      when(col("c_acctbal") < 0, lit("LAPSED"))
        .otherwise(col("c_mktsegment")).as("seg"))
    scd2Merge(scd2Init(v1, 0), v2, Seq("c_custkey"), Seq("seg"), 1)
      .orderBy("c_custkey", "version")
  }

  /** CDC CHANGELOG APPLY — the consumer side of change-data-capture (the
    * Debezium/Delta-MERGE shape): given a base snapshot and an ordered
    * changelog of (op ∈ I/U/D, key, payload, seq), produce the final
    * table state — last writer per key wins, a trailing D tombstone
    * removes the key, unseen keys pass through, new keys insert. The
    * batch twin of q_stream_upsert, with DELETES (the case upsert alone
    * never covers).
    *
    * Scale posture: the base rides the same union as the log (seq 0), so
    * the whole apply is ONE per-key argmax — max(struct(seq, ...)) with
    * map-side partial aggregation, no windows, no join, one shuffle at
    * key cardinality. That is the "compact the changelog" job a lakehouse
    * runs at any scale; ordering never funnels through a single task.
    * Payload comparison never reaches the non-key struct fields (seq is
    * unique per key by contract), so doubles in the payload can't wobble
    * the argmax.
    */
  def cdcApply(all: DataFrame, keyCol: String): DataFrame =
    all.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_versions"),
        max(struct(col("seq"), col("op"), col("status"), col("price")))
          .as("f"))
      .filter(col("f.op") =!= "D")
      .select(col(keyCol), col("f.status").as("final_status"),
        col("f.price").cast("double").as("final_price"), col("n_versions"))

  /** POINT-IN-TIME (PIT) JOIN against the SCD2 dimension — the reason
    * Type-2 history exists at all: each fact joins to the dimension row
    * that was VALID AT THE FACT'S LOAD BATCH (valid_from ≤ batch <
    * valid_to), never to today's row. Facts carry batch = orderkey % 2
    * so both dimension loads are exercised; batch-0 facts for odd
    * customers match nothing (the dim didn't know the key yet) and
    * surface as the NULL-attribute bucket — the honest "early fact"
    * case a PIT join must not silently drop.
    *
    * Scale posture: a PIT join is an equi-join on the key with a range
    * residual — the dimension (version-multiplied but still
    * dimension-sized) broadcasts, so the fact side stays map-only
    * exactly like the star joins; no windows, no as-of sort. The
    * readout aggregates to (batch, seg, version) cardinality.
    */
  def pitJoin(s: SparkSession, d: String): DataFrame = {
    val dim = scd2CustomerDim(s, d)
    val facts = Tables.orders(s, d).select(col("o_custkey"),
      (col("o_orderkey") % 2).cast("int").as("batch"))
    facts.join(broadcast(dim),
        facts("o_custkey") === dim("c_custkey") &&
          col("batch") >= col("valid_from") &&
          (col("valid_to").isNull || col("batch") < col("valid_to")),
        "left")
      .groupBy(col("batch"), col("seg"), col("version"))
      .agg(count(lit(1)).as("n_facts"))
      .orderBy("batch", "seg", "version")
  }

  def entries: Seq[Q] = Seq(
    // the three SCD2 outcomes spelled out relationally
    Q("q_scd2_dim", scd2CustomerDim _,
      """WITH v1 AS (SELECT c_custkey, c_mktsegment AS seg FROM customer
        |            WHERE c_custkey % 2 = 0),
        |v2 AS (SELECT c_custkey,
        |        CASE WHEN c_acctbal < 0 THEN 'LAPSED' ELSE c_mktsegment END AS seg
        |       FROM customer)
        |SELECT v1.c_custkey, v1.seg, 1 AS version, 0 AS valid_from,
        |       CAST(NULL AS INTEGER) AS valid_to, true AS is_current
        |FROM v1 JOIN v2 USING (c_custkey) WHERE v1.seg = v2.seg
        |UNION ALL
        |SELECT v1.c_custkey, v1.seg, 1, 0, 1, false
        |FROM v1 JOIN v2 USING (c_custkey) WHERE v1.seg <> v2.seg
        |UNION ALL
        |SELECT v2.c_custkey, v2.seg,
        |       CASE WHEN v1.c_custkey IS NULL THEN 1 ELSE 2 END, 1,
        |       CAST(NULL AS INTEGER), true
        |FROM v2 LEFT JOIN v1 USING (c_custkey)
        |WHERE v1.c_custkey IS NULL OR v1.seg <> v2.seg
        |ORDER BY c_custkey, version""".stripMargin),
    Q("q_pit_join", pitJoin _,
      """WITH v1 AS (SELECT c_custkey, c_mktsegment AS seg FROM customer
        |            WHERE c_custkey % 2 = 0),
        |v2 AS (SELECT c_custkey,
        |        CASE WHEN c_acctbal < 0 THEN 'LAPSED' ELSE c_mktsegment END AS seg
        |       FROM customer),
        |dim AS (
        | SELECT v1.c_custkey, v1.seg, 1 AS version, 0 AS valid_from,
        |        CAST(NULL AS INTEGER) AS valid_to
        | FROM v1 JOIN v2 USING (c_custkey) WHERE v1.seg = v2.seg
        | UNION ALL
        | SELECT v1.c_custkey, v1.seg, 1, 0, 1
        | FROM v1 JOIN v2 USING (c_custkey) WHERE v1.seg <> v2.seg
        | UNION ALL
        | SELECT v2.c_custkey, v2.seg,
        |        CASE WHEN v1.c_custkey IS NULL THEN 1 ELSE 2 END, 1,
        |        CAST(NULL AS INTEGER)
        | FROM v2 LEFT JOIN v1 USING (c_custkey)
        | WHERE v1.c_custkey IS NULL OR v1.seg <> v2.seg),
        |f AS (SELECT o_custkey,
        |       CAST(o_orderkey % 2 AS INTEGER) AS batch FROM orders)
        |SELECT f.batch, d.seg, d.version, count(*) AS n_facts
        |FROM f LEFT JOIN dim d ON f.o_custkey = d.c_custkey
        | AND f.batch >= d.valid_from
        | AND (d.valid_to IS NULL OR f.batch < d.valid_to)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // planted changelog over orders: every 10th key updated (seq 1),
    // every 100th then deleted (seq 2 — exercises update-then-delete
    // ordering), 50 brand-new keys inserted; everyone else passes through
    Q("q_cdc_merge", { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
        lit(0L).as("seq"), lit("I").as("op"))
      val upd = base.filter(col("k") % 10 === 0)
        .select(col("k"), lit("X").as("status"),
          (col("price") + 1000).cast(DecimalType(18, 2)).as("price"),
          lit(1L).as("seq"), lit("U").as("op"))
      val del = base.filter(col("k") % 100 === 0)
        .select(col("k"), lit(null).cast("string").as("status"),
          lit(null).cast(DecimalType(18, 2)).as("price"),
          lit(2L).as("seq"), lit("D").as("op"))
      val ins = base.filter(col("k") < 50)
        .select((col("k") + 900000000L).as("k"), lit("N").as("status"),
          lit(42.42).cast(DecimalType(18, 2)).as("price"),
          lit(1L).as("seq"), lit("I").as("op"))
      cdcApply(base.unionByName(upd).unionByName(del).unionByName(ins), "k")
        .withColumnRenamed("k", "o_orderkey")
        .orderBy("o_orderkey")
    },
      """WITH base AS (
        | SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |  CAST(0 AS BIGINT) AS seq, 'I' AS op
        | FROM orders),
        |upd AS (
        | SELECT k, 'X' AS status,
        |  CAST(price + 1000 AS DECIMAL(18,2)) AS price,
        |  CAST(1 AS BIGINT) AS seq, 'U' AS op
        | FROM base WHERE k % 10 = 0),
        |del AS (
        | SELECT k, CAST(NULL AS VARCHAR) AS status,
        |  CAST(NULL AS DECIMAL(18,2)) AS price,
        |  CAST(2 AS BIGINT) AS seq, 'D' AS op
        | FROM base WHERE k % 100 = 0),
        |ins AS (
        | SELECT k + 900000000 AS k, 'N' AS status,
        |  CAST(42.42 AS DECIMAL(18,2)) AS price,
        |  CAST(1 AS BIGINT) AS seq, 'I' AS op
        | FROM base WHERE k < 50),
        |allv AS (
        | SELECT * FROM base UNION ALL SELECT * FROM upd
        | UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins),
        |r AS (
        | SELECT k, status, price, op,
        |  row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn,
        |  CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n_versions
        | FROM allv)
        |SELECT k AS o_orderkey, status AS final_status,
        | CAST(price AS DOUBLE) AS final_price, n_versions
        |FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin)
  )
}
