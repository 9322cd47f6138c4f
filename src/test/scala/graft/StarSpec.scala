package graft

import graft.operators.Star
import org.apache.spark.sql.functions._

/** Star-schema semantics: surrogate determinism, dim resolution (mirrors
  * reference test/test_transform.py:11-29), anti-join idempotence.
  */
class StarSpec extends SparkSpec {
  import spark.implicits._

  test("surrogate keys deterministic across partitionings") {
    val base = Tables.customer(spark, sfDir)
    val a = Star.buildDim(base, Seq("c_mktsegment"), "id").collect().toSet
    val b = Star.buildDim(base.repartition(7), Seq("c_mktsegment"), "id").collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("newDimRows appends only new keys, ids continue from max, nulls not re-inserted") {
    val run1 = Seq((1, Option("A")), (2, Option("C")), (3, None)).toDF("id", "k")
    val dim1 = Star.buildDim(run1, Seq("k"), "k_id")
    // run 2 adds B (new), repeats A and the null key (must NOT re-insert)
    val run2 = Seq((4, Option("B")), (5, Option("A")), (6, None)).toDF("id", "k")
    val fresh = Star.newDimRows(dim1, run2, Seq("k"), "k_id")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(fresh == Set((Option("B"), 4L))) // only the new key, id = max(3)+1
    // extended dim = old rows untouched + appended rows; re-extending with
    // nothing new appends nothing (idempotent)
    val dim2 = dim1.unionByName(Star.newDimRows(dim1, run2, Seq("k"), "k_id"))
    assert(Star.newDimRows(dim2, run2, Seq("k"), "k_id").count() == 0)
    assert(dim2.count() == 4)
  }

  test("dim resolution on a one-row fact (reference transform fixture)") {
    // mirrors test/test_transform.py: seeded dims, single fact row, assert
    // the surrogate ids resolve through the broadcast left join
    val dimClima = Seq((10L, "Sunny"), (11L, "Rain")).toDF("clima_id", "weather")
    val dimLuz = Seq((20L, "Daylight")).toDF("luz_id", "lighting")
    val fact = Seq(("Sunny", "Daylight", 3), ("Hail", "Daylight", 4))
      .toDF("weather", "lighting", "injuries")
    val resolved = Star.resolveDims(fact,
      Seq((dimClima, Seq("weather")), (dimLuz, Seq("lighting"))))
      .orderBy("injuries").collect()
    assert(resolved(0).getAs[Long]("clima_id") == 10L)
    assert(resolved(0).getAs[Long]("luz_id") == 20L)
    // missing natural key -> null FK (the reference dict .get(None) path)
    assert(resolved(1).isNullAt(resolved(1).fieldIndex("clima_id")))
  }

  test("null natural keys: dim keeps them, null-safe resolve matches them") {
    // the reference builds dims from the SAME table it then probes, so a
    // None-keyed row always resolves; buildDim keeps the null combos and
    // resolveDims' <=> matches them (a USING join would orphan the FK)
    val src = Seq(
      (1, Option("BRAND#1"), Option("small")),
      (2, None, Option("small")),
      (3, Option("BRAND#1"), None),
      (4, None, None),
      (5, None, None)
    ).toDF("id", "brand", "ptype")
    val dim = Star.buildDim(src, Seq("brand", "ptype"), "dim_id")
    assert(dim.count() == 4) // all-null combo kept, once
    // nulls-last surrogate order: the all-null combo gets the LAST id
    val allNullId = dim.filter(col("brand").isNull && col("ptype").isNull)
      .select("dim_id").as[Long].head()
    assert(allNullId == 4L)
    val resolved = Star.resolveDims(src, Seq((dim, Seq("brand", "ptype"))))
    assert(resolved.filter(col("dim_id").isNull).count() == 0)
    // rows 4 and 5 share the all-null combo's id
    val ids = resolved.filter(col("id") >= 4).select("dim_id").as[Long].collect()
    assert(ids.toSet == Set(allNullId))
  }

  test("idempotent append adds zero rows when re-applied") {
    val orders = Tables.orders(spark, sfDir)
    val firstLoad = orders.limit(100)
    val second = Star.idempotentAppend(orders, firstLoad, Seq("o_orderkey"))
    assert(second.count() == orders.count() - 100)
    val third = Star.idempotentAppend(second, second, Seq("o_orderkey"))
    assert(third.count() == 0)
  }

  test("dims resolve every fact row in the flagship pipeline") {
    val fact = graft.operators.StarPipeline.fact(spark, sfDir)
    val n = fact.count()
    assert(n > 0)
    val unresolved = fact.filter(
      col("dim_date_id").isNull || col("dim_status_id").isNull ||
      col("dim_priority_id").isNull || col("dim_flags_id").isNull).count()
    assert(unresolved == 0)
  }

  test("scd2 merge: unchanged pass-through, change closes+reopens, re-merge idempotent") {
    import spark.implicits._
    import graft.operators.Scd
    val v1 = Seq((1L, "A"), (2L, "B"), (3L, null.asInstanceOf[String]))
      .toDF("k", "attr")
    val dim0 = Scd.scd2Init(v1, 0)
    // batch 1: key 1 changes, key 2 unchanged, key 3 keeps its NULL attr
    // (null-safe compare: no spurious new version), key 4 is new, and
    // key 2 is ABSENT from the snapshot on batch 2 (stays open)
    val v2 = Seq((1L, "A2"), (2L, "B"), (3L, null.asInstanceOf[String]),
      (4L, "D")).toDF("k", "attr")
    val dim1 = Scd.scd2Merge(dim0, v2, Seq("k"), Seq("attr"), 1)
    val rows = dim1.orderBy("k", "version")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getInt(2), r.getInt(3), Option(r.get(4)), r.getBoolean(5))).toSeq
    assert(rows == Seq(
      (1L, Some("A"), 1, 0, Some(1), false),
      (1L, Some("A2"), 2, 1, None, true),
      (2L, Some("B"), 1, 0, None, true),
      (3L, None, 1, 0, None, true),
      (4L, Some("D"), 1, 1, None, true)), rows.toString)
    // re-merging the identical snapshot at batch 2 changes nothing
    val dim2 = Scd.scd2Merge(dim1, v2, Seq("k"), Seq("attr"), 2)
    assert(dim2.orderBy("k", "version").collect().toSeq ==
      dim1.orderBy("k", "version").collect().toSeq)
    // a snapshot missing key 2 leaves its row open (absence ≠ delete)
    val dim3 = Scd.scd2Merge(dim1, v2.filter($"k" =!= 2L), Seq("k"), Seq("attr"), 2)
    val k2 = dim3.filter($"k" === 2L).collect()
    assert(k2.length == 1 && k2(0).getBoolean(5))
  }

  test("full DAG chain is idempotent: second run changes no warehouse count") {
    import graft.operators.Pipeline
    val wh = Scratch.dir("pipeline_wh_test")
    Pipeline.reset(wh)
    Pipeline.runOnce(spark, sfDir, wh)
    val c1 = Pipeline.warehouseCounts(spark, wh).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Pipeline.runOnce(spark, sfDir, wh)
    val c2 = Pipeline.warehouseCounts(spark, wh).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c1 == c2, s"second DAG run changed counts:\n$c1\nvs\n$c2")
    assert(c1("flat_fact") == c1("star_fact") && c1("flat_fact") > 0)
    // and the fact FKs resolved against the LOADED dims are all present
    val fact = spark.read.parquet(s"$wh/star_fact")
    val unresolved = fact.filter(
      graft.operators.StarPipeline.dimSpecs.map { case (n, _) =>
        col(n + "_id").isNull
      }.reduce(_ || _)).count()
    assert(unresolved == 0)
  }

  test("a DAG run starts every Spark job inside a SQL execution") {
    import graft.operators.Pipeline
    // the source tables' schemas are known once each table was loaded
    // (events first: it sets the conf the other loads are keyed under)
    Tables.events(spark, sfDir)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach(Tables.load(spark, sfDir, _))
    val wh = Scratch.dir("pipeline_wh_jobs_test")
    Pipeline.reset(wh)
    val jobs = jobsDuring {
      Pipeline.runOnce(spark, sfDir, wh)
      Pipeline.runIncremental(spark, sfDir, wh)
    }
    val bare = jobs.filter(_.getProperty("spark.sql.execution.id") == null)
    assert(jobs.nonEmpty)
    assert(bare.size == 0, s"of ${jobs.size} jobs, this many ran outside a SQL execution")
  }
}
