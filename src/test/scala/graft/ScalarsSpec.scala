package graft

import graft.functions.Scalars
import org.apache.spark.sql.functions._

/** Scalar-layer semantics, porting the reference's unit cases
  * (test/test_bbox.py:6-12) and SURVEY §5 property tests.
  */
class ScalarsSpec extends SparkSpec {
  import spark.implicits._

  private def normSignal(v: String): String = {
    val df = Seq(v).toDF("raw").select(Scalars.mapTrafficSignal(col("raw")).as("out"))
    df.collect()(0).getString(0)
  }
  private def normCrossing(v: String): String = {
    val df = Seq(v).toDF("raw").select(Scalars.mapCrossing(col("raw")).as("out"))
    df.collect()(0).getString(0)
  }

  // exact cases from reference test/test_bbox.py:6-12
  test("map_traffic_signal reference cases") {
    assert(normSignal("signal") == "signal")
    assert(normSignal(" TRAFFIC_lights ") == "traffic_lights")
    assert(normSignal("nonsense") == "unknown")
  }
  test("map_crossing reference cases") {
    assert(normCrossing("marked;unmarked") == "combinations")
    assert(normCrossing("Zebra") == "zebra")
    assert(normCrossing("whatever") == "unknown")
  }

  // property: normalizer output closed over whitelist ∪ {unknown, combinations}
  test("normalizer whitelist closure") {
    val rnd = new scala.util.Random(42)
    val samples = Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(12)).mkString) ++
      Seq("", " ", "a;b", "ZEBRA", " puffin ", "pelican;toucan")
    samples.foreach { v =>
      val out = normCrossing(v)
      assert(Scalars.crossingValues.contains(out) || out == "unknown" || out == "combinations")
    }
  }

  // property: floor binning invariants incl. negatives (ref :609-610)
  test("geo binning invariants") {
    val vals = Seq(-180.0, -81.3, -0.2, 0.0, 0.49, 35.77, 89.99).toDF("x")
      .select(col("x"), Scalars.geoBin(col("x")).as("bin"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    vals.foreach { case (x, bin) =>
      assert(bin <= x && x < bin + 0.5, s"$x -> $bin")
      assert((bin / 0.5) == math.floor(bin / 0.5))
    }
  }

  // property: label format/parse inverse on half-steps (ref :611 vs :401-403)
  test("bbox label roundtrip matches Python str(float) halves") {
    val df = Seq((35.0, -81.5), (-0.5, 0.0), (12.5, -179.5)).toDF("lat", "lng")
      .select(Scalars.bboxLabel(col("lat"), col("lng")).as("label"),
        col("lat"), col("lng"))
      .withColumn("lat_rt", Scalars.bboxLat(col("label")))
      .withColumn("lng_rt", Scalars.bboxLng(col("label")))
    df.collect().foreach { r =>
      assert(r.getAs[String]("label") ==
        s"bbox_${r.getAs[Double]("lat")}_${r.getAs[Double]("lng")}")
      assert(r.getAs[Double]("lat_rt") == r.getAs[Double]("lat"))
      assert(r.getAs[Double]("lng_rt") == r.getAs[Double]("lng"))
    }
  }

  test("python dict string parses to map (single-quote normalization)") {
    val tags = "{'highway': 'traffic_signals', 'traffic_signals': 'signal'}"
    val m = Seq(tags).toDF("tags")
      .select(Scalars.parsePyDict(col("tags")).as("m"))
      .select(col("m").getItem("traffic_signals").as("v"))
      .collect()(0).getString(0)
    assert(m == "signal")
  }

  test("ordinal rank over 5 severity levels") {
    val levels = Seq("NONE", "MINOR", "MODERATE", "SEVERE", "FATAL")
    val out = Seq("NONE", "FATAL", "bogus", " MINOR ").toDF("v")
      .select(Scalars.ordinalRank(col("v"), levels).as("r"))
      .collect().map(_.getInt(0)).toSeq
    assert(out == Seq(1, 5, 0, 2))
  }

  test("empty-to-null") {
    val out = Seq("x", "", " ").toDF("s")
      .select(Scalars.emptyToNull(col("s")).as("e"))
      .collect()
    assert(out(0).getString(0) == "x")
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }
  test("zorder interleaves bits (known values)") {
    import spark.implicits._
    val got = Seq((0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535))
      .toDF("x", "y")
      .select(graft.functions.Scalars.zorder(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // (3,5): x bits 0,1 -> positions 0,2 = 5; y bits 0,2 -> positions 1,5 = 34
    assert(got == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
  }

  test("GraftExtensions deployment entry point applies cleanly") {
    // spark.sql.extensions instantiates this class reflectively in every
    // session of a deployment; signature rot in the inject calls must
    // fail here, not at cluster boot
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
  }
}
