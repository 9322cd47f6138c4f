package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Scalar/derivation layer (SURVEY.md §2.2, §2.7) — every scalar the
  * reference computes, as pure Catalyst column expressions (zero UDFs, so
  * everything stays inside whole-stage codegen; SURVEY §2.8).
  */
object Scalars {

  /** P8 — geo binning: `lat_bin = (lat // size) * size`. Python floor
    * division rounds toward −∞ (critical for negative longitudes); Spark
    * `floor` matches. Ref: dags/etl_crash_traffic.py:609-610.
    */
  def geoBin(c: Column, size: Double = 0.5): Column = floor(c / size) * size

  /** P9 — bbox label synthesis `bbox_<lat>_<lng>` with Python `str(float)`
    * rendering (one decimal digit for halves: `35.0`, `-81.5`). `%.1f` is
    * exact for bins that are multiples of 0.5.
    * Ref: dags/etl_crash_traffic.py:611.
    */
  def bboxLabel(latBin: Column, lngBin: Column): Column =
    concat(lit("bbox_"), format_string("%.1f", latBin),
           lit("_"),     format_string("%.1f", lngBin))

  /** Z-order (Morton) code: interleave the low 16 bits of two
    * NON-NEGATIVE int columns (x → even bits, y → odd bits). The
    * data-layout key for the reference's two-dimensional geo bins at
    * scale: one sort by z before the write co-locates rows that are close
    * in BOTH dimensions, so parquet row-group min/max stats prune
    * lat-range AND lng-range predicates — a plain (lat, lng) sort only
    * prunes the leading column. Pure bit arithmetic (codegen'd, exactly
    * reproducible in SQL).
    */
  def zorder(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftright(x, i).bitwiseAND(1).cast("long") * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(1).cast("long") * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** P9 inverse — parse `bbox_<lat>_<lng>` back to (lat, lng) doubles.
    * Ref: dags/etl_crash_traffic.py:401-403.
    */
  def bboxLat(label: Column): Column =
    regexp_extract(label, "^bbox_(-?\\d+\\.\\d+)_(-?\\d+\\.\\d+)$", 1).cast("double")
  def bboxLng(label: Column): Column =
    regexp_extract(label, "^bbox_(-?\\d+\\.\\d+)_(-?\\d+\\.\\d+)$", 2).cast("double")

  /** P11 whitelists. Ref: dags/etl_crash_traffic.py:384-385, :390-391. */
  val trafficSignalValues: Seq[String] = Seq(
    "traffic_lights", "signal", "pedestrian_crossing", "ramp_meter",
    "level_crossing", "emergency", "bridge")
  val crossingValues: Seq[String] = Seq(
    "uncontrolled", "marked", "unmarked", "zebra", "pelican", "puffin", "toucan")

  /** P11 — `map_traffic_signal`: trim+lower, whitelist-else-unknown.
    * Ref: dags/etl_crash_traffic.py:383-387; cases test/test_bbox.py:6-9.
    */
  def mapTrafficSignal(c: Column): Column = {
    val v = lower(trim(c))
    when(v.isin(trafficSignalValues: _*), v).otherwise(lit("unknown"))
  }

  /** P11 — `map_crossing`: `;`-containing → "combinations", else whitelist.
    * Ref: dags/etl_crash_traffic.py:389-395; cases test/test_bbox.py:10-12.
    */
  def mapCrossing(c: Column): Column = {
    val v = lower(trim(c))
    when(v.contains(";"), lit("combinations"))
      .when(v.isin(crossingValues: _*), v)
      .otherwise(lit("unknown"))
  }

  /** P14 — ordered-categorical rank: position (1-based) of the trimmed value
    * in `levels`, 0 if absent. Ref: notebooks/002_EDA_csv.ipynb cell 12
    * (5-level most_severe_injury ordering). A when-chain keeps it codegen'd.
    */
  def ordinalRank(c: Column, levels: Seq[String]): Column = {
    val v = trim(c)
    val chain = levels.tail.zipWithIndex.foldLeft(when(v === levels.head, 1)) {
      case (acc, (lvl, i)) => acc.when(v === lvl, i + 2)
    }
    chain.otherwise(0)
  }

  /** P12 — stringified Python dict (`{'k': 'v'}`) → MAP<STRING,STRING>.
    * Quote-normalize then `from_json`; handles the flat single-quoted dicts
    * the reference's tags column carries (data/raw CSVs; SURVEY §7.3) and
    * is a no-op normalization for already-JSON input like `events.props`.
    * Ref: dags/etl_crash_traffic.py:427-429.
    */
  def parsePyDict(c: Column): Column =
    from_json(regexp_replace(c, "'", "\""), MapType(StringType, StringType))

  /** P7 — '' → NULL (reference `replace({'': None})`).
    * Ref: dags/etl_crash_traffic.py:603-604.
    */
  def emptyToNull(c: Column): Column = when(trim(c) === "", lit(null)).otherwise(c)
}
