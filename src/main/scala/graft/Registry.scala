package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query: its name, its Spark builder and its oracle, the DuckDB SQL
  * over the same parquet tables that must return the builder's rows. The
  * oracle is by-name and rendered once, on first use, so building the
  * query map renders no SQL.
  */
final class Q(val name: String, val build: (SparkSession, String) => DataFrame,
              sql: => String) {
  lazy val oracle: String = sql
}

object Q {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String): Q = new Q(name, build, oracle)

  /** name → builder; fails, naming them, on names listed twice. */
  def queries(entries: Seq[Q]): Map[String, (SparkSession, String) => DataFrame] =
    unique(entries).map(q => q.name -> q.build).toMap

  /** name → oracle SQL; fails, naming it, on a blank oracle and on names
    * listed twice.
    */
  def oracles(entries: Seq[Q]): Map[String, String] =
    unique(entries).map { q =>
      require(q.oracle != null && q.oracle.trim.nonEmpty, s"query ${q.name} has a blank oracle")
      q.name -> q.oracle
    }.toMap

  private def unique(entries: Seq[Q]): Seq[Q] = {
    val twice = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query names listed twice: ${twice.toSeq.sorted.mkString(", ")}")
    entries
  }
}

/** A module's queries, declared once as [[entries]]; both maps derive from
  * that list.
  */
trait QueryModule {
  /** A def, not a val: oracles read other modules' oracles, and a val that
    * closes an object-initialisation cycle would hold a null oracle instead
    * of failing.
    */
  def entries: Seq[Q]

  final def queries: Map[String, (SparkSession, String) => DataFrame] = Q.queries(entries)
  final def oracles: Map[String, String] = Q.oracles(entries)
}
