package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** The `private[sql]` doorways custom operators need, re-exposed from
  * inside the `sql` package tree the way every extension library does.
  *
  *  - [[ofRows]]: wrap a [[LogicalPlan]] back into a user-facing
  *    DataFrame (Spark keeps `Dataset.ofRows` package-private).
  *  - [[unloadAllStateStores]]: drop this executor's loaded state-store
  *    providers. `StateStore.unloadAll` is `private[sql]`; a finished
  *    AvailableNow query's providers are otherwise cached forever (heap
  *    state + checkpoint-file-manager thread pool + maintenance-scan
  *    slice per provider — see StreamOps.drain).
  *  - [[extensionRegistry]]: the function registry a session booted with
  *    `ext` starts from (`SparkSessionExtensions.registerFunctions` is
  *    `private[sql]`).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  def extensionRegistry(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(FunctionRegistry.builtin.clone())
}
