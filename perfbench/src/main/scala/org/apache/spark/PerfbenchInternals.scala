package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The two package-private Spark calls the benchmark harness needs. */
object PerfbenchInternals {
  /** Waits until the listener bus is empty: a traced pass must see every
    * job, stage, task and query-execution event it caused before its
    * per-layer numbers are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `graft_*` tables and views of the current database, each with
    * whether it is a temporary view. Read from the session catalog
    * directly, because `spark.catalog.listTables` runs a Spark job that
    * a traced pass would count. */
  def graftTables(spark: SparkSession): Set[(String, Boolean)] = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    cat.listTables(cat.getCurrentDatabase, "graft_*")
      .map(t => t.table -> cat.isTempView(t)).toSet
  }
}
