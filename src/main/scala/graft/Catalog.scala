package graft

import org.apache.spark.sql.SparkSession

/** One-call SQL bootstrap: after `Catalog.register(spark, dir)` a user
  * works PURELY in `spark.sql` — every testdata table is a temp view
  * under its natural name, every native expression the library ships
  * (`minhash_sig`, `shingle_hashes`, `sorted_overlap`, `fold_dot`,
  * `pq_encode`, …) resolves by name, and the versioned-table history
  * source reads via `graft-table-log`. This is the switch-over surface
  * for a SQL-first user of the reference: no DataFrame code required.
  *
  * Registration is idempotent (temp views and temp functions both
  * replace), session-scoped, and does NOT require the session to have
  * been built with `GraftExtensions` — although building with the
  * extension (or `spark.sql.extensions=graft.functions.GraftExtensions`)
  * additionally enables the optimizer rule
  * `RewriteRankLimitToNativeTopK`, which plain function registration
  * cannot inject.
  */
object Catalog {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def register(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    tableNames.foreach {
      case "events" =>
        // routed through Tables.events: the nanos->micros conversion must
        // not be bypassable by the SQL surface
        Tables.events(spark, dir).createOrReplaceTempView("events")
      case n => Tables.table(spark, dir, n).createOrReplaceTempView(n)
    }
  }
}
