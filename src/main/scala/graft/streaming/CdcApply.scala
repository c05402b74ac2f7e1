package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming CDC apply — the streaming form of q62's MERGE/upsert: a
  * change feed consumed micro-batch by micro-batch, each batch merged
  * into a VersionedTable inside `foreachBatch` and committed as one
  * table version.
  *
  * This is the shape every Delta/Iceberg "streaming MERGE INTO" runs:
  *   - the change source is replayed ONE FILE PER MICRO-BATCH
  *     (`maxFilesPerTrigger=1`, public API — no internal test sources),
  *     standing in for a Kafka/CDC topic;
  *   - `foreachBatch` gives the batch DataFrame + a monotonically
  *     increasing batch id; inside it the merge is exactly q62's
  *     co-partitioned full-outer join (delete wins, update patches,
  *     insert appends) under an atomic table commit.
  *
  * At 100 TB each batch commit rewrites only touched files; the
  * per-batch dataflow — shuffle on the merge key, full-outer, filter-out
  * deletes — is identical to this one.
  */
object CdcApply {

  val changeSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("op", StringType),
    StructField("new_name", StringType),
    StructField("new_bal", DoubleType)))

  /** One CDC batch merged into the snapshot — q62's merge core. */
  def mergeBatch(snapshot: DataFrame, changes: DataFrame): DataFrame =
    snapshot.join(changes, Seq("c_custkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("c_custkey"),
        coalesce(col("new_name"), col("c_name")).as("c_name"),
        coalesce(col("new_bal"), col("c_acctbal")).as("c_acctbal"))

  /** CDC apply writing THROUGH the transaction log: each micro-batch is
    * merged against the table's latest snapshot and committed as one
    * durable version (graft.table.VersionedTable.merge — q62's merge
    * core under an atomic commit). Each trigger is a real table version,
    * so a consumer can time-travel to any batch boundary and a restart
    * resumes from durable state (checkpoint = source cursor, log =
    * committed state — two cursors, both on disk).
    * The merge targets `latestVersion` INSIDE foreachBatch: micro-batches
    * are serialized by the stream execution thread, so each commit reads
    * the version the previous batch produced and conflicts cannot arise
    * from this writer; a concurrent foreign writer surfaces as
    * CommitConflictException, failing the stream rather than losing its
    * commit (fail-fast beats silent lost update). Each commit records
    * its batch id as a transaction cursor, so foreachBatch's
    * at-least-once replays are detected and skipped (see the body).
    */
  def runThroughTable(spark: SparkSession, table: graft.table.VersionedTable,
                      changesDir: String,
                      queryName: String = "cdc_apply_table",
                      checkpointDir: Option[String] = None): Unit = {
    val feed = spark.readStream
      .schema(changeSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(changesDir)
    val writer = feed.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is AT-LEAST-once: a crash between the table commit
        // and the stream's own commit log replays the batch on restart.
        // The table commit therefore records the batch id (txn), and a
        // replayed id <= the last committed one is skipped — the public
        // Delta txnAppId/txnVersion idempotence pattern, making the
        // end-to-end pipeline exactly-once. Empty replays are skipped
        // too (an empty merge would still commit a rewrite version).
        val alreadyApplied = table.lastTxnId.exists(_ >= batchId)
        if (!alreadyApplied && !batch.isEmpty)
          table.merge(spark, batch, table.latestVersion, txnId = Some(batchId)): Unit
      }
    val q = checkpointDir
      .fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}
