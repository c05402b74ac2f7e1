package graft.sources

import java.io.RandomAccessFile
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Index-maintenance operations on a graft-columnar directory: RETROFIT
  * per-block Bloom filters onto an EXISTING table (r15 verdict item #7)
  * the way `compact` retrofits layout — q335's `bloomFor` write option
  * made available after the fact, without rewriting a byte of data.
  *
  * Mechanism: blooms live in the FOOTER (per block, per column), and the
  * footer is the file's tail. Each file is processed independently —
  * read its footer, decode ONLY the target columns' segments block by
  * block (bounded memory: one segment at a time through the normal
  * decode path), build the bloom bits, then truncate the old footer off
  * and append the new one. Data segments are byte-identical (spec-
  * pinned); file NAMES are unchanged, so snapshots, streaming offsets
  * and any `files`-scoped readers are unaffected. Only the head
  * snapshot's files are indexed.
  *
  * Scale shape: the work is one column-scoped scan of the indexed
  * columns (the same bytes a query on them would read), parallelized
  * one task per file across the cluster; footer growth is 1 byte/row
  * per indexed column. Crash caveat: the footer rewrite happens IN
  * PLACE, outside the snapshot log — the truncate+append is NOT atomic,
  * so a crash mid-footer leaves that one file unreadable until the op
  * is re-run (single-writer maintenance contract; the clean fix is to
  * write new files and commit them as a snapshot, as the row ops do).
  */
object GcolIndexOps {

  /** Add footer blooms for `cols` to every data file that lacks them.
    * Idempotent: blocks that already carry a bloom for a column are
    * left alone, so re-running after a partial failure completes the
    * job.
    */
  def addBloom(spark: SparkSession, dir: String, cols: Set[String]): Unit = {
    val schema = ColumnarFormat.tableSchema(dir)
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.nonEmpty, s"bloom column `$c` not in table")
      require(f.get.dataType match {
        case IntegerType | DateType | LongType | TimestampType |
             TimestampNTZType | StringType => true
        case _ => false
      }, s"bloom supports int/date/long/timestamp/string, `$c` is " +
        f.get.dataType.simpleString)
    }
    val lin = ColumnarFormat.lineage(dir)
    val files = ColumnarFormat.scopedFiles(dir, None).map(_.toString)
    if (files.isEmpty) return
    // one task per file: the decode + footer rewrite is file-local work
    spark.sparkContext.parallelize(files, files.size)
      .foreach(f => addBloomToFile(f, cols, lin))
  }

  /** File-local worker (runs on executors): decode the target columns'
    * segments, build per-block blooms, rewrite the footer in place.
    */
  private[sources] def addBloomToFile(path: String, cols: Set[String],
                                      lin: Map[String, Seq[String]]): Unit = {
    val p: Path = Paths.get(path)
    val footer = ColumnarFormat.readFooter(p)
    // table names -> this file's LOCAL column indices (rename lineage);
    // a column that postdates the file has nothing to index here
    val targetIdx: Set[Int] = cols.flatMap(c =>
      ColumnarFormat.resolveName(footer.schema, c, lin)
        .flatMap(n => ColumnarFormat.fieldIdx(footer.schema, n)))
    if (targetIdx.isEmpty) return
    if (footer.blockList.forall(b =>
      targetIdx.forall(i => b.cols(i).bloom.isDefined))) return // idempotent
    var blkIdx = -1
    val newBlocks = footer.blockList.map { bm =>
      blkIdx += 1
      val newCols = bm.cols.zipWithIndex.map { case (cm, ci) =>
        if (!targetIdx.contains(ci) || cm.bloom.isDefined) cm
        else {
          val field = footer.schema.fields(ci)
          val desc = GcolBlockDesc(path, bm.rows,
            Array(cm.off), Array(cm.len), Array(cm.rawLen),
            footer.codec, Array(cm.enc), blkIdx)
          val batch = ColumnarFormat.decodeBlock(desc,
            StructType(Seq(field)), 0)
          try {
            val v = batch.column(0)
            val bits = new Array[Byte](math.max(8, bm.rows))
            var r = 0
            while (r < bm.rows) {
              if (!v.isNullAt(r)) {
                val bytes = field.dataType match {
                  case StringType => v.getUTF8String(r).getBytes
                  case IntegerType | DateType =>
                    ColumnarFormat.bloomCanonical(v.getInt(r)).get
                  case _ => ColumnarFormat.bloomCanonical(v.getLong(r)).get
                }
                ColumnarFormat.bloomAdd(bits, bytes)
              }
              r += 1
            }
            cm.copy(bloom = Some(bits))
          } finally batch.close()
        }
      }
      ColumnarFormat.BlockMeta(bm.rows, newCols)
    }
    // the footer is the tail: truncate it off and append the new one —
    // data segments stay byte-identical
    val dataEnd = footer.blockList.iterator
      .flatMap(_.cols.iterator.map(c => c.off + c.len)).max
    val raf = new RandomAccessFile(p.toFile, "rw")
    try {
      val chan = raf.getChannel
      chan.truncate(dataEnd)
      chan.position(dataEnd)
      // every footer field must survive the rewrite — dropping
      // bucketSpec here would silently un-bucket the table's SPJ layout
      ColumnarFormat.writeFooter(chan, footer.schema, newBlocks,
        footer.codec, footer.clusterBy, footer.bucketSpec)
    } finally raf.close()
  }
}
