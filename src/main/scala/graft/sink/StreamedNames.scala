package graft.sink

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Materialize a driver-side string iterator as a DISK-BACKED
  * single-column DataFrame: fixed-size batches append to a temp
  * parquet table the returned frame reads, so driver heap stays
  * O(batch) however long the iterator runs. This is the bridge from
  * the metadata APIs that only exist as driver iterators (Hadoop
  * `RemoteIterator` listings) into the
  * engine's anti-join paths — the alternative, `createDataset` of a
  * collected Seq, pins the whole listing in a driver `LocalRelation`.
  *
  * Disk lifetime is the CALLER's to bound — a long-running streaming
  * job calls this per micro-batch, so leaving every spool behind for
  * the JVM lifetime would accumulate one listing copy per batch:
  * [[spool]] returns a handle; `close()` it in a `finally` once the
  * consuming job (anti-join, collect) has materialized.
  */
private[graft] object StreamedNames {

  /** A spooled frame plus the backing dir; `close()` deletes the dir.
    * The frame is unreadable after close — consume first.
    */
  final case class Spool(df: DataFrame, count: Long, dir: JPath) {
    def close(): Unit =
      if (Files.exists(dir)) {
        val s = Files.walk(dir)
        try {
          s.sorted(java.util.Comparator.reverseOrder[JPath]())
            .forEach(p => Files.deleteIfExists(p))
        } finally s.close()
      }
  }

  /** Stream `names` into a disk-backed frame with column `colName`,
    * returning a [[Spool]] the caller must `close()` after consuming.
    */
  def spool(
      spark: SparkSession,
      colName: String,
      names: Iterator[String],
      batch: Int = 1 << 16): Spool = {
    val dir = Files.createTempDirectory("graft-streamed-names")
    val (df, n) = fill(spark, colName, names, batch, dir)
    Spool(df, n, dir)
  }

  private def fill(
      spark: SparkSession,
      colName: String,
      names: Iterator[String],
      batch: Int,
      dir: JPath): (DataFrame, Long) = {
    import spark.implicits._
    var n = 0L
    val buf = new scala.collection.mutable.ArrayBuffer[String](batch)
    def flush(): Unit = if (buf.nonEmpty) {
      spark.createDataset(buf.toSeq).toDF(colName)
        .coalesce(1).write.mode(SaveMode.Append).parquet(dir.toString)
      buf.clear()
    }
    while (names.hasNext) {
      buf += names.next()
      n += 1
      if (buf.length >= batch) flush()
    }
    flush()
    val df =
      if (n == 0L) spark.emptyDataset[String].toDF(colName)
      else spark.read.parquet(dir.toString)
    (df, n)
  }
}
