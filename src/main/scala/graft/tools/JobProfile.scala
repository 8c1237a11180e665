package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.{GraftSession, SparkEntry}

/** Dev-only measurement harness (guide §1): run ONE conformance query
  * under a SparkListener that records every job's wall time and call
  * site, then print the breakdown sorted by cost. This is how the
  * round-13 optimization pass attributes a gate's seconds to specific
  * store/driver code paths before touching anything.
  *
  * Usage: runMain graft.tools.JobProfile <query> [sfDir]
  */
object JobProfile {

  private case class JobRec(id: Int, desc: String, site: String,
      execId: String, start: Long, var end: Long = -1L)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [sfDir]")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.install(GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)

    // warmup (JIT/codegen) at the smallest SF, unprofiled
    try fn(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        val desc = Option(p).flatMap(pp =>
          Option(pp.getProperty("spark.job.description"))).getOrElse("")
        val site = Option(p).flatMap(pp =>
          Option(pp.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
        val execId = Option(p).flatMap(pp =>
          Option(pp.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(pp.getProperty("spark.sql.execution.id"))))
          .getOrElse("-")
        jobs.put(e.jobId, JobRec(e.jobId, desc, site, execId, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.end = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    // every job-end event delivered before the listing: the counts
    // of two runs of the same code are then identical
    org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)

    import scala.jdk.CollectionConverters._
    val recs = jobs.values.asScala.toSeq.sortBy(_.start)
    val done = recs.filter(_.end > 0)
    println(f"== $name wall=$wall%.3f s, jobs=${recs.size}, " +
      f"jobTime=${done.map(r => r.end - r.start).sum / 1e3}%.3f s")
    // chronological listing (gaps = driver-side work between jobs)
    var prevEnd = 0L
    recs.foreach { r =>
      val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
      prevEnd = math.max(prevEnd, r.end)
      val d = if (r.end > 0) (r.end - r.start) / 1e3 else Double.NaN
      println(f"  job ${r.id}%4d  ${d}%7.3f s  gap=${gap}%6.3f s  " +
        s"${if (r.desc.nonEmpty) r.desc else r.site}")
    }
    // aggregate by call site
    println("== by site:")
    done.groupBy(r => if (r.desc.nonEmpty) r.desc else r.site)
      .map { case (k, rs) =>
        (k, rs.map(r => r.end - r.start).sum / 1e3, rs.size) }
      .toSeq.sortBy(-_._2)
      .foreach { case (k, s, n) => println(f"  $s%8.3f s  x$n%-4d $k") }
    // aggregate by SQL execution (root id groups AQE/broadcast
    // sub-jobs under their top-level action); label = the execution's
    // best non-thread-pool call site
    println("== by execution:")
    done.groupBy(_.execId)
      .map { case (k, rs) =>
        val label = rs.sortBy(_.start)
          .map(r => if (r.desc.nonEmpty) r.desc else r.site)
          .find(s => !s.contains("CompletableFuture"))
          .getOrElse(rs.head.site)
        (k, label, rs.map(r => r.end - r.start).sum / 1e3, rs.size,
          rs.map(_.start).min) }
      .toSeq.sortBy(_._5)
      .foreach { case (k, label, s, n, _) =>
        println(f"  exec $k%-4s $s%8.3f s  x$n%-3d $label") }
    spark.stop()
  }
}
