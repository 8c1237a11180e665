package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, stopped after). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    GraftSession.install(
      GraftSession.builder(master = "local[4]", shufflePartitions = 4)
        .config("spark.sql.warehouse.dir",
          s"/tmp/graft-test-warehouse-${getClass.getSimpleName}")
        .getOrCreate())

  override protected def afterAll(): Unit = {
    // keep the session alive across suites in the same JVM (sbt forks
    // one JVM for all tests); getOrCreate reuses it
    super.afterAll()
  }

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Result of `body` and the Spark jobs this thread launched in it,
    * counted after the listener bus has delivered every job start.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val key = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      (out, started.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }
}
