package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sink.StagedSwap

/** The shared staged-swap marker protocol: a crash between ANY two
  * protocol steps must be detectable and recover to exactly one
  * complete generation (old or new, never a mix). Each test builds the
  * precise on-disk state a crash at that step leaves behind, then
  * proves recovery resolves it.
  */
class StagedSwapSpec extends SparkSpec {

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A tiny one-column "generation" table with a recognizable value. */
  private def writeGen(dir: String, tag: String): Unit = {
    import spark.implicits._
    Seq(tag, tag, tag).toDF("g").coalesce(1).write.parquet(dir)
  }

  private def readGen(dir: String): Set[String] =
    spark.read.parquet(dir).select("g").collect().map(_.getString(0)).toSet

  private def marker(live: String) = new Path(live + "._graft_swap")

  private def writeMarker(live: String, staged: String,
      aside: String): Unit = {
    val out = fs.create(marker(live), true)
    try out.write(s"staged=$staged\naside=$aside".getBytes("UTF-8"))
    finally out.close()
  }

  private def fresh(name: String): String =
    Files.createTempDirectory(s"graft-swap-$name").toString + "/t"

  test("happy path: staged replaces live; no marker, aside, or staging " +
      "survives") {
    val live = fresh("ok")
    val staged = live + ".staging"
    writeGen(live, "old"); writeGen(staged, "new")
    StagedSwap.swap(fs, new Path(live), new Path(staged))
    assert(readGen(live) == Set("new"))
    assert(!fs.exists(marker(live)) && !fs.exists(new Path(staged)))
    val leftovers = fs.listStatus(new Path(live).getParent).map(_.getPath.getName)
      .filter(_.contains("replaced"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    assert(StagedSwap.recover(fs, new Path(live)) == "clean")
  }

  test("crash after marker write (nothing moved): recovery rolls BACK — " +
      "old generation wins, staged copy removed") {
    val live = fresh("s2")
    val staged = live + ".staging"
    val aside = live + ".replaced-x"
    writeGen(live, "old"); writeGen(staged, "new")
    writeMarker(live, staged, aside)
    assert(StagedSwap.recover(fs, new Path(live)) == "rolled-back")
    assert(readGen(live) == Set("old"))
    assert(!fs.exists(new Path(staged)) && !fs.exists(marker(live)))
  }

  test("crash between rename-out and rename-in (live missing): recovery " +
      "rolls FORWARD — the staged generation becomes live") {
    val live = fresh("s3")
    val staged = live + ".staging"
    val aside = live + ".replaced-x"
    writeGen(aside, "old"); writeGen(staged, "new") // live absent
    writeMarker(live, staged, aside)
    assert(StagedSwap.recover(fs, new Path(live)) == "rolled-forward")
    assert(readGen(live) == Set("new"))
    assert(!fs.exists(new Path(aside)) && !fs.exists(marker(live)))
  }

  test("crash before aside cleanup (new live in place): recovery " +
      "completes — aside and marker removed, new generation kept") {
    val live = fresh("s4")
    val staged = live + ".staging"
    val aside = live + ".replaced-x"
    writeGen(live, "new"); writeGen(aside, "old") // staged already moved
    writeMarker(live, staged, aside)
    assert(StagedSwap.recover(fs, new Path(live)) == "completed")
    assert(readGen(live) == Set("new"))
    assert(!fs.exists(new Path(aside)) && !fs.exists(marker(live)))
  }

  test("crash between aside delete and marker delete: recovery just " +
      "clears the marker") {
    val live = fresh("s5")
    val staged = live + ".staging"
    writeGen(live, "new")
    writeMarker(live, staged, live + ".replaced-x")
    assert(StagedSwap.recover(fs, new Path(live)) == "completed")
    assert(readGen(live) == Set("new") && !fs.exists(marker(live)))
  }

  test("a state the protocol cannot produce (partial-rename damage) " +
      "fails loudly instead of guessing") {
    val live = fresh("s6")
    writeMarker(live, live + ".staging", live + ".replaced-x")
    // live, staged AND aside all missing
    val err = intercept[IllegalStateException] {
      StagedSwap.recover(fs, new Path(live))
    }
    assert(err.getMessage.contains("partial rename"))
  }

  test("swap refuses to start over an unfinished marker; failed " +
      "rename-in restores the live generation") {
    val live = fresh("s7")
    val staged = live + ".staging"
    writeGen(live, "old"); writeGen(staged, "new")
    writeMarker(live, staged, live + ".replaced-x")
    intercept[IllegalArgumentException] {
      StagedSwap.swap(fs, new Path(live), new Path(staged))
    }
    assert(readGen(live) == Set("old")) // untouched
    fs.delete(marker(live), false)
    // missing staged directory is a contract violation
    intercept[IllegalArgumentException] {
      StagedSwap.swap(fs, new Path(live), new Path(live + ".absent"))
    }
  }
}
