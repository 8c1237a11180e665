package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE staged-swap protocol behind every whole-directory rewrite
  * in this engine (layout recluster, signature-store compaction):
  * materialize the replacement COMPLETELY at a staging path, then swap
  * it into the live path under a persistent intent marker.
  *
  * Protocol (marker = `<live>._graft_swap`, a sibling file naming the
  * staged and aside paths):
  *
  *   1. caller materializes `staged` fully;
  *   2. write marker;
  *   3. rename live → aside;
  *   4. rename staged → live;
  *   5. delete aside;
  *   6. delete marker.
  *
  * A crash between any two steps leaves a state [[recover]] resolves
  * deterministically to ONE complete generation — rolling BACK before
  * the point of no return (the live directory still present) and
  * FORWARD after it (`staged` is complete by construction, so once the
  * old live has been moved aside the new generation wins). The marker
  * is what makes an interrupted swap DETECTABLE: without it, a
  * half-swapped table on a non-atomic-rename store is silently
  * indistinguishable from a healthy one.
  *
  * Failure-atomicity contract by filesystem class (SCALE.md §1):
  *  - HDFS / POSIX / ABFS (atomic directory rename): readers see the
  *    old directory or the new one, never a mix; the only reader-
  *    visible window is a transient not-found between steps 3 and 4,
  *    which recovery closes forward.
  *  - S3-class object stores (rename = copy+delete, non-atomic): the
  *    protocol detects a crash BETWEEN steps and heals it, but a crash
  *    INSIDE one rename can leave both source and destination partial
  *    — [[recover]] then refuses loudly instead of guessing. Run
  *    maintenance swaps single-writer and keep the previous generation
  *    until recovery confirms, or use a manifest-committing table
  *    format (the documented Delta/Iceberg seam) where object-store
  *    atomicity is required — as the vector and text indexes do: their
  *    rows live on a manifest log, whose commits replace these swaps.
  */
object StagedSwap {

  private def markerPath(live: Path) =
    new Path(live.getParent, live.getName + "._graft_swap")

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Swap the fully-materialized `staged` directory into `live`.
    * On failure the live generation is restored where possible and the
    * marker records the interrupted state for [[recover]]; `staged` is
    * never deleted on failure (it holds the only copy of the new
    * generation).
    */
  def swap(fs: FileSystem, live: Path, staged: Path): Unit = {
    require(fs.exists(staged), s"staged directory $staged does not exist")
    val marker = markerPath(live)
    require(!fs.exists(marker),
      s"unfinished swap marker $marker exists — run StagedSwap.recover " +
        "before starting a new swap")
    val aside = new Path(live.getParent,
      live.getName + ".replaced-" + java.util.UUID.randomUUID())
    write(fs, marker, s"staged=$staged\naside=$aside")
    if (fs.exists(live) && !fs.rename(live, aside)) {
      fs.delete(marker, false)
      throw new java.io.IOException(
        s"cannot stage out live directory $live (staging kept at $staged)")
    }
    if (!fs.rename(staged, live)) {
      if (fs.exists(aside)) fs.rename(aside, live) // restore the original
      fs.delete(marker, false)
      throw new java.io.IOException(
        s"failed to swap $staged into $live (staging kept; live restored)")
    }
    fs.delete(aside, true)
    fs.delete(marker, false)
  }

  /** Resolve an interrupted swap at `live` to one complete generation.
    * No-op without a marker. Returns a description of the action
    * taken; throws when the on-disk state is not one the protocol can
    * produce on an atomic-rename filesystem (the partial-rename case
    * of S3-class stores — refuse rather than guess).
    */
  def recover(fs: FileSystem, live: Path): String = {
    val marker = markerPath(live)
    if (!fs.exists(marker)) return "clean"
    val kv = read(fs, marker).split("\n").map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    val staged = new Path(kv("staged"))
    val aside = new Path(kv("aside"))
    val action =
      if (fs.exists(live)) {
        if (fs.exists(staged)) {
          // crashed before the live directory moved: old generation
          // wins; the staged copy is a complete but unswapped rewrite
          fs.delete(staged, true)
          "rolled-back"
        } else {
          // staged already became live: finish the cleanup
          if (fs.exists(aside)) fs.delete(aside, true)
          "completed"
        }
      } else if (fs.exists(staged) && fs.exists(aside)) {
        // between rename-out and rename-in: staged is complete by
        // contract, so roll FORWARD
        if (!fs.rename(staged, live))
          throw new java.io.IOException(
            s"recovery failed to move $staged into $live")
        fs.delete(aside, true)
        "rolled-forward"
      } else {
        throw new IllegalStateException(
          s"swap at $live is in a state the protocol cannot produce " +
            s"under atomic rename (live missing, staged=${fs.exists(staged)}, " +
            s"aside=${fs.exists(aside)}) — likely a partial rename on a " +
            "non-atomic object store; restore from the surviving " +
            "directory manually")
      }
    fs.delete(marker, false)
    action
  }
}
