package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Graph ANN — a persistent navigable-small-world index, sharded by
  * IVF cell (SURVEY B2/D3's graph-index form; the reference's README
  * names DiskANN as the aspirational index class,
  * `AzureCosmosDB/csharp/README.md:29`, while its code provisions
  * `quantizedFlat` — this operator supplies the graph class the README
  * reaches for, re-expressed for a shared-nothing engine).
  *
  * Why sharded: a monolithic proximity graph needs random access to
  * the whole vector set — the one thing a distributed scan engine
  * cannot give. The scalable decomposition (the DiskANN/SPANN family's
  * own answer) is a two-level index: a KB-scale routing model (IVF
  * centroids, in the stamp) picks nprobe cells, and each cell carries
  * an independent in-memory-sized NSW graph (Malkov et al. 2014,
  * "Approximate nearest neighbor algorithm based on navigable small
  * world graphs") built and searched WITHIN one task. Spark-first
  * shape: build and search are `groupByKey(cell).flatMapGroups` — the
  * declared imperative boundary for graph algorithms — everything
  * around them (cell assignment, partition-pruned reads, global top-k
  * merge, tombstone anti-join) is declarative and codegen'd.
  *
  * At 100 TB: the corpus partitions into nlist cells (cell size is
  * bounded by choosing nlist ≈ corpus/target-cell-rows; each task
  * holds ONE cell's vectors + adjacency). A query reads nprobe
  * partition directories (static pruning via the literal cell list),
  * runs O(ef·M) distance evaluations per cell instead of a linear
  * cell scan, and merges nprobe·k candidates. Build is one scan +
  * one cell-keyed exchange; APPEND rebuilds only the cells the new
  * rows land in (insertion order is sorted-by-id, so an incremental
  * cell rebuild is bit-identical to a from-scratch rebuild — gated).
  *
  * Determinism: centroids are hash-sample trained (seeded), insertion
  * order and every tie-break is by id, so build/append/query are
  * reproducible run-to-run — the property every gate here leans on.
  */
object GraphIndex {

  private val Version = "graft-graph-index v1"
  private val StampName = "_graft_graph_index"

  private def dataPath(path: String) = s"$path/data"
  private def tombPath(path: String) = s"$path/tombstones"

  /** Stamp: the routing model + build parameters a query needs —
    * KB-scale driver state, never the indexed vectors.
    */
  final case class Meta(
      idCol: String,
      vecCol: String,
      dim: Int,
      seed: Long,
      nlist: Int,
      m: Int,
      efConstruction: Int,
      centroids: Seq[Seq[Float]])

  /** One indexed row: id, routing cell, vector, out-neighbors (ids). */
  final case class Node(
      nn_id: Long, cell: Int, vec: Seq[Float], nbrs: Seq[Long])

  /** A [[Node]] carrying its tombstone flag into the per-cell search
    * task — the flag is attached by a JOIN against the tombstone
    * frame, so the deleted set never collects to the driver (the
    * b4h/text-index shape; per-task state stays bounded by cell size).
    */
  private[graft] final case class FlaggedNode(
      nn_id: Long, cell: Int, vec: Seq[Float], nbrs: Seq[Long],
      deleted: Boolean)

  // ----------------------------------------------------------------
  // in-task NSW kernel (one cell per invocation; plain Scala)
  // ----------------------------------------------------------------

  /** Greedy beam search over one cell's graph: returns the `ef`
    * closest discovered nodes as (dist, idx) sorted ascending, ties
    * by id. Standard NSW search: a candidate min-heap, a bounded
    * result max-heap, expand until the nearest candidate is farther
    * than the worst kept result.
    */
  private[graft] def beamSearch(
      q: Array[Float],
      entry: Int,
      ef: Int,
      ids: Array[Long],
      vecs: Array[Array[Float]],
      nbrs: Int => scala.collection.Seq[Int]): Seq[(Double, Int)] = {
    if (ids.isEmpty) return Nil
    // ordering with id tie-break so equal distances are deterministic
    implicit val byDistId: Ordering[(Double, Int)] =
      Ordering.by[(Double, Int), (Double, Long)] { case (d, i) => (d, ids(i)) }
    val visited = new java.util.HashSet[Integer]()
    val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      byDistId.reverse) // min-heap by (dist, id)
    val kept = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      byDistId) // max-heap: head = worst kept
    val d0 = VectorOps.cosineDistance(q, vecs(entry))
    visited.add(entry); cand.enqueue((d0, entry)); kept.enqueue((d0, entry))
    while (cand.nonEmpty &&
        (kept.size < ef || byDistId.lt(cand.head, kept.head))) {
      val (_, u) = cand.dequeue()
      var i = 0
      val adj = nbrs(u)
      while (i < adj.length) {
        val v = adj(i)
        if (visited.add(v)) {
          val d = VectorOps.cosineDistance(q, vecs(v))
          if (kept.size < ef || d < kept.head._1 ||
              (d == kept.head._1 && ids(v) < ids(kept.head._2))) {
            cand.enqueue((d, v)); kept.enqueue((d, v))
            if (kept.size > ef) kept.dequeue()
          }
        }
        i += 1
      }
    }
    kept.dequeueAll.reverse.toSeq
  }

  /** Build one cell's NSW graph: insert nodes in id order; each new
    * node links to its `m` nearest among the already-inserted (found
    * by beam search with ef = efConstruction), bidirectionally; a
    * node's degree is capped at 2m by keeping its closest neighbors.
    * Insertion order is a FUNCTION OF THE NODE SET (sorted by id), so
    * rebuilding a cell after an append reproduces exactly what a
    * from-scratch build produces — the invariant the append gate pins.
    */
  private[graft] def buildCellGraph(
      nodes: IndexedSeq[(Long, Array[Float])],
      m: Int,
      efC: Int): IndexedSeq[Array[Int]] = {
    val n = nodes.length
    val ids = nodes.map(_._1).toArray
    val vecs = nodes.map(_._2).toArray
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    def distTo(i: Int)(j: Int): (Double, Long) =
      (VectorOps.cosineDistance(vecs(i), vecs(j)), ids(j))
    var i = 1
    while (i < n) {
      val found = beamSearch(vecs(i), 0, efC, ids, vecs, adj(_))
        .filter(_._2 < i) // inserted prefix only (beamSearch can't leave it)
      val links = found.take(m).map(_._2)
      links.foreach { j =>
        adj(i) += j
        adj(j) += i
        if (adj(j).length > 2 * m) {
          val keep = adj(j).sortBy(distTo(j)).take(2 * m)
          adj(j).clear(); adj(j) ++= keep
        }
      }
      if (adj(i).length > 2 * m) {
        val keep = adj(i).sortBy(distTo(i)).take(2 * m)
        adj(i).clear(); adj(i) ++= keep
      }
      i += 1
    }
    adj.map(_.toArray).toIndexedSeq
  }

  /** (cell, rows) → indexed [[Node]]s with adjacency. Sorts by id —
    * the canonical insertion order — then builds the graph in-task.
    */
  private def indexCell(
      cell: Int,
      rows: Iterator[(Long, Seq[Float])],
      m: Int,
      efC: Int): Iterator[Node] = {
    val sorted = rows.toIndexedSeq.sortBy(_._1)
      .map { case (id, v) => (id, v.toArray) }
    val adj = buildCellGraph(sorted, m, efC)
    sorted.indices.iterator.map { i =>
      Node(sorted(i)._1, cell, sorted(i)._2.toSeq,
        adj(i).map(j => sorted(j)._1).toSeq)
    }
  }

  // ----------------------------------------------------------------
  // build / append
  // ----------------------------------------------------------------

  /** Train the routing centroids (one sample scan), assign each row a
    * cell, build each cell's NSW graph in its own task, and write the
    * node table partitioned by cell. Overwrites any index at `path`.
    */
  def build(
      base: DataFrame,
      path: String,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      m: Int = 8,
      efConstruction: Int = 64,
      seed: Long = 42L): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    requireIntegralId(base, idCol)
    val cents = Similarity.ivfCentroids(base, idCol, vecCol, nlist, seed)
    unstamp(spark, path)
    val assigned = base.select(
      col(idCol).cast("long").as("nn_id"),
      Similarity.nearestCentroid(col(vecCol), cents).as("cell"),
      col(vecCol).cast("array<float>").as("vec"))
      .as[(Long, Int, Seq[Float])]
    assigned.groupByKey(_._2)
      .flatMapGroups { (cell, it) =>
        indexCell(cell, it.map(r => (r._1, r._3)), m, efConstruction)
      }
      .toDF()
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(dataPath(path))
    val fs = new Path(tombPath(path))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(tombPath(path)), true) // rebuild clears tombstones
    stamp(spark, path, Meta(idCol, vecCol,
      cents.headOption.map(_.length).getOrElse(0), seed, nlist, m,
      efConstruction, cents))
  }

  /** Append new rows: assign cells with the STAMPED centroids (no
    * retraining — the routing model stays fixed between rebuilds,
    * same contract as [[VectorIndex.append]]), then rebuild ONLY the
    * touched cells from their old + new rows. Cost is O(affected
    * cells), not O(corpus); because insertion order is sorted-by-id,
    * the rebuilt cells are bit-identical to a from-scratch build over
    * the union — [[graft.GraphIndexSpec]] and gate d3h pin it.
    * Centroid drift under sustained appends is the documented
    * rebuild-cadence trade (SCALE.md §2).
    */
  def append(rows: DataFrame, path: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val meta = load(spark, path)
    val incoming = rows.select(
      col(meta.idCol).cast("long").as("nn_id"),
      Similarity.nearestCentroid(col(meta.vecCol), meta.centroids)
        .as("cell"),
      col(meta.vecCol).cast("array<float>").as("vec"))
      .persist()
    try {
      val cells = incoming.select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq
      if (cells.nonEmpty) {
        val existing = spark.read.parquet(dataPath(path))
          .filter(col("cell").isin(cells: _*))
          .select(col("nn_id"), col("cell"), col("vec"))
        val union = existing.unionByName(incoming.toDF())
          .as[(Long, Int, Seq[Float])]
        val rebuilt = union.groupByKey(_._2)
          .flatMapGroups { (cell, it) =>
            indexCell(cell, it.map(r => (r._1, r._3)),
              meta.m, meta.efConstruction)
          }
          .toDF()
        // dynamic overwrite: only the touched cell directories change
        rebuilt.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(dataPath(path))
      }
    } finally incoming.unpersist()
  }

  // ----------------------------------------------------------------
  // delete / compact — a tombstone flag, then a cell rebuild
  // ----------------------------------------------------------------

  /** Tombstone ids: deleted rows stop being RETURNED immediately (the
    * query joins the tombstone frame onto the node scan and filters
    * flagged candidates) while still ROUTING beam searches — the standard graph-index delete
    * (removing a node's edges would degrade the graph's navigability;
    * HNSW implementations mark-and-skip for the same reason).
    * [[compact]] physically drops the rows and rebuilds the affected
    * cells' graphs on a maintenance cadence.
    */
  def delete(ids: DataFrame, path: String): Unit = {
    requireIntegralId(ids, ids.columns.head)
    ids.select(col(ids.columns.head).cast("long").as("nn_id")).distinct()
      .write.mode(SaveMode.Append).parquet(tombPath(path))
  }

  /** The graph index keys rows by a NUMERIC id (the in-task kernel
    * tie-breaks on it); a string-keyed caller (e.g. an index attached
    * by `document_url`) must map urls to numeric ids first — a silent
    * `cast("long")` on a url yields null and would SWALLOW the
    * build/delete, the exact failure IndexMaintenance exists to
    * prevent, so the type is checked loudly instead.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"GraphIndex requires an integral id column; '$idCol' is " +
          s"${other.simpleString}. Map string keys to numeric ids " +
          "(e.g. a dimension table) before indexing.")
    }

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(tombPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(tombPath(path)).distinct())
    else None
  }

  /** Physically drop tombstoned rows and REBUILD the graphs of the
    * cells that held them (dropping a node removes its edges; the
    * cell rebuild restores navigability — answer-identical for the
    * emitted set before and after, pinned by spec). Staged via
    * dynamic partition overwrite of only the affected cells, then the
    * tombstones are cleared.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val meta = load(spark, path)
    tombstones(spark, path).foreach { tomb =>
      val data = spark.read.parquet(dataPath(path))
      val cells = data.join(broadcast(tomb), Seq("nn_id"), "left_semi")
        .select("cell").distinct().collect().map(_.getInt(0)).toSeq
      if (cells.nonEmpty) {
        val survivors = data.filter(col("cell").isin(cells: _*))
          .join(broadcast(tomb), Seq("nn_id"), "left_anti")
          .select(col("nn_id"), col("cell"), col("vec"))
          .as[(Long, Int, Seq[Float])]
        survivors.groupByKey(_._2)
          .flatMapGroups { (cell, it) =>
            indexCell(cell, it.map(r => (r._1, r._3)),
              meta.m, meta.efConstruction)
          }
          .toDF()
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(dataPath(path))
      }
      val fs = new Path(tombPath(path))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(tombPath(path)), true)
    }
  }

  // ----------------------------------------------------------------
  // query
  // ----------------------------------------------------------------

  /** k nearest neighbors for every probe row: the stamp's centroids
    * pick each probe's `nprobe` cells ON THE DRIVER (KB-scale math —
    * probes are top-k-query-sized, never corpus-sized), the node
    * table is read pruned to the UNION of selected cells, and each
    * (cell, probes-routed-to-it) group runs beam searches in one
    * task. Global merge = per-probe top-k window over nprobe·k
    * candidate rows. Output: (probe_id, nn_id, dist) — the same
    * surface as the transient ANN joins.
    *
    * RECALL SIZING (measured, BENCH_NOTES round 13 @ 20k×64d): `ef`
    * — the beam width — is the binding recall knob, NOT `nprobe`
    * (recall is flat in nprobe once the true cell is probed):
    * ef 64→128→256 moves recall@10 0.918→0.964→0.987 at FLAT query
    * latency (beam cost is per-candidate pointer chasing inside an
    * in-memory cell task). `efConstruction` adds ~1-2 recall points
    * at equal ef for a denser graph, paid once at build. Prefer
    * raising ef before nprobe.
    */
  def query(
      spark: SparkSession,
      path: String,
      probes: DataFrame,
      k: Int,
      nprobe: Int = 4,
      ef: Int = 64): DataFrame = {
    import spark.implicits._
    val meta = load(spark, path)
    val probeRows = probes.select(
      col(meta.idCol).cast("long"),
      col(meta.vecCol).cast("array<float>"))
      .as[(Long, Seq[Float])].collect()
    require(probeRows.length <= 10000,
      s"${probeRows.length} probes: the graph query path is for " +
        "query-sized probe sets; corpus-scale joins belong to " +
        "Similarity.ivfPqAnnJoin")
    val efq = math.max(ef, k)
    // driver-side routing: nprobe nearest centroids per probe
    val routed: Seq[(Int, Long, Seq[Float])] = probeRows.toSeq.flatMap {
      case (pid, pv) =>
        val pva = pv.toArray
        meta.centroids.zipWithIndex
          .map { case (c, ci) =>
            (VectorOps.cosineDistance(pva, c.toArray), ci)
          }
          .sorted.take(nprobe)
          .map { case (_, ci) => (ci, pid, pv) }
    }
    val cells = routed.map(_._1).distinct
    if (cells.isEmpty) {
      return spark.emptyDataset[(Long, Long, Double)]
        .toDF("probe_id", "nn_id", "dist")
    }
    val probesByCell = spark.sparkContext.broadcast(
      routed.groupBy(_._1).map { case (c, rs) =>
        c -> rs.map(r => (r._2, r._3.toArray))
      })
    // static partition pruning: the literal cell list reaches the scan
    val nodes = spark.read.parquet(dataPath(path))
      .filter(col("cell").isin(cells: _*))
      .select(col("nn_id"), col("cell"), col("vec"), col("nbrs"))
    // tombstones attach as a per-node flag via a JOIN (never a driver
    // collect — delete volume between compactions is unbounded; the
    // planner broadcasts the frame while it is small and shuffles past
    // that, either way off the driver). Flagged nodes still ROUTE beam
    // searches; only the emitted candidates are filtered. The eager
    // localCheckpoint pins the tombstone SNAPSHOT in executor storage
    // so the returned plan survives a concurrent compact() clearing
    // the tombstone files (same reader isolation the old driver
    // collect gave, kept distributed).
    val flagged = (tombstones(spark, path) match {
      case Some(tomb) =>
        nodes.join(tomb.select(col("nn_id"), lit(true).as("__t"))
            .localCheckpoint(true),
            Seq("nn_id"), "left_outer")
          .withColumn("deleted", coalesce(col("__t"), lit(false)))
          .drop("__t")
      case None => nodes.withColumn("deleted", lit(false))
    }).as[FlaggedNode]
    val perCell = flagged.groupByKey(_.cell)
      .flatMapGroups { (cell, it) =>
        val cellNodes = it.toIndexedSeq.sortBy(_.nn_id)
        val ids = cellNodes.map(_.nn_id).toArray
        val vecs = cellNodes.map(_.vec.toArray).toArray
        val del = cellNodes.map(_.deleted).toArray
        val delCount = del.count(identity)
        val pos = ids.zipWithIndex.toMap
        val adj = cellNodes.map(_.nbrs.flatMap(pos.get).toArray).toArray
        probesByCell.value.getOrElse(cell, Seq.empty).iterator.flatMap {
          case (pid, pv) =>
            // deleted nodes route (stay in the graph walk) but are
            // filtered from the emitted candidates; ef + |tomb ∩ cell|
            // keeps k reachable survivors discoverable
            beamSearch(pv, 0, efq + delCount, ids, vecs, adj(_))
              .filter { case (_, i) => !del(i) }
              .take(k)
              .map { case (d, i) => (pid, ids(i), d) }
        }
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("dist"), col("nn_id"))
    perCell.toDF("probe_id", "nn_id", "dist")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  // ----------------------------------------------------------------
  // stamp (same validate-loudly pattern as VectorIndex)
  // ----------------------------------------------------------------

  private def fmtVecs(vs: Seq[Seq[Float]]): String =
    vs.map(_.mkString(",")).mkString(";")

  private def parseVecs(s: String): Seq[Seq[Float]] =
    if (s.isEmpty) Seq.empty
    else s.split(";", -1).toSeq.map(v =>
      if (v.isEmpty) Seq.empty[Float]
      else v.split(",", -1).toSeq.map(_.toFloat))

  private[graft] def render(meta: Meta): String = {
    val b = new StringBuilder
    b ++= Version += '\n'
    b ++= s"idCol=${meta.idCol}\n"
    b ++= s"vecCol=${meta.vecCol}\n"
    b ++= s"dim=${meta.dim}\n"
    b ++= s"seed=${meta.seed}\n"
    b ++= s"nlist=${meta.nlist}\n"
    b ++= s"m=${meta.m}\n"
    b ++= s"efConstruction=${meta.efConstruction}\n"
    b ++= s"centroids=${fmtVecs(meta.centroids)}\n"
    b.result()
  }

  private[graft] def parse(text: String, path: String): Meta = {
    val lines = text.linesIterator.toSeq
    require(lines.headOption.contains(Version),
      s"$path is not a $Version stamp (got " +
        s"'${lines.headOption.getOrElse("")}') — rebuild the index")
    val kv = lines.tail.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
    Meta(kv("idCol"), kv("vecCol"), kv("dim").toInt, kv("seed").toLong,
      kv("nlist").toInt, kv("m").toInt, kv("efConstruction").toInt,
      parseVecs(kv("centroids")))
  }

  private def stampFile(spark: SparkSession, path: String) = {
    val p = new Path(path, StampName)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def unstamp(spark: SparkSession, path: String): Unit = {
    val (p, fs) = stampFile(spark, path)
    if (fs.exists(p)) fs.delete(p, false)
  }

  private def stamp(spark: SparkSession, path: String, meta: Meta): Unit = {
    val (p, fs) = stampFile(spark, path)
    val out = fs.create(p, true)
    try out.write(render(meta).getBytes("UTF-8")) finally out.close()
  }

  def load(spark: SparkSession, path: String): Meta = {
    val (p, fs) = stampFile(spark, path)
    require(fs.exists(p),
      s"no graph index stamp at $path — run GraphIndex.build first")
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
    parse(text, path)
  }
}
