package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosine_distance, dot_product}

/** Similarity search over embedding columns (SURVEY B2/D3/D6):
  * brute-force exact k-NN as the correctness baseline, random
  * hyperplane LSH bucketing as the scale path, and cosine near-dup
  * pair detection.
  *
  * Scale design: probes broadcast (they are the small side by
  * contract); the base table never shuffles for brute-force k-NN —
  * per-partition partial top-k via the bounded `topk_agg` aggregate
  * shuffles only (probe_id, nn_id, dist) triples, k per probe per
  * partition. The LSH variant prunes the candidate set to matching
  * buckets before exact rerank, turning O(|base|·|probes|) into
  * O(candidates).
  */
object Similarity {

  /** Bounded top-k per probe over `(probe_id, nn_id, dist)` rows —
    * the k first under `ORDER BY dist ASC NULLS LAST, nn_id ASC`, for
    * long and string ids alike, computed as the map-side-combining
    * `topk_agg` (D16): each partition reduces a probe to ≤ k pairs
    * BEFORE the exchange, so the shuffle carries k × probes ×
    * partitions pairs and no per-probe sort of the full candidate set
    * ever runs (guide §2.3 "aggregate before you shuffle"). The
    * emitted dist is the input value, bit for bit. TopKOrderSpec pins
    * the aggregate ≡ window equivalence; the d3/b2/b10 gates hash-pin
    * the call sites.
    */
  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKAggregate.topk_agg
    scored
      .groupBy(col("probe_id"))
      .agg(topk_agg(k)(col("dist"), col("nn_id")).as("tk"))
      .select(col("probe_id"), explode(col("tk")).as("s"))
      .select(col("probe_id"), col("s.id").as("nn_id"),
        col("s.key").as("dist"))
  }

  /** D3/B2: exact k-NN join — for every probe row, the k nearest base
    * rows by cosine distance. Distances are rounded before ranking so
    * ties break deterministically by neighbor id (and so results are
    * reproducible across engines).
    */
  def knnJoinBrute(
      base: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val b = base.select(col(idCol).as("nn_id"), col(vecCol).as("bv"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    topKPerProbe(
      b.crossJoin(broadcast(p))
        .select(col("probe_id"), col("nn_id"),
          round(cosine_distance(col("bv"), col("pv")), 6).as("dist")),
      k)
  }

  /** Random hyperplane signature (sign bits of `numPlanes` seeded
    * Gaussian projections) as an integer bucket id. Deterministic in
    * (seed, dim, numPlanes).
    */
  private def planes(dim: Int, numPlanes: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian().toFloat))
  }

  def lshBucket(vecCol: org.apache.spark.sql.Column, dim: Int,
      numPlanes: Int, seed: Long): org.apache.spark.sql.Column =
    planes(dim, numPlanes, seed).zipWithIndex.map { case (pl, i) =>
      when(dot_product(vecCol, typedlit(pl)) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** D3 scale path: LSH-bucketed approximate k-NN with multi-probing
    * and optional multiple hash tables. Candidates = base rows whose
    * hyperplane bucket matches the probe's bucket OR any 1-bit flip of
    * it (multi-probe recovers the neighbors lost to a single near-zero
    * projection) in ANY of the `numTables` independent tables (the
    * standard recall knob: each table is a fresh chance to collide, so
    * recall rises with L while the candidate set grows only
    * linearly); exact cosine rerank within the candidates. Candidate
    * set per table shrinks ~(planes+1)/2^planes of the base;
    * near-duplicate vectors (the D6 workload) collide with high
    * probability already at L = 1.
    *
    * Scale: the base computes all L buckets in ONE scan (posexplode of
    * an L-element array — fan-out L, each row carrying only id + the
    * vector ref); the join key is (table, bucket), uniformly
    * distributed, probes broadcast.
    */
  def lshAnnJoin(
      base: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      numPlanes: Int = 8,
      seed: Long = 42L,
      numTables: Int = 1): DataFrame = {
    require(numTables >= 1, s"numTables=$numTables")
    val b = base.select(col(idCol).as("nn_id"), col(vecCol).as("bv"),
      posexplode(lshTableBuckets(col(vecCol), dim, numPlanes, seed,
        numTables)).as(Seq("tbl", "bucket")))
    lshSearch(b, probes, idCol, vecCol, k, dim, numPlanes, seed, numTables)
  }

  /** All `numTables` hyperplane buckets of a vector as one array —
    * the per-row index columns a persistent LSH index materializes
    * ([[VectorIndex]]); one scan computes every table's bucket.
    */
  private[graft] def lshTableBuckets(vecCol: org.apache.spark.sql.Column,
      dim: Int, numPlanes: Int, seed: Long, numTables: Int):
      org.apache.spark.sql.Column =
    array((0 until numTables).map(t =>
      lshBucket(vecCol, dim, numPlanes, seed + t)): _*)

  /** The LSH search stage over an already-banded base
    * `(nn_id, bv, tbl, bucket)` — shared between the transient
    * [[lshAnnJoin]] and the prebuilt-index path
    * ([[VectorIndex.queryLsh]]), so both produce identical results.
    */
  private[graft] def lshSearch(
      banded: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      numPlanes: Int,
      seed: Long,
      numTables: Int): DataFrame = {
    val flips = lit(0) +: (0 until numPlanes).map(i => lit(1 << i))
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        posexplode(lshTableBuckets(col(vecCol), dim, numPlanes, seed,
          numTables)).as(Seq("tbl", "bucket0")))
      .select(col("probe_id"), col("pv"), col("tbl"),
        explode(array(flips.map(f => col("bucket0").bitwiseXOR(f)): _*))
          .as("bucket"))
    topKPerProbe(
      banded.join(broadcast(p), Seq("tbl", "bucket"))
        .select(col("probe_id"), col("nn_id"),
          round(cosine_distance(col("bv"), col("pv")), 6).as("dist"))
        // a pair can match via several probed buckets/tables → dedup
        // (a duplicate pair must not occupy two of the k slots)
        .groupBy(col("probe_id"), col("nn_id"))
        .agg(min(col("dist")).as("dist")),
      k)
  }

  /** Per-row argmin over a small centroid set — computed as
    * array_position(min) over one distance array, NOT a CASE-WHEN
    * fold (a fold duplicates its left subtree every step → 2^nlist
    * expression nodes) and NOT an explode+groupBy (row explosion on
    * what may be the 100 TB side). Ties resolve to the lowest index.
    */
  def nearestCentroid(
      vec: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Float]]): org.apache.spark.sql.Column = {
    val dists = array(centroids.map(c => cosine_distance(vec, typedlit(c))): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** IVF centroids from a deterministic hash-ordered sample: the
    * `nlist * 64` hash-smallest base rows, refined by one Lloyd
    * iteration on the driver.
    *
    * Scale design: `orderBy(xxhash64).limit(n)` lowers to
    * TakeOrderedAndProject — a bounded per-partition heap merged at
    * the driver, so index build is ONE scan of the base with no global
    * sort, no single-partition window, no `count()` pass, and no
    * posexplode row blowup (the round-1 version had all four).
    * Driver state is sampleSize × dim floats (≈256 KB at nlist=16,
    * dim=64), independent of base size. Deterministic in (seed, ids).
    */
  def ivfCentroids(
      base: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      seed: Long = 42L): Seq[Seq[Float]] = {
    // the ONE shared index-build sampling primitive (also PQ training)
    val sample = Quantize.hashSample(base, idCol, vecCol, nlist * 64, seed)
    ivfCentroidsFromSample(sample, nlist)
  }

  /** [[ivfCentroids]] over an already-collected hash sample — lets a
    * builder that also trains PQ share ONE TakeOrdered scan: the
    * sample order is the deterministic hash total order, so a prefix
    * `take(nlist * 64)` of a larger sample is bit-identical to
    * sampling at that width directly.
    */
  private[ops] def ivfCentroidsFromSample(
      sampleIn: Array[Array[Float]], nlist: Int): Seq[Seq[Float]] = {
    val sample = sampleIn.take(nlist * 64)
    if (sample.isEmpty) return Seq(Seq(0f))
    val init: Array[Array[Float]] = sample.take(nlist)
    // one Lloyd iteration over the sample: assign, then per-cell mean
    val dim = sample.head.length
    val sums = Array.fill(init.length)(new Array[Double](dim))
    val counts = new Array[Long](init.length)
    sample.foreach { v =>
      var bestI = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < init.length) {
        val d = graft.functions.VectorOps.cosineDistance(v, init(i))
        if (d < bestD) { bestD = d; bestI = i }
        i += 1
      }
      counts(bestI) += 1
      var j = 0
      while (j < math.min(dim, v.length)) { sums(bestI)(j) += v(j); j += 1 }
    }
    init.indices.map { i =>
      if (counts(i) == 0) init(i).toSeq
      else sums(i).map(x => (x / counts(i)).toFloat).toSeq
    }
  }

  /** D3 scale path #2: IVF (inverted-file) approximate k-NN — base
    * rows partition into nlist cells by nearest centroid; each probe
    * searches only its nprobe nearest cells with exact cosine rerank.
    * Complement to [[lshAnnJoin]]: IVF adapts to the data distribution
    * (centroids follow density), LSH is oblivious but index-free.
    */
  def ivfAnnJoin(
      base: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    val cents = ivfCentroids(base, idCol, vecCol, nlist, seed)
    val b = base.select(col(idCol).as("nn_id"), col(vecCol).as("bv"),
      nearestCentroid(col(vecCol), cents).as("cell"))
    val probeCells = ivfProbeCells(probes, idCol, vecCol, nprobe, cents)
    topKPerProbe(
      b.join(broadcast(probeCells), "cell")
        .select(col("probe_id"), col("nn_id"),
          round(cosine_distance(col("bv"), col("pv")), 6).as("dist")),
      k)
  }

  /** D3 scale path #3: IVF-PQ — the composition that keeps BOTH the
    * probe fan-out and the byte volume bounded at 100 TB: vectors
    * partition into IVF cells (nearest coarse centroid) and, inside a
    * cell, are stored as PQ codes of their RESIDUAL against the cell
    * centroid. A probe searches its nprobe nearest cells; the coarse
    * stage ranks candidates by L2 between the probe's residual and the
    * PQ-reconstructed residual — reading only the m-byte code column,
    * never the floats — and the `rerankPerProbe` survivors join back
    * to the float vectors for exact cosine rerank (a shuffle bounded
    * by candidates, not base size).
    *
    * RECALL SIZING (measured, BENCH_NOTES round 13 @ 20k×64d): the
    * controlling knobs are code resolution and rerank depth, NOT
    * nprobe — with 4-bit codes (ks=16) recall@10 is flat in nprobe
    * (~0.49) because the PQ ranking can't surface the true neighbors
    * into a 96-deep pool. Either deepen the pool (`rerankPerProbe`
    * ≈ 25–50×k recovers 0.7–0.86 at unchanged cost — the rerank join
    * is candidate-bounded) or train 8-bit codes (ks=256: 0.8 at
    * rerank=96, 0.94 at 256). ks costs TRAINING time only, so for a
    * served corpus prefer [[VectorIndex.buildIvfPq]] with ks=256 and
    * query with rerankPerProbe ≈ 25×k; the transient join here keeps
    * ks=16 as the cheap-training default.
    */
  def ivfPqAnnJoin(
      base: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ks: Int = 16,
      rerankPerProbe: Int = 64,
      seed: Long = 42L): DataFrame = {
    val cents = ivfCentroids(base, idCol, vecCol, nlist, seed)
    val model = Quantize.trainPqResiduals(base, idCol, vecCol, cents,
      m, ks, seed)
    ivfPqSearch(
      ivfPqIndexFrame(base, idCol, vecCol, cents, model),
      base.select(col(idCol).as("nn_id"), col(vecCol).as("bvx")),
      probes, idCol, vecCol, k, nprobe, rerankPerProbe, cents, model)
  }

  /** The residual of `vec` against its assigned cell's centroid. */
  private def ivfResidual(cents: Seq[Seq[Float]])(
      vec: org.apache.spark.sql.Column,
      cell: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(vec, element_at(typedlit(cents.map(_.toSeq)), cell + lit(1)),
      (a, b) => a - b).cast("array<float>")

  /** The per-row IVF-PQ index columns `(nn_id, cell, pq)`: nearest
    * coarse cell + PQ codes of the residual, NO float column. This is
    * the frame a persistent index materializes once
    * ([[VectorIndex.buildIvfPq]]); [[ivfPqAnnJoin]] computes it
    * transiently.
    */
  private[graft] def ivfPqIndexFrame(
      base: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[Seq[Float]],
      model: Quantize.PqModel,
      keepVec: Boolean = false): DataFrame = {
    val assigned = base
      .select(col(idCol).as("nn_id"), col(vecCol).as("bv"),
        nearestCentroid(col(vecCol), cents).as("cell"))
    val codes = Quantize.pqCodes(
      ivfResidual(cents)(col("bv"), col("cell")), model).as("pq")
    // a persistent index stores the floats ALONGSIDE the codes in one
    // table: Parquet column pruning keeps the coarse stage reading only
    // (nn_id, cell, pq) while the rerank join fetches (nn_id, vec)
    if (keepVec)
      assigned.select(col("nn_id"), col("cell"), codes, col("bv").as("vec"))
    else assigned.select(col("nn_id"), col("cell"), codes)
  }

  /** The nprobe nearest cells per probe, carrying the probe's
    * residual — shared by the transient and prebuilt-index IVF and
    * IVF-PQ paths (identical expressions ⇒ identical results).
    */
  private[graft] def ivfProbeCells(
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      cents: Seq[Seq[Float]]): DataFrame =
    probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        posexplode(array(cents.map(c =>
          cosine_distance(col(vecCol), typedlit(c))): _*))
          .as(Seq("cell", "cd")))
      .withColumn("cr", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cd"), col("cell"))))
      .filter(col("cr") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cell"),
        ivfResidual(cents)(col("pv"), col("cell")).as("pres"))

  /** The IVF-PQ search stage over an already-indexed base — shared
    * between the transient [[ivfPqAnnJoin]] and the prebuilt-index
    * path ([[VectorIndex.queryIvfPq]]) so both produce identical
    * results. `indexed` carries `(nn_id, cell, pq)`; `floats` carries
    * `(nn_id, bvx)` and is scanned only by the candidate-bounded
    * rerank join.
    */
  private[graft] def ivfPqSearch(
      indexed: DataFrame,
      floats: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      rerankPerProbe: Int,
      cents: Seq[Seq[Float]],
      model: Quantize.PqModel): DataFrame = {
    val probeCells = ivfProbeCells(probes, idCol, vecCol, nprobe, cents)
    // coarse stage: bounded top-rerankPerProbe per probe on the PQ
    // distance. The probe vector does NOT ride through the aggregate —
    // the exchange carries (probe_id, nn_id, adist) triples only,
    // rerankPerProbe × probes × partitions of them at most; pv is
    // re-attached from the (small-by-contract) probes side afterwards.
    val coarse = topKPerProbe(
      indexed.join(broadcast(probeCells), "cell")
        .select(col("probe_id"), col("nn_id"),
          round(graft.functions.GraftFunctions.l2_distance(col("pres"),
            Quantize.pqReconstruct(col("pq"), model).cast("array<float>")),
            6).as("dist")),
      rerankPerProbe)
      .select(col("probe_id"), col("nn_id"))

    // exact rerank: floats fetched ONLY for the surviving candidates.
    // The candidate list is ≤ rerankPerProbe × probes rows — broadcast
    // it so the float table is never shuffled for this join (§3.1).
    val pvs = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    topKPerProbe(
      broadcast(coarse)
        .join(floats, "nn_id")
        .join(broadcast(pvs), "probe_id")
        .select(col("probe_id"), col("nn_id"),
          round(cosine_distance(col("bvx"), col("pv")), 6).as("dist")),
      k)
  }

  /** D6 scale path: near-duplicate pairs with LSH bucket pruning —
    * only vectors sharing a (multi-probed) hyperplane bucket are
    * compared, so the pair space shrinks from n² to the bucket
    * collision set. Near-duplicates collide with high probability;
    * exact distances filter the rest.
    */
  def cosineNearDupPairsApprox(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      maxDistance: Double,
      dim: Int,
      numPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), dim, numPlanes, seed).as("bucket0"))
    val flips = lit(0) +: (0 until numPlanes).map(i => lit(1 << i))
    val probed = b.select(col("id"), col("v"),
      explode(array(flips.map(f => col("bucket0").bitwiseXOR(f)): _*))
        .as("bucket"))
    b.withColumnRenamed("bucket0", "bucket").as("a")
      .join(probed.as("p"),
        col("a.bucket") === col("p.bucket") && col("a.id") < col("p.id"))
      .select(col("a.id").as("id1"), col("p.id").as("id2"),
        round(cosine_distance(col("a.v"), col("p.v")), 6).as("dist"))
      .groupBy("id1", "id2").agg(min("dist").as("dist"))
      .filter(col("dist") <= maxDistance)
  }

  /** D19: hard-negative mining for contrastive embedding training —
    * in-batch random negatives are too easy; the strongest training
    * signal is the nearest NON-matching examples (DPR, Karpukhin et
    * al. 2020, arXiv:2004.04906). For every anchor, the k nearest
    * base rows by cosine distance whose label differs from the
    * anchor's, skipping candidates closer than `minDist` — the
    * standard guard against unlabeled positives (near-copies that
    * carry a different label only because labeling is incomplete)
    * poisoning the negative set.
    *
    * Scale shape: anchors broadcast (small by contract, as in
    * [[knnJoinBrute]]); the label-mismatch predicate runs INSIDE the
    * broadcast join so excluded pairs never materialize; per-anchor
    * selection is the bounded `topk_agg` aggregate (D16) — each
    * partition reduces an anchor to ≤ k candidates BEFORE the
    * exchange, so the shuffle carries k × anchors × partitions pairs,
    * never the corpus.
    */
  def hardNegatives(
      base: DataFrame,
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      minDist: Double = 0.0): DataFrame = {
    import graft.functions.TopKAggregate.topk_agg
    val b = base.select(col(idCol).as("neg_id"), col(vecCol).as("bv"),
      col(labelCol).as("bl"))
    val p = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("pv"),
      col(labelCol).as("pl"))
    b.join(broadcast(p), col("bl") =!= col("pl"))
      .select(col("anchor_id"), col("neg_id"),
        round(cosine_distance(col("bv"), col("pv")), 6).as("dist"))
      .filter(col("dist") >= minDist)
      .groupBy("anchor_id")
      .agg(topk_agg(k)(col("dist"), col("neg_id")).as("tk"))
      .select(col("anchor_id"), posexplode(col("tk")))
      .select(col("anchor_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("neg_id"), col("col.key").as("dist"))
  }

  /** D6: embedding-cosine near-duplicate pairs within a distance
    * threshold. Quadratic in rows — callers bound the input or use
    * [[cosineNearDupPairsApprox]] at scale.
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      maxDistance: Double): DataFrame = {
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(cosine_distance(col("v1"), col("v2")), 6).as("dist"))
      .filter(col("dist") <= maxDistance)
  }
}
