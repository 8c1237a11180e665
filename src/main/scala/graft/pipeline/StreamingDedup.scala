package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, IndexTable}
import graft.sink.ManifestTableFormat

/** Incremental near-dup detection on ingest (the streaming face of
  * D2): each micro-batch's documents are MinHash-signed and band-join
  * against a persistent signature store; matches emit
  * (incoming_id, existing_id, estimated jaccard) and only NON-duplicate
  * documents append their signatures — the store grows with the unique
  * corpus, not the ingest volume.
  *
  * Storage: a stamp beside one manifest table ([[IndexTable]]), so
  * every append and every compaction is one log commit. The table
  * holds EXPLODED band keys `(pid, band, key, id, sig)`, where the
  * pair id `pid = band * buckets + bkt` and `bkt` hashes the band key
  * into the stamp's bucket count. The table is partitioned on `pid`:
  * each write range-clusters its files by it, so per-file min/max
  * bound the pair ids a file holds. The per-batch probe is an
  * equi-join on (band, key) — the batch side is tiny and broadcasts,
  * so the store never shuffles — over only the files whose pid range
  * holds one of the batch's pair ids: probe cost follows the BATCH
  * size, not the corpus size. Verification uses the
  * signature-estimated Jaccard (equal-position fraction) — texts are
  * never stored, so the store is ~(numHashes+bands)×8 bytes per
  * document at any corpus size. The signature parameters are STAMPED
  * on bootstrap and validated per call: probing a store built with a
  * different fold would silently match nothing.
  */
object StreamingDedup {

  /** The stamp file naming the store's signature parameters. */
  val StampName = "_graft_dedup_params"

  /** Partition buckets per band for newly bootstrapped stores. */
  val defaultBuckets = 256

  /** Above this many probed pair ids the probe reads the whole store: a
    * batch that large touches most files anyway, and an unbounded
    * literal set is the Catalyst expression-size trap (it becomes a
    * driver-side InSet, so the bound is memory hygiene, not codegen).
    */
  private val maxPruneLiterals = 100000

  private def paramsTag(numHashes: Int, bands: Int, shingleSize: Int,
      buckets: Option[Int]) =
    s"numHashes=$numHashes bands=$bands shingles=$shingleSize" +
      buckets.map(b => s" buckets=$b").getOrElse("")

  private def parseTag(tag: String): Map[String, String] =
    tag.split(" ").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }.toMap

  /** The pair id of a band key — MUST match between append and probe,
    * so it is derived only from the band and the stored key.
    */
  private def pairId(band: Column, key: Column, buckets: Int): Column =
    (band * buckets + pmod(xxhash64(key), lit(buckets.toLong))).cast("int")

  /** One micro-batch: returns the duplicate matches
    * (id, existing_id, est_jaccard) and appends the non-duplicates'
    * signatures to the store in one commit. Batch form of the
    * `foreachBatch` body — "the batch is a bounded stream".
    *
    * Contracts:
    *  - detects CROSS-batch duplicates (vs the accumulated store);
    *    duplicates WITHIN one batch are the batch-level operators' job
    *    ([[graft.ops.Dedup.minhashLshPairs]]) — run one before this
    *    when a single batch may carry its own re-uploads;
    *  - a document id already in the store never matches ITSELF, so
    *    an at-least-once replay (foreachBatch crash-recovery) reports
    *    the replayed docs as unique instead of self-duplicates —
    *    idempotent modulo the duplicate store rows the replay appends,
    *    which are harmless (same band/key/sig) and collapse at the
    *    next [[compact]];
    *  - a batch whose append fails leaves the store as it was.
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame, // (idCol, textCol)
      storePath: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame =
    processBatchOn(spark, batch, storePath, idCol, textCol, threshold,
      numHashes, bands, shingleSize, IndexTable.open)

  /** [[processBatch]] with the store's table handle built by `open`:
    * the seam a spec injects a failing commit through.
    */
  private[graft] def processBatchOn(
      spark: SparkSession,
      batch: DataFrame,
      storePath: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      open: (SparkSession, String) => ManifestTableFormat): DataFrame = {
    import graft.functions.GraftFunctions.minhash_signature

    val signed = batch.select(col(idCol).as("id"),
        minhash_signature(col(textCol), lit(numHashes), lit(shingleSize))
          .as("sig"))
      .localCheckpoint(true) // one signature pass; probed AND appended

    val sigTag = paramsTag(numHashes, bands, shingleSize, None)
    // the bucket count is a STORE property read from its stamp; a
    // store in the retired layout is refused by the stamp read
    val stamped = IndexTable.hasStamp(spark, storePath, StampName)
    val buckets = if (!stamped) defaultBuckets else {
      val onDisk = IndexTable.readStamp(spark, storePath, StampName,
        s"no signature store at $storePath")
      val kv = parseTag(onDisk)
      require(parseTag(sigTag).forall { case (k, v) => kv.get(k).contains(v) },
        s"signature store at $storePath was built with '$onDisk' but " +
          s"probed with '$sigTag' — signatures are incompatible across " +
          "parameter changes; rebuild the store or match the parameters")
      kv("buckets").toInt
    }

    val banded = signed.select(col("id"), col("sig"),
        posexplode(Dedup.bandKeys(col("sig"), numHashes, bands))
          .as(Seq("band", "key")))
      .withColumn("pid", pairId(col("band"), col("key"), buckets))

    val store = if (stamped) Some(open(spark, storePath)) else None
    val matches = store match {
      case None =>
        // typed empty frame: id columns keep the caller's id type
        signed.select(col("id"), col("id").as("existing_id"),
          lit(0.0).as("est_jaccard")).limit(0)
      case Some(t) =>
        // the pair ids are ≤ batch×bands ints collected from the tiny
        // (already-materialized) batch side
        val pids = banded.select("pid").distinct().collect()
          .map(_.getInt(0)).toSeq
        banded.as("n")
          .join(probe(t, pids).as("o"),
            col("n.band") === col("o.band") && col("n.key") === col("o.key") &&
              // never match a doc against its own stored signature: an
              // at-least-once replay would otherwise report every
              // replayed doc as a self-duplicate
              col("n.id") =!= col("o.id"))
          .select(col("n.id").as("id"), col("o.id").as("existing_id"),
            col("n.sig").as("nsig"), col("o.sig").as("osig"))
          .distinct()
          // estimated Jaccard = fraction of equal minhash positions
          .withColumn("est_jaccard",
            aggregate(zip_with(col("nsig"), col("osig"),
                (a, b) => when(a === b, 1).otherwise(0)),
              lit(0), (acc, x) => acc + x).cast("double") / numHashes)
          .filter(col("est_jaccard") >= threshold)
          .select("id", "existing_id", "est_jaccard")
    }
    val m = matches.localCheckpoint(true) // evaluated twice below

    // only non-duplicates enter the store (left_anti ignores duplicate
    // right-side keys — no distinct needed): re-uploads never bloat it
    val fresh = banded.join(m.select("id"), Seq("id"), "left_anti")
      .select("pid", "band", "key", "id", "sig")
    store match {
      case Some(t) => t.append(fresh)
      case None =>
        // bootstrap: the table (with this batch's rows), then the
        // stamp — a crash in between leaves a stampless path, which
        // the replayed batch bootstraps afresh
        IndexTable.create(spark, storePath, fresh, Seq("pid"))
        IndexTable.writeStamp(spark, storePath, StampName,
          paramsTag(numHashes, bands, shingleSize, Some(buckets)))
    }
    // the batch signature checkpoint served both consumers (probe +
    // append) — free its blocks; a long-running stream must not
    // accumulate one per micro-batch (m stays: it is the result)
    Dedup.freeLocalCheckpoint(signed)
    m
  }

  /** The store rows of the probed pair ids, read from only the files
    * whose recorded pid range holds one of them
    * ([[graft.sink.PinnedScan.readWhereIn]]); past [[maxPruneLiterals]]
    * ids, the whole store.
    */
  private[graft] def probe(t: ManifestTableFormat, pids: Seq[Int])
      : DataFrame = {
    val pin = t.pinScan()
    if (pids.length <= maxPruneLiterals) pin.readWhereIn("pid", pids)
    else pin.read(pin.pairs)
  }

  /** Maintenance compaction: ONE log commit rewrites the store with the
    * replay-appended duplicate rows collapsed and each write's small
    * files merged (the rewrite range-clusters on `pid` like every
    * write). Safe to run between micro-batches — match results are
    * unchanged, only the file count shrinks. An empty or unborn store
    * is left alone.
    */
  def compact(spark: SparkSession, storePath: String): Unit =
    if (IndexTable.hasStamp(spark, storePath, StampName))
      IndexTable.open(spark, storePath).rewriteLive(_.distinct())
}
