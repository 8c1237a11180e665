package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.{ChunkStore, GraftMergeDelete, GraftMergeInsert, GraftMergeUpdate, ManifestLog, ManifestTableFormat}

/** INCREMENTAL AGGREGATE MAINTENANCE off the change feed (B13) — the
  * materialized-view story at 100 TB: a derived manifest table
  * holding `GROUP BY <groupCols>` aggregates of a source manifest
  * table advances to the source's head in O(churn), never by
  * re-aggregating the corpus.
  *
  * Maintained aggregates are the DECOMPOSABLE ones — the ones a
  * row-level delta can update without re-reading the group:
  *  - `cnt`     = COUNT(*)
  *  - `sum_<c>` = SUM(c)   (exact SQL semantics: NULL when the group
  *                          has no non-null c)
  *  - `nn_<c>`  = COUNT(c) (the non-null count that makes the SUM
  *                          NULL rule maintainable; AVG(c) is
  *                          `sum_<c> / nn_<c>` at read time)
  * plus MIN/MAX (`min_<c>` / `max_<c>`) under a BOUNDED-RECOMPUTE
  * contract: inserts delta-apply (`least`/`greatest` with the held
  * extremum); a span whose deletes could have removed a group's
  * current extremum (deleted value ≤ held min / ≥ held max —
  * detectable from the feed alone) re-derives ONLY that group's
  * extrema from the source at the span head, file-pruned through the
  * manifest's per-file stats on the group keys. Cost is
  * O(churn) + O(endangered groups' source files), never a corpus
  * re-aggregate — the standard fix for the one aggregate family a
  * pure delta cannot maintain under deletes. Non-numeric sum columns
  * still refuse loudly.
  *
  * How one [[catchUp]] advances:
  *  1. `from` = the agg table's recorded high-water marker for this
  *     source (a v4 streaming-txn marker — see exactly-once below);
  *     `head` = the source's current version.
  *  2. `changesBetween(from, head)` (reads churn-touched files only)
  *     signs every changed row (+1 insert / −1 delete) and folds to
  *     ONE delta row per touched group: `(Δcnt, Δnn_c, Δsum_c)`.
  *  3. The delta MERGEs into the agg table — matched groups add the
  *     deltas (a group whose count reaches 0 DELETEs its row),
  *     unmatched groups with positive count INSERT. Affected-file
  *     selection is the merge's own pre-scan, so only agg files
  *     holding touched groups rewrite: the whole step is O(churn) +
  *     O(touched agg files).
  *
  * EXACTLY-ONCE: the merge commit carries an `(appId, head)`
  * transaction marker ATOMICALLY with its file actions (the same v4
  * machinery as exactly-once streaming appends). A crash between
  * commit and anything else replays the span, finds the marker at or
  * above `head`, and no-ops — deltas can never double-apply, which a
  * sidecar-after-commit design could not guarantee for
  * non-idempotent aggregate addition.
  *
  * Retention contract: `from` must stay reconstructable at the
  * source (the [[ManifestTableFormat.changesBetween]] rule) — sync at
  * least as often as the source's checkpoint+vacuum cadence.
  */
object IncrementalAgg {

  /** Outcome of one catch-up: the span applied and groups touched. */
  final case class Stats(fromVersion: Long, toVersion: Long, groups: Long)

  /** Run the maintenance CONTINUOUSLY: a `graft-cdf` stream on the
    * source is the wake signal, each micro-batch tick runs one
    * [[catchUp]]. The agg's own version-keyed txn marker — not the
    * stream checkpoint — is the exactly-once state, so the runner
    * converges from ANY checkpoint state (fresh, stale, deleted):
    * the stream only decides WHEN to look, never what was applied.
    * Caller owns the query lifecycle (same contract as
    * [[ChangeFeedSync.start]]).
    */
  def start(
      spark: SparkSession,
      srcPath: String,
      aggPath: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-cdf")
      .option("path", srcPath)
      .load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        catchUp(spark, srcPath, aggPath, groupCols, sumCols,
          minCols, maxCols)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Drain everything currently committed and return — the
    * maintenance-cadence entry point.
    */
  def syncOnce(
      spark: SparkSession,
      srcPath: String,
      aggPath: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      checkpointDir: String,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil): Unit =
    start(spark, srcPath, aggPath, groupCols, sumCols, checkpointDir,
      minCols = minCols, maxCols = maxCols)
      .awaitTermination()

  /** The marker app id recorded in the AGG table's log for `src`. */
  def appId(srcPath: String): String = s"graft-incr-agg:$srcPath"

  /** Derive an EXISTING agg table's full spec from the table alone —
    * its schema names the aggregates (`cnt`, `sum_*`/`nn_*` pairs,
    * `min_*`, `max_*`; everything else is a group column) and its txn
    * marker names the source. This is what lets a maintenance policy
    * ([[graft.ops.AutoOptimize]]) catch an agg table up WITHOUT being
    * handed the spec. None when the table carries no
    * `graft-incr-agg:` marker (not an agg table, or never synced).
    */
  def specOf(spark: SparkSession, aggPath: String): Option[
      (String, Seq[String], Seq[String], Seq[String], Seq[String])] = {
    val fs = new Path(aggPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!ManifestLog.isTable(fs, new Path(aggPath))) return None
    val store = new ChunkStore(spark, aggPath)
    val mtf = new ManifestTableFormat(spark, aggPath, store.schema)
    mtf.streamTransactions.collectFirst {
      case (app, _) if app.startsWith("graft-incr-agg:") =>
        app.stripPrefix("graft-incr-agg:")
    }.map { src =>
      val names = mtf.currentSchema.fieldNames.toSeq
      val sums = names.filter(_.startsWith("sum_"))
        .map(_.stripPrefix("sum_"))
      val mins = names.filter(_.startsWith("min_"))
        .map(_.stripPrefix("min_"))
      val maxs = names.filter(_.startsWith("max_"))
        .map(_.stripPrefix("max_"))
      val derived = Set("cnt") ++ sums.map("sum_" + _) ++
        sums.map("nn_" + _) ++ mins.map("min_" + _) ++
        maxs.map("max_" + _)
      (src, names.filterNot(derived), sums, mins, maxs)
    }
  }

  private def sumKinds(t: DataType): Boolean = t match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }

  /** Types MIN/MAX maintenance orders on (Spark's own ordering; the
    * endangerment test and the recompute use the same comparisons).
    */
  private def ordKinds(t: DataType): Boolean = t match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: FloatType | _: DoubleType | _: DecimalType |
         _: StringType | _: DateType | _: TimestampType |
         _: BooleanType => true
    case _ => false
  }

  /** Endangered-group recompute stops file-pruning past this many
    * distinct keys (the IN-probe literals live on the driver; above
    * the cap the recompute still touches only endangered GROUPS, via
    * the semi-join, just over the unpruned head file list).
    */
  private val PruneKeyCap = 10000

  /** Advance the aggregate table at `aggPath` to the head of the
    * manifest table at `srcPath`. Creates the agg table (with its
    * derived schema) on first call. Returns the span applied.
    */
  def catchUp(
      spark: SparkSession,
      srcPath: String,
      aggPath: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil): Stats = {
    require(groupCols.nonEmpty, "incremental agg needs group columns")
    require(groupCols.intersect(sumCols).isEmpty,
      s"a column cannot be both group and sum: ${
        groupCols.intersect(sumCols).mkString(", ")}")
    require(groupCols.intersect(minCols ++ maxCols).isEmpty,
      s"a column cannot be both group and min/max: ${
        groupCols.intersect(minCols ++ maxCols).mkString(", ")}")
    // duplicate names (e.g. min_cols='a,a' via CALL sync_agg) would
    // derive a schema with duplicate min_a fields and fail much later
    // in table init/merge with a confusing error — refuse loudly here
    // like every other invalid spec
    Seq("group" -> groupCols, "sum" -> sumCols,
        "min" -> minCols, "max" -> maxCols).foreach { case (kind, cs) =>
      val dups = cs.groupBy(_.toLowerCase).collect {
        case (_, vs) if vs.size > 1 => vs.head }
      require(dups.isEmpty,
        s"incremental agg at $aggPath: duplicate $kind column(s): ${
          dups.mkString(", ")}")
    }
    val srcStore = new ChunkStore(spark, srcPath)
    val srcMtf = new ManifestTableFormat(spark, srcPath, srcStore.schema)
    val srcSchema = srcMtf.currentSchema
    def fieldOf(n: String): StructField = srcSchema.fields
      .find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"incremental agg at $aggPath: column '$n' is not in " +
            s"$srcPath's schema (${srcSchema.fieldNames.mkString(", ")})"))
    val gFields = groupCols.map(fieldOf)
    val sFields = sumCols.map(fieldOf)
    val minFields = minCols.map(fieldOf)
    val maxFields = maxCols.map(fieldOf)
    sFields.foreach(f => require(sumKinds(f.dataType),
      s"incremental agg at $aggPath: SUM over ${f.name}: " +
        s"${f.dataType.simpleString} is not maintainable — supported " +
        "aggregates are COUNT(*) + SUM/COUNT of numeric columns " +
        "(AVG = sum/nn at read time) + MIN/MAX of orderable columns " +
        "(bounded recompute on extremum deletes)"))
    (minFields ++ maxFields).foreach(f => require(ordKinds(f.dataType),
      s"incremental agg at $aggPath: MIN/MAX over ${f.name}: " +
        s"${f.dataType.simpleString} is not orderable-maintainable — " +
        "supported extremum types are numeric/string/date/timestamp/" +
        "boolean"))
    // SUM result types via Spark's own typing (one empty-frame probe)
    val sumTypes: Map[String, DataType] =
      if (sumCols.isEmpty) Map.empty
      else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], srcSchema)
        .agg(sum(col(sFields.head.name)).as("0"),
          sFields.tail.zipWithIndex.map { case (f, i) =>
            sum(col(f.name)).as(s"${i + 1}") }: _*)
        .schema.fields.zipWithIndex
        .map { case (f, i) => sFields(i).name -> f.dataType }.toMap
    val aggSchema = StructType(
      gFields.map(f => StructField(f.name, f.dataType, nullable = true)) ++
        Seq(StructField("cnt", LongType, nullable = false)) ++
        sFields.flatMap(f => Seq(
          StructField(s"sum_${f.name}", sumTypes(f.name), nullable = true),
          StructField(s"nn_${f.name}", LongType, nullable = false))) ++
        minFields.map(f =>
          StructField(s"min_${f.name}", f.dataType, nullable = true)) ++
        maxFields.map(f =>
          StructField(s"max_${f.name}", f.dataType, nullable = true)))

    val fs = new Path(aggPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aggStore = new ChunkStore(spark, aggPath)
    val aggMtf = new ManifestTableFormat(spark, aggPath, aggStore.schema)
    if (!ManifestLog.isTable(fs, new Path(aggPath)))
      aggMtf.initializeTable(Some(aggSchema), Nil)
    else require(
      aggMtf.currentSchema.fieldNames.toSeq == aggSchema.fieldNames.toSeq,
      s"agg table at $aggPath has columns ${
        aggMtf.currentSchema.fieldNames.mkString(", ")} but this spec " +
        s"derives ${aggSchema.fieldNames.mkString(", ")} — one agg " +
        "table maintains one (groupCols, sumCols) spec")

    val app = appId(srcPath)
    val head = srcMtf.version
    require(head >= 0, s"no commits at $srcPath")
    val from = aggMtf.streamTransactions.toMap.getOrElse(app, -1L)
    if (from >= head) return Stats(from, head, 0L)

    val delta = srcMtf.changesBetween(from, head)
    val isIns = col("_change_type") === lit("insert")
    val sign = when(isIns, 1L).otherwise(-1L)
    val aggExprs =
      (sum(sign).as("__dcnt") +:
      sFields.flatMap(f => Seq(
        coalesce(sum(when(col(f.name).isNotNull,
            sign * col(f.name)).otherwise(lit(0))), lit(0))
          .cast(sumTypes(f.name)).as(s"__dsum_${f.name}"),
        sum(when(col(f.name).isNotNull, sign).otherwise(lit(0L)))
          .as(s"__dnn_${f.name}")))) ++
      minFields.map(f =>
        min(when(isIns, col(f.name))).as(s"__imin_${f.name}")) ++
      minFields.map(f =>
        min(when(!isIns, col(f.name))).as(s"__dmin_${f.name}")) ++
      maxFields.map(f =>
        max(when(isIns, col(f.name))).as(s"__imax_${f.name}")) ++
      maxFields.map(f =>
        max(when(!isIns, col(f.name))).as(s"__dmax_${f.name}"))
    val groupDelta = delta
      .groupBy(gFields.map(f => col(f.name)): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
      .persist()
    try {
      val groups = groupDelta.count()
      if (groups == 0L) {
        // nothing changed row-wise across the span (e.g. compaction
        // commits): advance the marker alone, atomically
        aggMtf.appendStream(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          aggSchema), app, head)
        return Stats(from, head, 0L)
      }
      // MIN/MAX resolve to FINAL per-group values in the merge
      // SOURCE (delta-combine, or bounded recompute from the source
      // at `head` when a delete endangered the held extremum), so
      // the merge clauses stay simple column references
      val hasExtrema = minFields.nonEmpty || maxFields.nonEmpty
      val mergeSource =
        if (!hasExtrema) groupDelta
        else resolveExtrema(groupDelta, aggStore.read(), srcMtf, head,
          gFields, minFields, maxFields).persist()
      try {
        val t = "__graft_t"
        val s = "__graft_s"
        val onCond = gFields.map(f =>
          col(s"$t.${f.name}") <=> col(s"$s.${f.name}")).reduce(_ && _)
        val newCnt = col(s"$t.cnt") + col(s"$s.__dcnt")
        def newNn(c: String) = col(s"$t.nn_$c") + col(s"$s.__dnn_$c")
        def newSum(c: String) =
          when(newNn(c) === 0L, lit(null))
            .otherwise(coalesce(col(s"$t.sum_$c"), lit(0)) +
              col(s"$s.__dsum_$c"))
        val extremaSet =
          minFields.map(f =>
            s"min_${f.name}" -> (col(s"$s.__fmin_${f.name}"): Column)) ++
          maxFields.map(f =>
            s"max_${f.name}" -> (col(s"$s.__fmax_${f.name}"): Column))
        val matched = Seq(
          GraftMergeDelete(Some(newCnt <= 0L)),
          GraftMergeUpdate(None,
            (("cnt" -> (newCnt: Column)) +: sumCols.flatMap(c => Seq(
              s"sum_$c" -> (newSum(c): Column),
              s"nn_$c" -> (newNn(c): Column)))) ++ extremaSet))
        val notMatched = Seq(
          GraftMergeInsert(Some(col(s"$s.__dcnt") > 0L),
            groupCols.map(g => g -> (col(s"$s.$g"): Column)) ++
              Seq("cnt" -> (col(s"$s.__dcnt"): Column)) ++
              sumCols.flatMap(c => Seq(
                s"sum_$c" -> (when(col(s"$s.__dnn_$c") === 0L, lit(null))
                  .otherwise(col(s"$s.__dsum_$c")): Column),
                s"nn_$c" -> (col(s"$s.__dnn_$c"): Column))) ++ extremaSet))
        // sourceKeyedByOn: mergeSource is a GROUP BY on exactly the
        // ON keys, so the per-key uniqueness the ambiguity guard
        // checks holds by construction — skip its job
        aggMtf.mergeInto(mergeSource, onCond, matched, notMatched, Nil,
          urlProbe = None, txn = Some((app, head)),
          sourceKeyedByOn = true)
        Stats(from, head, groups)
      } finally if (hasExtrema) mergeSource.unpersist()
    } finally groupDelta.unpersist()
  }

  /** Per touched group, the FINAL `__fmin_*` / `__fmax_*` values the
    * merge writes:
    *
    *  1. candidate = null-safe least/greatest(held extremum,
    *     extremum over the span's INSERTED rows) — exact whenever the
    *     span deleted nothing at/beyond the held extremum;
    *  2. ENDANGERED groups — a deleted value ≤ candidate min (≥
    *     candidate max), detectable from the feed alone — re-derive
    *     from the source AT THE SPAN HEAD: file-pruned through the
    *     manifest per-file stats via group-key IN probes (key set
    *     driver-collected up to [[PruneKeyCap]], fail-open past it or
    *     on null keys), semi-joined to exactly the endangered keys,
    *     one GROUP BY over the surviving files.
    *
    * NULL rules match SQL MIN/MAX: null values never endanger (they
    * are never the extremum), an all-null or emptied group resolves
    * to NULL (and an emptied group's row is deleted by the cnt
    * clause before the value could matter).
    */
  private def resolveExtrema(
      groupDelta: DataFrame,
      heldAgg: DataFrame,
      srcMtf: ManifestTableFormat,
      head: Long,
      gFields: Seq[StructField],
      minFields: Seq[StructField],
      maxFields: Seq[StructField]): DataFrame = {
    val keys = gFields.map(_.name)
    val held = heldAgg.select(
      keys.map(col) ++
        minFields.map(f => col(s"min_${f.name}").as(s"__tmin_${f.name}")) ++
        maxFields.map(f => col(s"max_${f.name}").as(s"__tmax_${f.name}")): _*)
    val joined = {
      val gd = groupDelta.alias("gd")
      val ha = held.alias("ha")
      val cond = keys.map(k =>
        col(s"gd.$k") <=> col(s"ha.$k")).reduce(_ && _)
      gd.join(ha, cond, "left").select(
        groupDelta.columns.toSeq.map(c => col(s"gd.$c")) ++
          minFields.map(f => col(s"ha.__tmin_${f.name}")) ++
          maxFields.map(f => col(s"ha.__tmax_${f.name}")): _*)
    }
    def ns(pick: (Column, Column) => Column)(a: Column, b: Column) =
      when(a.isNull, b).when(b.isNull, a).otherwise(pick(a, b))
    val flagged = joined.select(col("*") +: (
      minFields.flatMap { f =>
        val cand = ns(least(_, _))(
          col(s"__tmin_${f.name}"), col(s"__imin_${f.name}"))
        Seq(cand.as(s"__cmin_${f.name}"),
          (col(s"__dmin_${f.name}").isNotNull &&
            (cand.isNull || col(s"__dmin_${f.name}") <= cand))
            .as(s"__emin_${f.name}"))
      } ++ maxFields.flatMap { f =>
        val cand = ns(greatest(_, _))(
          col(s"__tmax_${f.name}"), col(s"__imax_${f.name}"))
        Seq(cand.as(s"__cmax_${f.name}"),
          (col(s"__dmax_${f.name}").isNotNull &&
            (cand.isNull || col(s"__dmax_${f.name}") >= cand))
            .as(s"__emax_${f.name}"))
      }): _*)
    def finalize(df: DataFrame, recomputed: Boolean): DataFrame = {
      val deltaVals = groupDelta.columns.toSeq.filter(c =>
        c == "__dcnt" || c.startsWith("__dsum_") || c.startsWith("__dnn_"))
      df.select(
        keys.map(col) ++ deltaVals.map(col) ++
          minFields.map { f =>
            val cand = col(s"__cmin_${f.name}")
            (if (recomputed)
              when(col(s"__emin_${f.name}"), col(s"__rmin_${f.name}"))
                .otherwise(cand)
            else cand).as(s"__fmin_${f.name}")
          } ++
          maxFields.map { f =>
            val cand = col(s"__cmax_${f.name}")
            (if (recomputed)
              when(col(s"__emax_${f.name}"), col(s"__rmax_${f.name}"))
                .otherwise(cand)
            else cand).as(s"__fmax_${f.name}")
          }: _*)
    }
    val anyFlag = (minFields.map(f => col(s"__emin_${f.name}")) ++
      maxFields.map(f => col(s"__emax_${f.name}"))).reduce(_ || _)
    val endangered = flagged.filter(anyFlag)
      .select(keys.map(col): _*).distinct().persist()
    try {
      val keyRows = endangered.limit(PruneKeyCap + 1).collect()
      if (keyRows.isEmpty) return finalize(flagged, recomputed = false)
      val pairs = srcMtf.filesWithDvAtVersion(head)
      val srcSchema = srcMtf.schemaAtVersion(head)
      val prunedPairs =
        if (keyRows.length > PruneKeyCap ||
            keyRows.exists(r => keys.indices.exists(r.isNullAt))) pairs
        else {
          import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          import org.apache.spark.sql.catalyst.expressions.{In, Literal}
          val typeOf: String => Option[(String, DataType)] = n =>
            srcSchema.fields.find(_.name.equalsIgnoreCase(n)).map(fl =>
              (ManifestTableFormat.physicalName(fl), fl.dataType))
          val exprs = gFields.zipWithIndex.map { case (f, i) =>
            In(UnresolvedAttribute(Seq(f.name)),
              keyRows.toSeq.map(r => Literal.create(r.get(i), f.dataType)))
              : org.apache.spark.sql.catalyst.expressions.Expression
          }
          val probes = graft.sink.StatsProbes.extract(exprs, typeOf)
          if (probes.isEmpty) pairs
          else srcMtf.pruneFilesForScan(pairs.map(_._1), probes)
            .fold(pairs) { keep =>
              val k = keep.toSet
              pairs.filter(p => k(p._1))
            }
        }
      val rec = {
        val sh = srcMtf.readPinned(prunedPairs, srcSchema).alias("sh")
        val ek = endangered.alias("ek")
        val semiCond = keys.map(k =>
          col(s"sh.$k") <=> col(s"ek.$k")).reduce(_ && _)
        val recAggs =
          minFields.map(f => min(col(f.name)).as(s"__rmin_${f.name}")) ++
          maxFields.map(f => max(col(f.name)).as(s"__rmax_${f.name}"))
        sh.join(broadcast(ek), semiCond, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(recAggs.head, recAggs.tail: _*)
      }
      val rejoined = {
        val fl = flagged.alias("fl")
        val rc = rec.alias("rc")
        val cond = keys.map(k =>
          col(s"fl.$k") <=> col(s"rc.$k")).reduce(_ && _)
        fl.join(rc, cond, "left").select(
          flagged.columns.toSeq.map(c => col(s"fl.$c")) ++
            minFields.map(f => col(s"rc.__rmin_${f.name}")) ++
            maxFields.map(f => col(s"rc.__rmax_${f.name}")): _*)
      }
      finalize(rejoined, recomputed = true)
    } finally endangered.unpersist()
  }
}
