package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.sink.{ChunkStore, GraftMergeDelete, GraftMergeInsert, GraftMergeUpdate, ManifestLog, ManifestTableFormat}

/** Round-8 fuzz: random sequences of the round's DML + evolution
  * surface — upsert, append, row-level UPDATE/DELETE, keyed delete,
  * MERGE algebra, ADD COLUMN, checkpoint, vacuum — executed against a
  * manifest table AND a driver-side model simultaneously; the table
  * must equal the model after every sequence, and still-reconstructable
  * historical versions must equal the model's recorded history.
  * One chunk per document keeps the model a url-keyed map; predicates
  * are drawn from a closed family evaluable on both sides.
  */
class Round8DmlFuzzSpec extends SparkSpec {

  // a model row: base columns + evolved extras (None = SQL NULL)
  private type Doc = Map[String, Any]

  /** One recorded version: the model rows and the head's (file,
    * deletion vector) pairs and schema when it was the head.
    */
  private case class Recorded(v: Long, model: Map[String, Doc],
      pairs: Seq[(String, Option[ManifestTableFormat.DvRef])],
      schema: org.apache.spark.sql.types.StructType)

  /** Predicate family: evaluable as a Column AND on the model. */
  private case class Pred(
      sql: Column, model: Doc => Boolean, label: String)

  private def preds(rnd: scala.util.Random,
      evolved: Seq[String]): Pred = rnd.nextInt(5) match {
    case 0 =>
      val k = rnd.nextInt(3)
      Pred(col("page_number") % 3 === k,
        d => d("page_number").asInstanceOf[Int] % 3 == k,
        s"page%3==$k")
    case 4 =>
      // stats-EXTRACTABLE shape: exercises the metadata pre-prune in
      // the DML pre-scans (the other family members fail open)
      val k = 2 + rnd.nextInt(8)
      Pred(col("page_number") <= k,
        d => d("page_number").asInstanceOf[Int] <= k,
        s"page<=$k")
    case 1 =>
      val digit = rnd.nextInt(10).toString
      Pred(col("document_url").endsWith(digit),
        d => d("document_url").asInstanceOf[String].endsWith(digit),
        s"url endsWith $digit")
    case 2 =>
      val p = s"t${rnd.nextInt(4)}"
      Pred(col("chunk_text").startsWith(p),
        d => d("chunk_text").asInstanceOf[String].startsWith(p),
        s"text startsWith $p")
    case _ if evolved.nonEmpty =>
      val c = evolved(rnd.nextInt(evolved.size))
      Pred(col(c).isNull, d => d.get(c).flatMap(Option(_)).isEmpty,
        s"$c isNull")
    case _ =>
      Pred(col("chunk_id") >= 0, _ => true, "always")
  }

  private def rowsDF(docs: Seq[Doc], cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    val schema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("chunk_id", IntegerType),
        org.apache.spark.sql.types.StructField("chunk_text", StringType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false)),
        org.apache.spark.sql.types.StructField("page_number", IntegerType),
        org.apache.spark.sql.types.StructField("document_url", StringType)
      ) ++ cols.drop(5).map { c =>
        org.apache.spark.sql.types.StructField(c,
          if (c.startsWith("si")) IntegerType else StringType)
      })
    val data = docs.map { d =>
      Row.fromSeq(schema.fieldNames.toSeq.map(n =>
        d.get(n).map {
          case s: Seq[_] => s
          case x => x
        }.orNull))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
  }

  private def freshDoc(rnd: scala.util.Random, url: String,
      evolved: Seq[String]): Doc =
    Map(
      "chunk_id" -> 0,
      "chunk_text" -> s"t${rnd.nextInt(4)}-${rnd.nextInt(1000)}",
      "embedding" -> Seq(rnd.nextInt(5).toFloat),
      "page_number" -> rnd.nextInt(9),
      "document_url" -> url) ++
      evolved.map(c => c -> null)

  test("randomized DML + evolution sequences agree with the model, " +
      "including surviving time-travel history") {
    // two independent seeds × two sequences each: different seeds
    // explore different op interleavings (seed 8282's first run found
    // the input_file_name-after-join bug in the merge pre-scan)
    for (seed <- Seq(8282, 4141); round <- 1 to 2) {
      val rnd = new scala.util.Random(seed * 31 + round)
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-dmlfuzz$seed-$round").toString + "/t"
      val store = new ChunkStore(spark, path,
        format = ManifestTableFormat.factory)
      def mtf = new ManifestTableFormat(spark, path, store.schema)
      val model = mutable.LinkedHashMap.empty[String, Doc]
      var evolved = Vector.empty[String]
      def allCols = Seq("chunk_id", "chunk_text", "embedding",
        "page_number", "document_url") ++ evolved
      val history = mutable.ArrayBuffer.empty[Recorded]
      var urlSeq = 0
      def newUrl(): String = { urlSeq += 1; f"doc://$round%d-$urlSeq%04d" }
      var batchSeq = 0L

      (1 to 26).foreach { i =>
        rnd.nextInt(15) match {
          case 13 => // TRUNCATE: reversible rm-all commit
            mtf.truncate()
            model.clear()
          case 14 => // RESTORE to a random recorded version; a
            // vacuumed-away target must fail loudly WITHOUT changes
            if (history.nonEmpty) {
              val h = history(rnd.nextInt(history.size))
              if (h.v >= 0) {
                val before = model.toMap
                try {
                  mtf.restore(h.v)
                  model.clear(); model ++= h.model
                } catch {
                  case _: IllegalArgumentException =>
                    assert(model.toMap == before)
                }
              }
            }
          case 10 => // predicate-scoped OPTIMIZE: rows must not change
            mtf.compactWhere(preds(rnd, evolved).sql,
              targetFileBytes = 64 << 10)
          case 11 => // z-order compaction: rows must not change
            if (model.nonEmpty)
              mtf.compactZorder(Seq("page_number"),
                targetFileBytes = 64 << 10)
          case 12 => // exactly-once streaming append, with deliberate
            // replays of the previous batch id (must no-op)
            val docs = Seq.fill(1 + rnd.nextInt(2))(
              freshDoc(rnd, newUrl(), evolved))
            val replay = rnd.nextBoolean() && batchSeq > 0
            val bid = if (replay) batchSeq - 1 else batchSeq
            val applied =
              mtf.appendStream(rowsDF(docs, allCols), "fuzz", bid)
            assert(applied == !replay,
              s"appendStream(bid=$bid, replay=$replay) -> $applied")
            if (applied) {
              docs.foreach(d =>
                model(d("document_url").asInstanceOf[String]) = d)
              batchSeq += 1
            }
          case arm => arm match {
          case 0 | 1 => // upsert: mix of existing + new docs
            val existing = rnd.shuffle(model.keys.toSeq)
              .take(rnd.nextInt(3))
            val urls = existing ++ Seq.fill(1 + rnd.nextInt(3))(newUrl())
            val docs = urls.map(u => freshDoc(rnd, u, evolved))
            store.upsert(rowsDF(docs, allCols))
            docs.foreach(d =>
              model(d("document_url").asInstanceOf[String]) = d)
          case 2 => // append new docs only (append-only contract)
            val docs = Seq.fill(1 + rnd.nextInt(3))(
              freshDoc(rnd, newUrl(), evolved))
            store.append(rowsDF(docs, allCols))
            docs.foreach(d =>
              model(d("document_url").asInstanceOf[String]) = d)
          case 3 => // row-level UPDATE — randomly merge-on-read
            // (tombstone + re-append via deletion vectors) or
            // copy-on-write; the model cannot tell them apart
            val p = preds(rnd, evolved)
            val tag = s"u${rnd.nextInt(100)}"
            val assigns =
              Seq("chunk_text" -> concat(col("chunk_text"), lit(tag)),
                "page_number" -> (col("page_number") + 1))
            if (rnd.nextBoolean()) {
              spark.conf.set("spark.graft.deletionVectors", "true")
              try store.update(Some(p.sql), assigns)
              finally spark.conf.unset("spark.graft.deletionVectors")
            } else store.update(Some(p.sql), assigns)
            model.mapValuesInPlace { (_, d) =>
              if (p.model(d))
                d + ("chunk_text" ->
                    (d("chunk_text").asInstanceOf[String] + tag)) +
                  ("page_number" ->
                    (d("page_number").asInstanceOf[Int] + 1))
              else d
            }
          case 4 => // row-level DELETE — randomly MERGE-ON-READ
            // (protocol-v6 deletion vectors) or copy-on-write; the
            // model must not be able to tell the strategies apart,
            // and every later op (time travel, CDF, restore,
            // compaction, vacuum, SQL count) runs over whichever
            // physical state this left behind
            val p = preds(rnd, evolved)
            if (rnd.nextBoolean()) {
              spark.conf.set("spark.graft.deletionVectors", "true")
              try store.deleteWhere(p.sql)
              finally spark.conf.unset("spark.graft.deletionVectors")
            } else store.deleteWhere(p.sql)
            model.filterInPlace((_, d) => !p.model(d))
          case 5 => // keyed delete — randomly merge-on-read too
            val urls = rnd.shuffle(model.keys.toSeq)
              .take(rnd.nextInt(3))
            if (urls.nonEmpty) {
              if (rnd.nextBoolean()) {
                spark.conf.set("spark.graft.deletionVectors", "true")
                try store.delete(urls)
                finally spark.conf.unset("spark.graft.deletionVectors")
              } else store.delete(urls)
              urls.foreach(model.remove)
            }
          case 6 => // ADD COLUMN (alternate string/int, bounded)
            if (evolved.size < 3) {
              val c =
                if (evolved.size % 2 == 0) s"sc${evolved.size}"
                else s"si${evolved.size}"
              mtf.addColumn(c,
                if (c.startsWith("si")) IntegerType else StringType)
              evolved :+= c
              model.mapValuesInPlace((_, d) => d + (c -> null))
            }
          case 7 => // MERGE: update matched, insert new, maybe delete
            val matchedUrls = rnd.shuffle(model.keys.toSeq)
              .take(rnd.nextInt(3))
            val newDocs = Seq.fill(rnd.nextInt(2))(
              freshDoc(rnd, newUrl(), evolved))
            val srcDocs = matchedUrls.map(u =>
              freshDoc(rnd, u, evolved)) ++ newDocs
            if (srcDocs.nonEmpty) {
              val bySourceDelete = rnd.nextBoolean()
              val digit = rnd.nextInt(10).toString
              store.mergeInto(
                rowsDF(srcDocs, allCols),
                col("__graft_t.document_url") ===
                  col("__graft_s.document_url"),
                matched = Seq(GraftMergeUpdate(None,
                  Seq("chunk_text" -> col("__graft_s.chunk_text")))),
                notMatched = Seq(GraftMergeInsert(None,
                  allCols.map(c => c -> col(s"__graft_s.$c")))),
                notMatchedBySource =
                  if (bySourceDelete)
                    Seq(GraftMergeDelete(Some(
                      col("__graft_t.document_url").endsWith(digit))))
                  else Seq.empty,
                urlProbe = None)
              val srcByUrl = srcDocs
                .map(d => d("document_url").asInstanceOf[String] -> d)
                .toMap
              model.mapValuesInPlace { (u, d) =>
                srcByUrl.get(u) match {
                  case Some(s) => d + ("chunk_text" -> s("chunk_text"))
                  case None => d
                }
              }
              if (bySourceDelete)
                model.filterInPlace((u, _) =>
                  srcByUrl.contains(u) || !u.endsWith(digit))
              newDocs.foreach(d =>
                model(d("document_url").asInstanceOf[String]) = d)
            }
          case 8 => mtf.checkpoint()
          case _ => // maintenance: sometimes purge deletion vectors
            // (rows unchanged), always vacuum
            if (rnd.nextBoolean()) mtf.rewriteDvs()
            mtf.vacuum()
          }
        }
        val head = mtf
        history += Recorded(head.version, model.toMap,
          head.liveFilesWithDv, head.currentSchema)

        // CLONE arm, deterministic cadence (every 9th op, so it
        // leaves the seeds' random op sequences untouched): fork the
        // log at whatever state the fuzz produced — mid-evolution,
        // post-truncate, post-checkpoint — and check the fork
        // immediately (fork-point equality + write isolation both
        // ways), then abandon it. Immediate-check only, because a
        // LATER source vacuum arm may legitimately reclaim files a
        // clone references (the documented shallow-clone hazard).
        if (i % 9 == 0 && mtf.version >= 0) {
          val clonePath = java.nio.file.Files
            .createTempDirectory(s"graft-dmlfuzz-clone$i").toString + "/c"
          ManifestLog.cloneLog(spark, path, clonePath)
          val cloneStore = new ChunkStore(spark, clonePath,
            format = ManifestTableFormat.factory)
          def urlText(df: DataFrame): Set[(String, String)] =
            df.select("document_url", "chunk_text").collect()
              .map(r => (r.getString(0), r.getString(1))).toSet
          val want = model.map { case (u, d) =>
            (u, d("chunk_text").asInstanceOf[String]) }.toSet
          assert(urlText(cloneStore.read()) == want,
            s"clone at v${mtf.version} diverged from fork-point model")
          // clone-side append: invisible to the source
          val doc: Map[String, Any] = Map(
            "chunk_id" -> 0, "chunk_text" -> s"clone-$i",
            "embedding" -> Seq(1f), "page_number" -> 1,
            "document_url" -> s"doc://clone-$i") ++
            evolved.map(_ -> (null: Any))
          cloneStore.append(rowsDF(Seq(doc), allCols))
          assert(cloneStore.read().count() == want.size + 1)
          assert(urlText(store.read()) == want,
            "a clone-side append leaked into the source")
        }
      }

      // final state: table == model on every column
      def canon(rows: Seq[Map[String, Any]]): Seq[Seq[String]] =
        rows.map(d => allCols.map(c =>
          d.get(c).flatMap(Option(_)).fold("NULL")(_.toString)))
          .sortBy(_.mkString("|"))
      val got = store.read().collect().toIndexedSeq.map { r =>
        allCols.map(c => c -> (r.get(r.fieldIndex(c)) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case x => x
        })).toMap
      }
      assert(canon(got) == canon(model.values.toSeq),
        s"round $round final state diverged")

      // SQL reads through the catalog exercise the stats-pruned scan
      // (ManifestStatsScanBuilder) against the fuzzed end state —
      // evolved schemas, zorder/partial compactions, vacuumed logs,
      // streamed batches and all; counts must match the model exactly
      val cat = s"fuzzcat${seed}_$round"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
        path.stripSuffix("/t"))
      Seq(0, 4, 9, 1000).foreach { k =>
        val sqlCount = spark.sql(
          s"SELECT count(*) FROM $cat.t WHERE page_number <= $k")
          .collect().head.getLong(0)
        val modelCount = model.values.count(
          _("page_number").asInstanceOf[Int] <= k).toLong
        assert(sqlCount == modelCount,
          s"round $round SQL page_number<=$k: $sqlCount != $modelCount")
      }

      // surviving history: every recorded version still reconstructable
      // replays to the pairs and schema it had as the head — through
      // checkpoints, ADD COLUMNs, restores and vacuums alike
      val m = mtf
      history.filter(_.v >= 0).foreach { h =>
        try {
          assert(m.filesWithDvAtVersion(h.v) == h.pairs,
            s"round $round version ${h.v}: replayed pairs diverged")
          val pin = m.pinScan(Some(h.v))
          assert(pin.pairs == h.pairs && pin.schema == h.schema,
            s"round $round version ${h.v}: pinned pairs or schema diverged")
        } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("reconstructable") => ()
        }
      }
      // and 3 of them read back the model's rows
      rnd.shuffle(history.toSeq).take(3).foreach { h =>
        val (v, snap) = (h.v, h.model)
        if (v >= 0) {
          try {
            val df = m.readVersion(v)
            val cols = df.columns.toSeq
            val gotV = df.collect().toIndexedSeq.map { r =>
              cols.map(c => c -> (r.get(r.fieldIndex(c)) match {
                case s: scala.collection.Seq[_] => s.toSeq
                case x => x
              })).toMap
            }
            val wantV = snap.values.toSeq.map(_.filter {
              case (k, _) => cols.contains(k) })
            def c2(rows: Seq[Map[String, Any]]) =
              rows.map(d => cols.map(c =>
                d.get(c).flatMap(Option(_)).fold("NULL")(_.toString)))
                .sortBy(_.mkString("|"))
            assert(c2(gotV) == c2(wantV),
              s"round $round version $v diverged")
          } catch {
            // vacuumed past reconstructability: either the loud
            // replay error (entries pruned) or PATH_NOT_FOUND at read
            // time (entries linger until the next checkpoint+vacuum,
            // but the old versions' data files are reclaimed) — both
            // are the documented retention contract, never a wrong
            // answer
            case e: IllegalArgumentException
                if e.getMessage.contains("reconstructable") => ()
            case e: org.apache.spark.sql.AnalysisException
                if e.getMessage.contains("PATH_NOT_FOUND") => ()
          }
        }
      }
    }
  }

  test("key-less DDL-schema fuzz: generic DML sequences on an " +
      "arbitrary-schema manifest table agree with the model") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // the persisted-base-schema path: the table is initialized with a
    // (k, v, x) schema and every MTF instance is constructed with the
    // CHUNK schema — the sidecar must override it
    val ddl = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("x", IntegerType)))
    for (seed <- Seq(7373, 5151)) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-ddlfuzz$seed").toString + "/t"
      val store = new ChunkStore(spark, dir,
        format = ManifestTableFormat.factory)
      new ManifestTableFormat(spark, dir, store.schema)
        .initializeTable(Some(ddl), Seq.empty)
      def mtf = new ManifestTableFormat(spark, dir, store.schema)
      assert(mtf.currentSchema.fieldNames.toSeq == Seq("k", "v", "x"))

      type Rec = Map[String, Any]
      val model = mutable.LinkedHashMap.empty[Long, Rec]
      var evolved = Vector.empty[String]
      def allCols = Seq("k", "v", "x") ++ evolved
      def df(recs: Seq[Rec]): DataFrame = {
        val s = StructType(
          Seq(StructField("k", LongType), StructField("v", StringType),
            StructField("x", IntegerType)) ++
            evolved.map(StructField(_, StringType)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(
            recs.map(r => Row.fromSeq(
              s.fieldNames.toSeq.map(n => r.get(n).orNull))), 2), s)
      }
      var kSeq = 0L
      def fresh(): Rec = {
        kSeq += 1
        Map("k" -> kSeq, "v" -> s"v${rnd.nextInt(4)}-${rnd.nextInt(99)}",
          "x" -> rnd.nextInt(10)) ++ evolved.map(_ -> null)
      }
      case class P(sql: Column, m: Rec => Boolean)
      def pred(): P = rnd.nextInt(3) match {
        case 0 =>
          val t = rnd.nextInt(3)
          P(col("k") % 3 === t, r => r("k").asInstanceOf[Long] % 3 == t)
        case 1 =>
          val t = rnd.nextInt(10)
          P(col("x") <= t, r => r("x").asInstanceOf[Int] <= t)
        case _ =>
          val p = s"v${rnd.nextInt(4)}"
          P(col("v").startsWith(p),
            r => r("v").asInstanceOf[String].startsWith(p))
      }
      val history = mutable.ArrayBuffer.empty[(Long, Map[Long, Rec])]
      // logical renames applied so far (old name → new name): RESTORE
      // reverts the FILE set, never the schema, so a restored model
      // snapshot must re-key its records to the current names (the
      // values survive under the stable physical identity)
      val renameChain = mutable.Map.empty[String, String]
      def currentName(n: String): String =
        renameChain.get(n).map(currentName).getOrElse(n)
      def rekey(r: Rec): Rec = r.map { case (k, v) => currentName(k) -> v }

      (1 to 22).foreach { _ =>
        rnd.nextInt(10) match {
          case 0 | 1 => // append
            val recs = Seq.fill(1 + rnd.nextInt(3))(fresh())
            mtf.append(df(recs))
            recs.foreach(r => model(r("k").asInstanceOf[Long]) = r)
          case 2 | 3 => // row-level UPDATE
            val p = pred()
            val tag = s"+u${rnd.nextInt(100)}"
            mtf.update(Some(p.sql),
              Seq("v" -> concat(col("v"), lit(tag)),
                "x" -> (col("x") + 1)))
            model.mapValuesInPlace { (_, r) =>
              if (p.m(r))
                r + ("v" -> (r("v").asInstanceOf[String] + tag)) +
                  ("x" -> (r("x").asInstanceOf[Int] + 1))
              else r
            }
          case 4 => // row-level DELETE
            val p = pred()
            mtf.deleteWhere(p.sql)
            model.filterInPlace((_, r) => !p.m(r))
          case 5 => // MERGE on the surrogate key
            val matched = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
            val inserts = Seq.fill(rnd.nextInt(2))(fresh())
            val src = matched.map(k =>
              fresh() + ("k" -> k)) ++ inserts
            if (src.nonEmpty) {
              mtf.mergeInto(df(src),
                col("__graft_t.k") === col("__graft_s.k"),
                matched = Seq(GraftMergeUpdate(None,
                  Seq("v" -> col("__graft_s.v")))),
                notMatched = Seq(GraftMergeInsert(None,
                  allCols.map(c => c -> col(s"__graft_s.$c")))),
                notMatchedBySource = Seq.empty,
                urlProbe = None)
              val byK = src.map(r => r("k").asInstanceOf[Long] -> r).toMap
              model.mapValuesInPlace { (k, r) =>
                byK.get(k).fold(r)(s => r + ("v" -> s("v")))
              }
              inserts.foreach(r => model(r("k").asInstanceOf[Long]) = r)
            }
          case 6 => // ADD COLUMN (bounded) or RENAME an evolved one
            if (evolved.nonEmpty && rnd.nextBoolean()) {
              val i = rnd.nextInt(evolved.size)
              val from = evolved(i)
              val to = s"${from}r${rnd.nextInt(90)}"
              mtf.renameColumn(from, to)
              evolved = evolved.updated(i, to)
              renameChain(from) = to
              model.mapValuesInPlace((_, r) =>
                r.get(from).fold(r)(v => r - from + (to -> v)))
            } else if (evolved.size < 2) {
              val c = s"e${evolved.size}"
              mtf.addColumn(c, StringType)
              evolved :+= c
              model.mapValuesInPlace((_, r) => r + (c -> null))
            }
          case 7 => // TRUNCATE / RESTORE
            if (rnd.nextBoolean() || history.isEmpty) {
              mtf.truncate(); model.clear()
            } else {
              val (v, snap) = history(rnd.nextInt(history.size))
              if (v >= 0) {
                val before = model.toMap
                try {
                  mtf.restore(v)
                  model.clear()
                  model ++= snap.view.mapValues(rekey).toMap
                } catch {
                  case _: IllegalArgumentException =>
                    assert(model.toMap == before)
                }
              }
            }
          case 8 => mtf.checkpoint()
          case _ => mtf.vacuum()
        }
        history += ((mtf.version, model.toMap))
      }

      def canon(rows: Seq[Rec]): Seq[Seq[String]] =
        rows.map(r => allCols.map(c =>
          r.get(c).flatMap(Option(_)).fold("NULL")(_.toString)))
          .sortBy(_.mkString("|"))
      val got = mtf.read().collect().toIndexedSeq.map(r =>
        allCols.map(c => c -> r.get(r.fieldIndex(c))).toMap)
      assert(canon(got) == canon(model.values.toSeq),
        s"seed $seed key-less final state diverged")
    }
  }
}
