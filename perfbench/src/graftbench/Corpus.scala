package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** One generated document: its url, raw bytes as they would sit in blob
  * storage, and the chunk texts the engine must produce from it.
  *
  * Every chunk is one line of 540–990 characters, so the token chunker
  * (≤ 250 heuristic tokens = 1000 characters per paragraph) can neither
  * merge two lines nor split one: the expected chunking is known here
  * without calling the engine's chunker. Poison documents are `.pdf`
  * files with a truncated trailer; the benchmark's layout-service stub
  * rejects them and the isolating router must quarantine them.
  */
final case class Doc(url: String, bytes: Array[Byte], chunks: Vector[String],
    poison: Boolean)

/** A query-stream entry. `kind` is one of [[Corpus.Kinds]]; `source` is
  * the metadata-filter value for `filtered`, `url` the document of a
  * `point` read.
  */
final case class Request(kind: String, text: String, terms: Seq[String],
    source: Int, url: String)

/** One refresh edit batch: documents rewritten in place, new documents,
  * and urls deleted.
  */
final case class EditBatch(edited: Seq[Doc], added: Seq[Doc],
    deleted: Seq[String]) {
  def upserts: Seq[Doc] = edited ++ added
}

/** Seeded workload generator. The seed is the only input; the engine
  * receives only what this produces. Words follow a Zipf law over a
  * synthetic vocabulary, document lengths a truncated power law over
  * 1–20 chunks, extensions a fixed txt/md/pdf mix.
  */
final class Corpus(seed: Long) {
  import Corpus._

  private val rnd = new SplittableRandom(seed)

  val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe",
      "du", "ga", "ho", "zi", "be", "fa", "ju", "xo", "we", "qi", "ny")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val n = 2 + rnd.nextInt(3)
      seen += (0 until n).map(_ => syl(rnd.nextInt(syl.length))).mkString
    }
    seen.toArray
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1, 1.07))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  private def word(): String = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  private val lengthCdf: Array[Double] = {
    val w = Array.tabulate(MaxChunks)(i => 1.0 / math.pow(i + 1, 1.6))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  private def chunkCount(): Int = {
    val i = java.util.Arrays.binarySearch(lengthCdf, rnd.nextDouble())
    math.min(MaxChunks, (if (i >= 0) i else -i - 1) + 1)
  }

  /** One chunk line: sentences of Zipf words, 540–990 characters. */
  def line(prefix: String = ""): String = {
    val target = 560 + rnd.nextInt(400)
    val sb = new StringBuilder(prefix)
    var inSentence = 0
    while (sb.length < target) {
      if (sb.length > prefix.length) sb.append(' ')
      sb.append(word())
      inSentence += 1
      if (inSentence >= 8 + rnd.nextInt(8)) { sb.append('.'); inSentence = 0 }
    }
    if (sb.length > 990) sb.setLength(990)
    val s = sb.toString.trim
    if (s.length < 540) s + " " + ("x" * (540 - s.length - 1)) else s
  }

  private var nextId = 0L

  /** A fresh document of `source`. */
  def doc(source: Int): Doc = {
    val id = nextId
    nextId += 1
    val u = rnd.nextDouble()
    val ext = if (u < 0.45) "txt" else if (u < 0.80) "md" else "pdf"
    val poison = rnd.nextDouble() < PoisonShare
    val url = f"bench://s$source%02d/d$id%07d.${if (poison) "pdf" else ext}"
    body(url, if (poison) "pdf" else ext, chunkCount(), poison)
  }

  private def body(url: String, ext: String, n: Int, poison: Boolean): Doc =
    make(url, ext, Vector.fill(n)(line(if (ext == "md") "- " else "")), poison)

  private def make(url: String, ext: String, lines: Vector[String],
      poison: Boolean): Doc = {
    val text = lines.mkString("\n")
    val bytes = ext match {
      case "pdf" if poison => (PdfHeader + text).getBytes(UTF_8)
      case "pdf" => (PdfHeader + text + "\n" + PdfTrailer).getBytes(UTF_8)
      case _ => text.getBytes(UTF_8)
    }
    Doc(url, bytes, if (poison) Vector.empty else lines, poison)
  }

  /** A new version of `d`: each line replaced with probability 1/4,
    * sometimes one line appended, at least one line changed.
    */
  def rewrite(d: Doc): Doc = {
    val ext = d.url.substring(d.url.lastIndexOf('.') + 1)
    val prefix = if (ext == "md") "- " else ""
    var lines = d.chunks.map(l => if (rnd.nextDouble() < 0.25) line(prefix) else l)
    if (lines.size < MaxChunks && rnd.nextDouble() < 0.3) lines :+= line(prefix)
    if (lines == d.chunks) lines = lines.updated(rnd.nextInt(lines.size), line(prefix))
    make(d.url, ext, lines, poison = false)
  }

  /** A corpus of about `chunks` chunks whose documents are listed in url
    * order, sources in contiguous ranges, as a blob container lists
    * them.
    */
  def corpus(chunks: Int): Vector[Doc] = {
    val docs = Vector.newBuilder[Doc]
    var n = 0
    while (n < chunks) {
      val d = doc(n * Sources / chunks)
      docs += d
      n += d.chunks.size
    }
    docs.result()
  }

  /** A seeded request stream over `docs` (non-poison documents): blocks
    * that hold each of [[Corpus.Kinds]] once, in a seeded order, so
    * every stream has the same even mix. Half the vector queries quote a
    * stored chunk verbatim (known-item search), half are free text.
    */
  def requests(n: Int, docs: IndexedSeq[Doc]): Vector[Request] = {
    val live = docs.filterNot(_.poison)
    val out = Vector.newBuilder[Request]
    var i = 0
    while (i < n) {
      val block = shuffled(Kinds)
      block.foreach { kind =>
        if (i < n) {
          val d = live(rnd.nextInt(live.size))
          val text =
            if (rnd.nextBoolean()) d.chunks(rnd.nextInt(d.chunks.size))
            else Seq.fill(6 + rnd.nextInt(6))(midWord()).mkString(" ")
          val terms = Seq.fill(3)(midWord()).distinct
          out += Request(kind, text, terms, rnd.nextInt(Sources), d.url)
          i += 1
        }
      }
    }
    out.result()
  }

  /** Words of middling frequency: frequent enough to match, rare enough
    * to rank.
    */
  private def midWord(): String = vocab(20 + rnd.nextInt(1500))

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }

  /** One refresh edit batch against the live documents `live`: `edits`
    * rewritten, one new, one removed (all distinct urls).
    */
  def edits(live: IndexedSeq[Doc], edits: Int): EditBatch = {
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(live.size, edits + 1))
      picked += rnd.nextInt(live.size)
    val (e, d) = picked.toSeq.map(live).splitAt(edits)
    val fresh = Seq(doc(rnd.nextInt(Sources))).filterNot(_.poison)
    EditBatch(e.map(rewrite), fresh, d.map(_.url))
  }
}

object Corpus {
  val VocabSize = 4000
  /** Sources (blob folders) the urls are spread over; a filtered
    * request selects one.
    */
  val Sources = 16
  val MaxChunks = 20
  val PoisonShare = 0.01
  val PdfHeader = "%PDF-1.7\n"
  val PdfTrailer = "%%EOF"
  /** The request kinds; one block of the request mix holds each once. */
  val Kinds: Seq[String] =
    Seq("exact", "filtered", "ann", "bm25", "hybrid", "point")

  /** Bytes of one stored chunk row as the user sees it: text, url, the
    * two int columns and the float vector.
    */
  def userBytes(url: String, text: String, dims: Int): Long =
    text.getBytes(UTF_8).length + url.getBytes(UTF_8).length + 8L + 4L * dims

  /** The url range `[lo, hi)` of one source, for metadata filters. */
  def sourceRange(source: Int): (String, String) =
    (f"bench://s$source%02d/", f"bench://s${source + 1}%02d/")
}
