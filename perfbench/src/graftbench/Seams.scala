package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.util.LongAccumulator

import graft.chunk.Extracted
import graft.extract.{Extractor, StubAnalyzeExtractor}

/** The layout service the deployment plugs into the router: it accepts
  * a PDF only with its header and `%%EOF` trailer, hands the body to
  * [[StubAnalyzeExtractor]], and adds its own time to `busyNanos`. A
  * truncated PDF (a poison document) fails the call, as a real layout
  * service refuses a corrupt upload.
  */
final class LayoutService(busyNanos: LongAccumulator) extends Extractor {
  private val inner = StubAnalyzeExtractor()

  override def extract(path: String, content: Array[Byte]): Extracted = {
    val t0 = System.nanoTime()
    try {
      val s = new String(content, UTF_8)
      if (!s.startsWith(Corpus.PdfHeader) || !s.endsWith(Corpus.PdfTrailer))
        throw new java.io.IOException(s"truncated or malformed PDF: $path")
      inner.extract(path, s.substring(Corpus.PdfHeader.length,
        s.length - Corpus.PdfTrailer.length).getBytes(UTF_8))
    } finally busyNanos.add(System.nanoTime() - t0)
  }
}
