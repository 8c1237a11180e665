package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.embed.DeterministicEmbedder

/** Localhost embedding service speaking the OpenAI embeddings JSON shape:
  * `{"input": [...], "dimensions": N}` in, `{"data": [{"index": i,
  * "embedding": [...]}]}` out, vectors from [[DeterministicEmbedder]].
  *
  * Each request sleeps a fixed `delayMs` before answering. A request
  * whose body hashes into the lowest `throttlePercent` percent is
  * refused once with 429 and served on its retry, so the number of
  * refusals is a function of the inputs alone. Counters are
  * server-side: requests, texts received (refused ones included),
  * refusals and the time from reading a
  * request to finishing its response.
  */
final class EmbedStub(dims: Int, delayMs: Int, throttlePercent: Int,
    threads: Int) {

  private val embedder = DeterministicEmbedder(dims)
  private val refused = ConcurrentHashMap.newKeySet[String]()
  val requests = new LongAdder
  val texts = new LongAdder
  val throttled = new LongAdder
  val serviceNanos = new LongAdder

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(
    new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/v1/embeddings", (ex: HttpExchange) => handle(ex))
  server.start()

  val endpoint: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/v1/embeddings"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val body = ex.getRequestBody.readAllBytes()
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(body)
      val key = java.util.Base64.getEncoder.encodeToString(digest)
      val bucket = ((digest(0) & 0xff) << 8 | (digest(1) & 0xff)) % 100
      val input = new ObjectMapper().readTree(body).path("input")
      val batch = (0 until input.size()).map(i => input.get(i).asText())
      texts.add(batch.size.toLong)
      Thread.sleep(delayMs.toLong)
      if (bucket < throttlePercent && refused.add(key)) {
        throttled.increment()
        respond(ex, 429, """{"error":{"code":"429","message":"rate limited"}}""")
      } else {
        val vecs = embedder.embed(batch)
        val sb = new java.lang.StringBuilder(batch.size * dims * 12 + 64)
        sb.append("""{"object":"list","data":[""")
        vecs.zipWithIndex.foreach { case (v, i) =>
          if (i > 0) sb.append(',')
          sb.append("""{"object":"embedding","index":""").append(i)
            .append(""","embedding":[""")
          var j = 0
          while (j < v.length) {
            if (j > 0) sb.append(',')
            sb.append(v(j))
            j += 1
          }
          sb.append("]}")
        }
        sb.append("""],"model":"stub"}""")
        respond(ex, 200, sb.toString)
      }
    } finally {
      requests.increment()
      serviceNanos.add(System.nanoTime() - t0)
      ex.close()
    }
  }

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val out = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, out.length.toLong)
    val os = ex.getResponseBody
    try os.write(out) finally os.close()
  }

  def serviceMs: Double = serviceNanos.sum() / 1e6

  /** Stops the server and waits for its worker threads to end. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
