package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder}

/** Configuration for one external inference service (endpoint = full
  * URL). Every field is plain data so the config ships inside task
  * closures. `maxInFlight` bounds the number of HTTP requests a single
  * partition keeps outstanding — across a 1000-executor cluster total
  * service pressure is executors × cores × maxInFlight, the knob an
  * operator actually tunes against a service's capacity.
  */
final case class HttpServiceConfig(
    endpoint: String,
    batchSize: Int = 16,
    maxInFlight: Int = 4,
    maxRetries: Int = 3,
    baseBackoffMs: Long = 50L,
    maxBackoffMs: Long = 2000L,
    requestTimeoutMs: Long = 5000L,
    connectTimeoutMs: Long = 2000L)

/** Terminal service failure: retries exhausted or a non-retriable
  * response. Carries the last underlying cause for the S10 error column.
  */
final class HttpInferenceException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

/** The EXTERNAL-SERVICE inference operator (SURVEY §7.4.4): the variant
  * of [[InferenceOp]] for models with no JVM runtime (M3 Sortformer, M7
  * Whisper, M9 CTC) served behind a batch HTTP endpoint. Same relational
  * contract as [[InferenceOp.mapBatched]] — a `Dataset[I] => Dataset[O]`
  * transform — with per-record S10 fault routing (as
  * [[WavAudio.WavDecodeStatusModel]] gives decode, one status row per
  * payload), plus the operational concerns a remote service adds:
  *
  *  - ONE `java.net.http.HttpClient` per executor JVM ([[ModelCache]]):
  *    HTTP/1.1 keep-alive pools connections across every task and
  *    partition on the executor, so a 10k-partition job doesn't
  *    handshake 10k times per executor;
  *  - PIPELINED batches: up to `maxInFlight` async requests outstanding
  *    per partition, results emitted in submission order (downstream
  *    operators see deterministic order; memory bounded at
  *    maxInFlight × batchSize rows);
  *  - RETRY with exponential backoff on IO errors, timeouts, 429 and
  *    5xx; 4xx responses are not retried (a malformed request stays
  *    malformed);
  *  - S10 routing: a batch that still fails after retries (or a
  *    response with the wrong row count) maps each input through
  *    `onFailure` into a failed-STATUS row — the job never dies on a
  *    flaky service, mirroring the per-file try/except posture of the
  *    reference (`vad_multi.py:48-54`).
  *
  * The framing is fixed here, one line protocol for every service: a
  * request body is one UTF-8 line per input row, joined by `\n`; a
  * response body is one line per row in the same order, blank lines
  * dropped, each split on TAB. Callers state only their fields, per row:
  * `encode` renders one input as its line and `decode` builds one output
  * from one response line's fields. A failed row's error text is
  * `Class: message` of the terminal cause.
  */
object HttpInference {

  /** Executor-wide client (keyed by connect timeout — configs sharing it
    * share the pool).
    */
  private def client(cfg: HttpServiceConfig): HttpClient =
    ModelCache.getOrCreate(s"http_client_${cfg.connectTimeoutMs}") {
      HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(cfg.connectTimeoutMs))
        .version(HttpClient.Version.HTTP_1_1)
        .build()
    }

  private def request(cfg: HttpServiceConfig, body: Array[Byte]): HttpRequest =
    HttpRequest.newBuilder(URI.create(cfg.endpoint))
      .timeout(Duration.ofMillis(cfg.requestTimeoutMs))
      .header("Content-Type", "application/octet-stream")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
      .build()

  private def retriable(status: Int): Boolean = status == 429 || status >= 500

  /** Synchronous send with `maxRetries` retries and capped exponential
    * backoff. `attemptsUsed` pre-counts attempts already consumed (the
    * pipelined path's first async try). Throws [[HttpInferenceException]]
    * once attempts run out or on a non-retriable status.
    */
  def postWithRetry(cfg: HttpServiceConfig, body: Array[Byte],
                    attemptsUsed: Int = 0): Array[Byte] = {
    var attempt = attemptsUsed
    var last: Throwable = null
    while (attempt <= cfg.maxRetries) {
      if (attempt > 0)
        Thread.sleep(math.min(cfg.maxBackoffMs,
          cfg.baseBackoffMs << math.min(attempt - 1, 20)))
      try {
        val resp = client(cfg).send(request(cfg, body),
          HttpResponse.BodyHandlers.ofByteArray())
        resp.statusCode() match {
          case 200 => return resp.body()
          case sc if retriable(sc) =>
            last = new HttpInferenceException(s"HTTP $sc from ${cfg.endpoint}", null)
          case sc =>
            throw new HttpInferenceException(
              s"HTTP $sc from ${cfg.endpoint} (not retriable)", null)
        }
      } catch {
        case e: java.io.IOException => last = e // includes HttpTimeoutException
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw new HttpInferenceException("interrupted", e)
      }
      attempt += 1
    }
    throw new HttpInferenceException(
      s"service ${cfg.endpoint} failed after ${cfg.maxRetries + 1} attempts " +
        s"(last: ${if (last == null) "?" else last.getMessage})", last)
  }

  /** Batched service inference with order-preserving pipelining and S10
    * fault routing; see object doc. The happy path is fully async (up
    * to `maxInFlight` outstanding); a failed first attempt falls back to
    * the synchronous retry ladder for that batch only, so one slow batch
    * never blocks the submission of its successors beyond the window.
    */
  def mapService[I, O: Encoder](ds: Dataset[I], cfg: HttpServiceConfig,
      encode: I => String,
      decode: Array[String] => O,
      onFailure: (I, String) => O): Dataset[O] =
    ds.mapPartitions { it =>
      val cl = client(cfg)
      def body(batch: Seq[I]): Array[Byte] =
        batch.map(encode).mkString("\n").getBytes(StandardCharsets.UTF_8)
      val inflight = new java.util.ArrayDeque[
        (Seq[I], java.util.concurrent.CompletableFuture[HttpResponse[Array[Byte]]])]()

      def submit(batch: Seq[I]): Unit =
        inflight.addLast((batch, cl.sendAsync(request(cfg, body(batch)),
          HttpResponse.BodyHandlers.ofByteArray())))

      def settle(batch: Seq[I],
                 fut: java.util.concurrent.CompletableFuture[HttpResponse[Array[Byte]]]): Seq[O] = {
        // EVERYTHING here must resolve to rows — including a
        // non-retriable status from the async first attempt — so a
        // misbehaving service yields failed-STATUS rows, never a dead
        // task (S10).
        try {
          val bytes =
            try {
              val resp = fut.join()
              resp.statusCode() match {
                case 200 => Right(resp.body())
                case sc if retriable(sc) => Left(()) // sync retry ladder below
                case sc => throw new HttpInferenceException(
                  s"HTTP $sc from ${cfg.endpoint} (not retriable)", null)
              }
            } catch {
              // Only connection-level failures that the SYNC ladder also
              // retries (I/O, timeout) fall through to it; anything else
              // (malformed endpoint, SSL handshake) is non-retriable and
              // must not burn maxRetries of backoff per batch — map it
              // straight to failed rows via the outer catch.
              case e: java.util.concurrent.CompletionException =>
                e.getCause match {
                  // SSLException extends IOException, so it must be
                  // matched FIRST or handshake failures would burn the
                  // whole retry ladder despite being non-retriable.
                  case c: javax.net.ssl.SSLException =>
                    throw new HttpInferenceException(
                      s"SSL failure from ${cfg.endpoint}: $c", c)
                  case _: java.io.IOException => Left(())
                  case null => throw new HttpInferenceException(
                    s"async failure from ${cfg.endpoint}: $e", e)
                  case c => throw new HttpInferenceException(
                    s"non-retriable async failure from ${cfg.endpoint}: $c", c)
                }
            }
          val answer = bytes match {
            case Right(b) => b
            case Left(_) => postWithRetry(cfg, body(batch), attemptsUsed = 1)
          }
          val lines = new String(answer, StandardCharsets.UTF_8).split("\n", -1).filter(_.nonEmpty)
          if (lines.length != batch.length)
            throw new HttpInferenceException(
              s"service returned ${lines.length} rows for a ${batch.length}-row batch", null)
          lines.toSeq.map(l => decode(l.split("\t", -1)))
        } catch {
          case e: Exception =>
            val err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
            batch.map(onFailure(_, err))
        }
      }

      val batches = it.grouped(cfg.batchSize)
      new Iterator[Seq[O]] {
        def hasNext: Boolean = !inflight.isEmpty || batches.hasNext
        def next(): Seq[O] = {
          while (batches.hasNext && inflight.size < cfg.maxInFlight)
            submit(batches.next())
          val (batch, fut) = {
            val h = inflight.pollFirst(); (h._1, h._2)
          }
          settle(batch, fut)
        }
      }.flatten
    }

  // ------------------------------------------------------ wire helpers
  /** float32-LE → base64, the waveform leg of the line protocols. */
  def b64(w: Array[Float]): String = {
    val bb = java.nio.ByteBuffer.allocate(w.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    w.foreach(bb.putFloat)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def unb64(s: String): Array[Float] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 4)(bb.getFloat)
  }

  /** UTF-8 text → base64 (texts may contain tabs/newlines — the line
    * protocols b64 them so one input is always one line). */
  def b64t(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def unb64t(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)
}

/** In-process line-protocol service FIXTURE for [[HttpInference]] — the
  * operator's encoder dual, in the same spirit as [[Mp3Encoder]] /
  * `AudioProbe.Mint`: the engine mints a deterministic service so the
  * external-service path can run inside the correctness gate (local
  * loopback, JDK built-in server, no dependency). `respond` maps
  * request lines to response lines; any request whose body contains
  * `poisonMarker` answers HTTP 500 unconditionally — the injected-fault
  * leg that drives the retry-exhaustion → S10 path deterministically.
  * Richer fault shapes (transient 500s, timeouts, 404s, concurrency
  * accounting) live in the test-side stub.
  */
final class LineService(respond: Seq[String] => Seq[String],
                        poisonMarker: Option[String] = None) extends AutoCloseable {
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  // DAEMON threads: a session-lifetime fixture service must never keep
  // the JVM alive — a non-daemon pool deadlocks exit (the shutdown hook
  // that would close the server only runs once exit has begun)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "line-service")
    t.setDaemon(true)
    t
  }))
  server.createContext("/infer", (ex: com.sun.net.httpserver.HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    if (poisonMarker.exists(body.contains)) {
      ex.sendResponseHeaders(500, -1)
      ex.close()
    } else {
      val out = respond(body.split("\n", -1).toSeq.filter(_.nonEmpty))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, if (out.isEmpty) -1 else out.length.toLong)
      if (out.nonEmpty) ex.getResponseBody.write(out)
      ex.close()
    }
  })
  // start() spawns the server's internal HTTP-Dispatcher thread, which
  // inherits daemon status from the CREATING thread — start from a
  // short-lived daemon thread so the dispatcher (non-daemon by default)
  // can never hold the JVM open after main returns
  locally {
    val starter = new Thread(() => server.start(), "line-service-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
  }
  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/infer"
  def close(): Unit = server.stop(0)
}
