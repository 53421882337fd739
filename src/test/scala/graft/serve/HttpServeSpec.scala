package graft.serve

import graft.{SparkSpec, TestSpark}

/** The HTTP serving shell end to end: a real server on an ephemeral
  * port, driven with the JDK HTTP client — the reference's FastAPI
  * route semantics (document compose, metric allow-list, 404/400
  * paths) without any web-framework dependency.
  */
class HttpServeSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("health, document compose, live similarity, 404 and allow-list 400") {
    val readers = Readers.build(TestSpark.spark, "/root/testdata/sf0.001", k = 3)
    val srv = new HttpServe(readers)
    srv.start()
    val port = srv.boundPort
    try {
      assert(get(port, "/health") == ((200, """{"status":"ok"}""")))

      // composed document: profile fields + precomputed neighbor list
      val (c1, doc) = get(port, "/games/0")
      assert(c1 == 200, doc)
      assert(doc.contains("\"vec_id\":0"), doc)
      assert(doc.contains("\"similar\":["), doc)

      // live tuned similarity honors k and the metric allow-list
      val (c2, sim) = get(port, "/games/0/similar?metric=cosine&k=2")
      assert(c2 == 200, sim)
      assert(sim.contains("\"metric\":\"COSINE\""), sim)
      assert(sim.split("\"dist\":").length - 1 == 2, sim)

      val (c3, bad) = get(port, "/games/0/similar?metric=MANHATTAN")
      assert(c3 == 400 && bad.contains("not allowed"), s"$c3 $bad")

      val (c4, missing) = get(port, "/games/999999")
      assert(c4 == 404 && missing.contains("not found"), s"$c4 $missing")

      assert(get(port, "/nope")._1 == 404)

      // conjunctive search over the postings index: every returned doc
      // must actually contain BOTH terms (cross-checked against the
      // corpus scan), and the result equals the scan exactly
      val (c5, hits) = get(port, "/search?q=dup+vector")
      assert(c5 == 200, hits)
      val ids = "\\d+".r.findAllIn(
        hits.substring(hits.indexOf("doc_ids"))).map(_.toLong).toSeq
      val docs = TestSpark.spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("doc_id", "split(lower(text), ' ') AS w")
        .where("array_contains(w, 'dup') AND array_contains(w, 'vector')")
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == docs.take(20), s"served $ids vs scan $docs")

      val (c6, noq) = get(port, "/search?q=")
      assert(c6 == 400 && noq.contains("missing"), s"$c6 $noq")

      // phrase search: exact adjacent sequence only — cross-checked
      // against a position-aware corpus scan, and strictly narrower
      // than the conjunctive result for the same terms
      val (c7, ph) = get(port, "/search?q=the+table&mode=phrase")
      assert(c7 == 200, ph)
      val phIds = "\\d+".r.findAllIn(
        ph.substring(ph.indexOf("doc_ids"))).map(_.toLong).toSeq
      val phraseScan = TestSpark.spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("doc_id", "split(lower(text), ' ') AS w")
        .selectExpr("doc_id",
          "exists(sequence(0, size(w) - 2), " +
            "i -> w[i] = 'the' AND w[i + 1] = 'table') AS hit")
        .where("hit").select("doc_id")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(phIds == phraseScan.take(20), s"served $phIds vs scan $phraseScan")
      assert(phraseScan.nonEmpty, "fixture phrase must occur at sf0.001")

      val (c8, badMode) = get(port, "/search?q=a+b&mode=nope")
      assert(c8 == 400 && badMode.contains("unknown mode"), s"$c8 $badMode")

      // an id beyond Long range is an id no game can have: 404, not a
      // NumberFormatException escaping as a 500
      val (c9, huge) = get(port, "/games/123456789012345678901")
      assert(c9 == 404 && huge.contains("not found"), s"$c9 $huge")
      val (c10, hugeS) = get(port, "/games/123456789012345678901/similar")
      assert(c10 == 404 && hugeS.contains("not found"), s"$c10 $hugeS")
    } finally {
      srv.stop()
      readers.close()
    }
  }

  test("concurrent load: 32 parallel document+similar requests are correct and genuinely overlapped") {
    // the reference's measured serving win is concurrent lookups under
    // load (readers/games.py:265-268 drives a ThreadPoolExecutor);
    // this drives N=32 real HTTP requests at once through the server's
    // worker pool and gates BOTH correctness of every composed
    // response AND genuine overlap: the burst must complete in well
    // under the serialized time (sum of sequential latencies), which a
    // single-threaded executor or a global lock around the Spark
    // actions would fail. The p95 is reported relative to the warm
    // sequential median, not as an absolute (shared CI box).
    val readers = Readers.build(TestSpark.spark, "/root/testdata/sf0.001", k = 3)
    val srv = new HttpServe(readers)
    srv.start()
    val port = srv.boundPort
    try {
      val ids = (0L to 7L).toSeq
      def check(id: Long, kind: String): Unit = kind match {
        case "doc" =>
          val (c, body) = get(port, s"/games/$id")
          assert(c == 200 && body.contains(s""""vec_id":$id""") &&
            body.contains("\"similar\":["), s"doc $id: $c $body")
        case "sim" =>
          val (c, body) = get(port, s"/games/$id/similar?metric=cosine&k=2")
          assert(c == 200 && body.contains("\"metric\":\"COSINE\"") &&
            body.split("\"dist\":").length - 1 == 2, s"sim $id: $c $body")
      }
      val work: Seq[(Long, String)] =
        ids.flatMap(id => Seq(id -> "doc", id -> "sim")) ++
          ids.flatMap(id => Seq(id -> "doc", id -> "sim"))
      assert(work.size == 32)
      // warm: caches, codegen, route plumbing — once per route kind
      check(0L, "doc"); check(0L, "sim")
      // warm sequential baseline (median of 8)
      val seqLat = work.take(8).map { case (id, kind) =>
        val t0 = System.nanoTime(); check(id, kind)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val seqMedian = seqLat(seqLat.size / 2)
      // the burst: 32 requests issued simultaneously from 32 client
      // threads; each asserts its own response body
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val t0 = System.nanoTime()
      val lats = try {
        val fs = work.map { case (id, kind) =>
          Future {
            val s = System.nanoTime(); check(id, kind)
            (System.nanoTime() - s) / 1e9
          }
        }
        fs.map(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
      val wall = (System.nanoTime() - t0) / 1e9
      val p95 = lats.sorted.apply((lats.size * 95) / 100 - 1)
      val serialized = seqMedian * work.size
      assert(wall < serialized * 0.6,
        f"burst of ${work.size} took $wall%.2fs vs serialized " +
          f"$serialized%.2fs (seq median $seqMedian%.3fs) — requests " +
          "are not actually overlapping")
      assert(p95 < seqMedian * work.size,
        f"p95 $p95%.2fs implies full serialization behind one lock " +
          f"(seq median $seqMedian%.3fs)")
    } finally {
      srv.stop()
      readers.close()
    }
  }

  test("reader failure surfaces as a generic 500 — no exception detail in the body") {
    // a profiles frame that detonates at collect time stands in for
    // any backend failure (corrupt file, lost executor): the client
    // must see the fixed generic body, never raise_error's message
    val bad = TestSpark.spark.range(1)
      .selectExpr("id AS vec_id", "raise_error('secret-internal-path') AS boom")
    val readers = new Readers(TestSpark.spark, bad, bad, bad)
    val srv = new HttpServe(readers)
    srv.start()
    try {
      val (code, body) = get(srv.boundPort, "/games/0")
      assert(code == 500, s"$code $body")
      assert(body == """{"error":"internal server error"}""", body)
      assert(!body.contains("secret-internal-path"), body)
    } finally {
      srv.stop()
      readers.close()
    }
  }

  test("back-to-back keep-alive requests do not wait on a delayed ACK") {
    // 20 sequential /health requests on ONE connection: without
    // TCP_NODELAY the body segment waits behind the unACKed header
    // segment until the client's delayed ACK fires (~40 ms each)
    val idle = TestSpark.spark.range(0).selectExpr("id AS vec_id")
    val readers = new Readers(TestSpark.spark, idle, idle, idle)
    val srv = new HttpServe(readers)
    srv.start()
    val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
    try {
      sock.setTcpNoDelay(true)
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val req = "GET /health HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes("US-ASCII")
      def response(): String = {
        val head = new StringBuilder
        while (!head.toString.endsWith("\r\n\r\n")) {
          val b = in.read()
          assert(b >= 0, s"connection closed after: $head")
          head += b.toChar
        }
        val len = "(?i)content-length: *(\\d+)".r
          .findFirstMatchIn(head).map(_.group(1).toInt).getOrElse(0)
        new String(in.readNBytes(len), "UTF-8")
      }
      val ms = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        out.write(req); out.flush()
        assert(response() == """{"status":"ok"}""")
        (System.nanoTime() - t0) / 1e6
      }
      val median = ms.sorted.apply(ms.size / 2)
      assert(median < 20.0, s"median $median ms over ${ms.map(m => f"$m%.1f")}")
    } finally {
      sock.close()
      srv.stop()
      readers.close()
    }
  }
}
