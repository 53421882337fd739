package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row

import graft.serve.Readers

/** The open-loop HTTP client and the expected-body renderer. */
object Http {

  /** One completed request: times in ns from the phase start. */
  final case class Done(req: Gen.Req, sendNs: Long, endNs: Long,
      status: Int, body: String) {
    def latencyMs: Double = (endNs - req.dueNs) / 1e6
    def lateMs: Double = math.max(0L, sendNs - req.dueNs) / 1e6
  }

  /** Send `schedule` open loop: each request is sent at its due time
    * (or as soon as one of `clients` threads is free) and timed from
    * its due time, so a stall also delays the requests behind it.
    * Sending stops once `stop` is released; the requests completed by
    * then are returned in schedule order.
    */
  def openLoop(port: Int, schedule: IndexedSeq[Gen.Req], clients: Int, spans: Spans,
      stop: CountDownLatch): IndexedSeq[Done] = {
    val out = new Array[Done](schedule.size)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var i = next.getAndIncrement()
        while (i < schedule.size) {
          val req = schedule(i)
          val wait = t0 + req.dueNs - System.nanoTime()
          val stopped = if (wait > 0) stop.await(wait, TimeUnit.NANOSECONDS) else stop.getCount == 0
          if (stopped) i = schedule.size
          else {
            val send = System.nanoTime() - t0
            val (code, body) = spans.span("serve.http_doc", requestId = i) { get(client, port, req.path) }
            out(i) = Done(req, send, System.nanoTime() - t0, code, body)
            i = next.getAndIncrement()
          }
        }
      }, s"perfbench-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    out.toIndexedSeq.filter(_ != null)
  }

  def get(client: HttpClient, port: Int, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    try {
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch { case e: java.io.IOException => (-1, e.toString) }
  }

  /** The body HttpServe answers for `GET /games/{id}`, computed by
    * calling [[Readers]] directly and rendering it in the API's JSON
    * shape; None for an unknown id (a 404).
    */
  def expectedDoc(readers: Readers, id: Long): Option[String] = readers.document(id).map(js)

  /** The API's JSON value rendering (Row, Map, Seq, numbers, strings). */
  def js(v: Any): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq).map { case (k, x) => s"${js(k)}:${js(x)}" }.mkString("{", ",", "}")
    case m: Map[_, _] => m.map { case (k, x) => s"${js(k.toString)}:${js(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(js).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case bd: java.math.BigDecimal => bd.toPlainString
    case other => js(other.toString)
  }
}
