package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One HTTP request of a workload. `rows` is what a write carries; `expect`
  * is the row count a read must return when the generator knows it; `args`
  * are the decoded parameters, for replaying the request layer by layer. */
final case class Req(
    kind: String, method: String, path: String,
    body: Array[Byte] = Array.emptyByteArray,
    headers: Seq[(String, String)] = Nil,
    rows: Int = 0, expect: Option[Int] = None, tag: Int = -1,
    args: Map[String, String] = Map.empty) {
  def isWrite: Boolean = method == "POST" && rows > 0
}

/** A finished request. `rows` is what the response carried, or
  * what an acknowledged write stored; `error` marks a failure of any kind:
  * transport exception, non-2xx status or wrong content. */
final case class Done(
    req: Req, startNs: Long, endNs: Long, status: Int,
    bytes: Int, rows: Int, error: Option[String], client: Int = 0) {
  def ok: Boolean = error.isEmpty
  def latencyMs: Double = (endNs - startNs) / 1e6
}

object Load {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  def client(): HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** Send `r`, then decode and check the body. Never throws: every failure
    * lands in [[Done.error]]. */
  def send(c: HttpClient, port: Int, r: Req): Done = {
    val b = HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port${r.path}"))
      .timeout(java.time.Duration.ofSeconds(60))
    r.headers.foreach { case (k, v) => b.header(k, v) }
    if (r.method == "POST") b.POST(HttpRequest.BodyPublishers.ofByteArray(r.body))
    else b.GET()
    val t0 = System.nanoTime()
    try {
      val resp = c.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      val t1 = System.nanoTime()
      val body = resp.body()
      val status = resp.statusCode()
      val (rows, err) =
        if (status / 100 != 2) (0, Some(s"status $status: " +
          new String(body.take(200), StandardCharsets.UTF_8)))
        else try {
          val n = if (r.isWrite) r.rows else rowsOf(r.kind, body)
          r.expect match {
            case Some(e) if e != n => (n, Some(s"expected $e rows, got $n"))
            case _ => (n, None)
          }
        } catch { case e: Exception => (0, Some(s"undecodable body: $e")) }
      Done(r, t0, t1, status, body.length, rows, err)
    } catch {
      case e: Exception =>
        Done(r, t0, System.nanoTime(), -1, 0, 0, Some(e.toString))
    }
  }

  /** Rows a read response carries, decoded per route. */
  def rowsOf(kind: String, body: Array[Byte]): Int = kind match {
    case "series_catalog" | "metrics" =>
      json.readTree(body).get("dcat:dataset").size()
    case "labels" | "series_discovery" =>
      json.readTree(body).get("data").size()
    case "series_export" | "promql_instant" =>
      val text = new String(body, StandardCharsets.UTF_8)
      require(!text.contains("GRAFT-EXPORT-ERROR"), "truncated export")
      text.linesIterator.count(_.nonEmpty) - 1
    case "arrow_export" =>
      graft.sources.ArrowIO.decodeFloatSeries(body).size
    case "promql_range" =>
      json.readTree(body).get("data").get("result").elements().asScala
        .map(_.get("values").size()).sum
    case "remote_read" => remoteReadSamples(body)
    case _ => 0
  }

  /** Samples in a STREAMED_XOR_CHUNKS body: frames of uvarint length, CRC32C
    * and a ChunkedReadResponse; each XOR chunk starts with its sample count
    * as a big-endian u16. */
  def remoteReadSamples(body: Array[Byte]): Int = {
    import graft.prometheus.PrometheusRemote.ProtoReader
    var total = 0
    var pos = 0
    while (pos < body.length) {
      val r = new ProtoReader(body, pos, body.length)
      val (from, to) = r.lenDelimited() // the length prefix, then 4 CRC bytes
      val payloadFrom = from + 4
      val payloadTo = to + 4
      val crc = new java.util.zip.CRC32C
      crc.update(body, payloadFrom, payloadTo - payloadFrom)
      val want = ((body(from) & 0xffL) << 24) | ((body(from + 1) & 0xffL) << 16) |
        ((body(from + 2) & 0xffL) << 8) | (body(from + 3) & 0xffL)
      require(crc.getValue == want, "remote read frame CRC mismatch")
      val msg = new ProtoReader(body, payloadFrom, payloadTo)
      while (msg.hasMore) msg.tag() match {
        case (1, 2) =>
          val (sf, st) = msg.lenDelimited()
          val series = new ProtoReader(body, sf, st)
          while (series.hasMore) series.tag() match {
            case (2, 2) =>
              val (cf, ct) = series.lenDelimited()
              val chunk = new ProtoReader(body, cf, ct)
              while (chunk.hasMore) chunk.tag() match {
                case (4, 2) =>
                  val (df, _) = chunk.lenDelimited()
                  total += ((body(df) & 0xff) << 8) | (body(df + 1) & 0xff)
                case (_, w) => chunk.skip(w)
              }
            case (_, w) => series.skip(w)
          }
        case (_, w) => msg.skip(w)
      }
      pos = payloadTo
    }
    total
  }

  /** `clients` closed-loop threads, one connection each. Thread `c` sends
    * `next(c, n)` for n = 0, 1, ... until it returns None. */
  def closedLoop(port: Int, clients: Int)(next: (Int, Int) => Option[Req]): Seq[Done] = {
    val out = new ConcurrentLinkedQueue[Done]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val http = client()
        Iterator.from(0).map(next(c, _)).takeWhile(_.isDefined)
          .foreach(r => out.add(send(http, port, r.get).copy(client = c)))
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }
}
