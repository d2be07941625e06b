package graft.http

import com.sun.net.httpserver.{HttpContext, HttpExchange, HttpPrincipal}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the response-lock scoping fix: the gateway's responded-guard
  * lock must be PER EXCHANGE, never shared across requests of one
  * route. The first implementation stored it via
  * `HttpExchange.setAttribute`, which the JDK backs with the shared
  * HttpCONTEXT attribute map — one lock per route, so a long
  * streaming export would have serialized every concurrent response
  * on its route. The lock now lives in an identity-keyed side map;
  * this spec pins (1) the JDK quirk that made attributes unusable and
  * (2) distinct locks for distinct exchanges.
  */
class GatewayLockSpec extends AnyFunSuite {

  /** Minimal stand-in: lockOf touches only object identity. */
  private final class StubExchange extends HttpExchange {
    private val headers = new com.sun.net.httpserver.Headers
    private var attrs = Map.empty[String, AnyRef]
    def getRequestHeaders = headers
    def getResponseHeaders = headers
    def getRequestURI = java.net.URI.create("/stub")
    def getRequestMethod = "GET"
    def getHttpContext: HttpContext = null
    def close(): Unit = ()
    def getRequestBody = java.io.InputStream.nullInputStream()
    def getResponseBody = java.io.OutputStream.nullOutputStream()
    def sendResponseHeaders(rCode: Int, responseLength: Long): Unit = ()
    def getRemoteAddress = new java.net.InetSocketAddress(0)
    def getResponseCode = -1
    def getLocalAddress = new java.net.InetSocketAddress(0)
    def getProtocol = "HTTP/1.1"
    def getAttribute(name: String): AnyRef = attrs.getOrElse(name, null)
    def setAttribute(name: String, value: AnyRef): Unit =
      attrs += name -> value
    def setStreams(i: java.io.InputStream, o: java.io.OutputStream): Unit = ()
    def getPrincipal: HttpPrincipal = null
  }

  test("two exchanges on one gateway get DISTINCT response locks") {
    // no started server needed: lockOf only keys the side map
    val gw = new Gateway(null, null, "lock-spec")
    val a = new StubExchange
    val b = new StubExchange
    assert(gw.lockOf(a) ne gw.lockOf(b))
    // and stable per exchange (the guard must reacquire the SAME lock)
    assert(gw.lockOf(a) eq gw.lockOf(a))
  }

  test("JDK exchange attributes are context-scoped (the reason the " +
      "lock cannot live there)") {
    // document the quirk against the REAL server implementation: two
    // sequential requests on one context observe each other's
    // attributes
    val server = Gateway.createServer(
      new java.net.InetSocketAddress("127.0.0.1", 0))
    @volatile var seenByLater: AnyRef = null
    @volatile var first = true
    server.createContext("/attr", x => {
      if (first) { x.setAttribute("probe", "from-first"); first = false }
      else seenByLater = x.getAttribute("probe")
      x.sendResponseHeaders(204, -1)
      x.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/attr")).GET().build()
      client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      assert(seenByLater == "from-first",
        "JDK changed attribute scoping: per-exchange locks via " +
          "attributes would now be valid (and this pin obsolete)")
    } finally server.stop(0)
  }
}
