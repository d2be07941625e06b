package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** One workload's stores, requests and checks, shared by the untraced and
  * the traced run. */
final class Workload(val name: String, in: Inputs, val gw: Gateways) {
  require(name == "ingest" || name == "serve", s"unknown workload $name")
  val preload: Boolean = name == "serve"

  private val ingestReqs = new ConcurrentHashMap[Int, Req]()
  def ingestReq(i: Int): Req = ingestReqs.computeIfAbsent(i, gw.ingestReq)

  /** A fresh store behind a started, ready gateway: preloaded for serve;
    * for ingest, holding the first body of each format, sent one after the
    * other. Returns the env, the seconds that took and the set-up writes. */
  def setup(): (Env, Double, Seq[Done]) = {
    val t0 = System.nanoTime()
    val env = gw.setup(preload)
    val http = Load.client()
    val first = if (preload) Nil else Seq(ingestReq(0), ingestReq(1)).map(Load.send(http, env.port, _))
    val seconds = (System.nanoTime() - t0) / 1e9
    requireOk(first)
    (env, seconds, first)
  }

  /** Serve warm-up, untimed: every read kind once, spread over the clients
    * (with other parameters than the timed cycles), so the timed phase
    * starts with every plan compiled. */
  def warm(env: Env, clients: Int): Unit =
    if (preload) {
      val k = gw.ReadKinds
      requireOk(Load.closedLoop(env.port, clients) { (c, n) =>
        val i = n * clients + c
        if (i >= k.length) None else Some(gw.readReq(env, clients + c, n, k(i)))
      })
    }

  private def requireOk(ds: Seq[Done]): Unit = ds.find(!_.ok).foreach(d =>
    throw new IllegalStateException(s"untimed ${d.req.kind} request failed: ${d.error.get}"))

  /** Fixed timed work, scaled by `seconds`: per ten seconds, 16 ingest
    * bodies (the catalog compacts once in them) or one read cycle per
    * client; at least one of either. */
  def load(env: Env, clients: Int, seconds: Double): Seq[Done] =
    if (preload) readers(env, clients, cycles = math.max(1, math.round(seconds / 10).toInt))
    else writers(env, clients, bodies = math.max(1, math.round(1.6 * seconds).toInt))

  /** Closed-loop readers: client `c` runs `cycles` cycles of every read
    * kind, so every kind is sent equally often. */
  def readers(env: Env, clients: Int, cycles: Int): Seq[Done] = {
    val k = gw.ReadKinds.length
    Load.closedLoop(env.port, clients)((c, n) =>
      if (n >= cycles * k) None else Some(gw.readReq(env, c, n / k, gw.cycle(c)(n % k))))
  }

  /** Closed-loop writers sharing one body sequence, after the set-up's two:
    * each takes the next body until `bodies` have been taken. */
  def writers(env: Env, clients: Int, bodies: Int): Seq[Done] = {
    val next = new AtomicInteger(2)
    Load.closedLoop(env.port, clients) { (_, _) =>
      val i = next.getAndIncrement()
      if (i < 2 + bodies) Some(ingestReq(i)) else None
    }
  }

  /** Output checks: the store holds exactly the acknowledged rows and
    * series. Returns the failures and the rows stored. */
  def check(env: Env, done: Seq[Done]): (Seq[String], Long) = {
    val acked = done.filter(d => d.ok && d.req.isWrite).map(_.req)
    val wantRows =
      (if (preload) in.PreloadSeries.toLong * in.PreloadSamples else 0L) +
        acked.map(_.rows.toLong).sum
    val wantSeries = if (preload) gw.preloadSeries else gw.ingestSeries(acked)
    val (rows, series) = gw.stored(env)
    (Seq(
      if (rows != wantRows) Some(s"store holds $rows rows, acknowledged $wantRows") else None,
      if (series != wantSeries) Some(s"catalog holds ${series.size} series, expected " +
        s"${wantSeries.size} (${(series diff wantSeries).size} extra, " +
        s"${(wantSeries diff series).size} missing)") else None
    ).flatten, rows)
  }
}
