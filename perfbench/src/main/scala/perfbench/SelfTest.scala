package perfbench

/** The harness's own test: failures are counted, never timed, and a wrong
  * store fails the output check.
  *
  * Against a live gateway over an ingest store it sends two good requests
  * and three that must fail: a 400 (malformed series id), a response whose
  * content differs from what the generator expects, and a request to a
  * closed port. It then checks the tally the runs use, and that the ingest
  * output check rejects a write that was acknowledged in name only.
  * Prints `SELF-TEST PASS` as its last line when every assertion holds.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = graft.GraftSession.local(opt("cores").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def assert(ok: Boolean, what: String): Unit = {
      println((if (ok) "ok   " else "FAIL ") + what)
      if (!ok) failures += what
    }
    try {
      val in = new Inputs(1)
      val w = new Workload("ingest", in, new Gateways(spark, in, opt("work")))
      val (env, _, first) = w.setup()
      val http = Load.client()
      val closed = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
      val done = Seq(
        Load.send(http, env.port, Req("labels", "GET", "/api/v1/labels")),
        Load.send(http, env.port, w.ingestReq(2)),
        Load.send(http, env.port, Req("series_export", "GET", "/series/not-a-uuid?format=csv")),
        Load.send(http, env.port, Req("labels", "GET", "/api/v1/labels", expect = Some(999))),
        Load.send(http, closed, Req("labels", "GET", "/api/v1/labels")))
      val (attempted, failed, ok) = Untraced.tally(done)
      assert(attempted == 5 && failed == 3, s"5 attempted, 3 failed (got $attempted, $failed)")
      assert(done(2).status == 400 && !done(2).ok, "a 400 response is a failure")
      assert(done(3).status == 200 && !done(3).ok, "wrong content under a 200 is a failure")
      assert(done(4).status == -1 && !done(4).ok, "a transport exception is a failure")
      assert(ok == done.take(2), "only the two good requests are timed")
      val want = math.sqrt(done(0).latencyMs * done(1).latencyMs)
      assert(math.abs(Stats.perKindGeomean(ok, 0.5) / want - 1) < 1e-9,
        "latency metrics are computed from the good requests alone")
      val acked = first ++ done.take(2)
      assert(w.check(env, acked)._1.isEmpty, "the store holds exactly the acknowledged writes")
      val phantom = Done(w.ingestReq(3), 0, 0, 204, 0, in.SeriesPerBody * in.SamplesPerSeries, None)
      assert(w.check(env, acked :+ phantom)._1.nonEmpty,
        "a write acknowledged but never stored fails the output check")
      w.gw.drop(env)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        failures += e.toString
    } finally spark.stop()
    println(if (failures.isEmpty) "SELF-TEST PASS" else s"SELF-TEST FAIL (${failures.length})")
    System.out.flush()
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
