package graft

import graft.prometheus.PrometheusRemote

/** Test bodies for the Prometheus remote-write endpoint. */
object RemoteWriteBodies {

  /** A snappy-framed WriteRequest: per series its labels, in order, and
    * its (value, timestamp ms) samples.
    */
  def apply(
      series: Seq[(Seq[(String, String)], Seq[(Double, Long)])]): Array[Byte] = {
    import PrometheusRemote.ProtoWriter
    val w = new ProtoWriter
    series.foreach { case (labels, samples) =>
      val tw = new ProtoWriter
      labels.foreach { case (k, v) =>
        val lw = new ProtoWriter
        lw.string(1, k); lw.string(2, v)
        tw.message(1, lw)
      }
      samples.foreach { case (v, ms) =>
        val sw = new ProtoWriter
        sw.double(1, v); sw.int64(2, ms)
        tw.message(2, sw)
      }
      w.message(1, tw)
    }
    PrometheusRemote.snappyCompressLiteral(w.result())
  }
}
