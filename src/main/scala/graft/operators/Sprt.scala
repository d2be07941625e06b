package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Wald's sequential probability ratio test over an ordered Bernoulli
  * stream — the "stop the experiment as soon as the evidence is in"
  * test (Wald 1945): the log-likelihood ratio for H₁: p=p1 vs
  * H₀: p=p0 walks up ln(p1/p0) on success and ln((1−p1)/(1−p0)) on
  * failure, and the trial DECIDES the first time it leaves
  * (ln β/(1−α), ln (1−β)/α). Reports the decision, where it fired,
  * and the final (frozen) LLR.
  *
  * A single trial is sequential BY DEFINITION (one evidence stream,
  * one decision) — the scale axis is trials, not samples: shard by
  * `trialCol` exactly like [[Ewma]] shards by series. Engine replay:
  * the four constants are ln literals computed ONCE driver-side and
  * inlined full-precision into the oracle (`Double.toString`
  * round-trips — the benford discipline), so each step is one IEEE
  * add of identical constants; states replay bit-exactly, raw output.
  */
object Sprt {

  final case class Obs(trial: String, seq: Long, success: Int)

  def logStep(p0: Double, p1: Double): (Double, Double) =
    (math.log(p1 / p0), math.log((1.0 - p1) / (1.0 - p0)))

  def barriers(alpha: Double, beta: Double): (Double, Double) =
    (math.log((1.0 - beta) / alpha), math.log(beta / (1.0 - alpha)))

  /** @param obs (trial, seq, success∈{0,1}) — evidence in `seq` order
    * @return per trial: (trial, n_obs, llr, decision, n_at_decision)
    *         with decision 1 = accept H₁, −1 = accept H₀, 0 = still
    *         running at stream end; llr freezes at the decision.
    */
  def test(
      obs: DataFrame, p0: Double = 0.5, p1: Double = 0.7,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0,
      "need distinct interior probabilities")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "need interior error rates")
    val (ls, lf) = logStep(p0, p1)
    val (a, b) = barriers(alpha, beta)
    import obs.sparkSession.implicits._
    obs
      .select(col("trial").cast("string"), col("seq").cast("long"),
        col("success").cast("int"))
      .as[Obs]
      .repartition(col("trial"))
      .sortWithinPartitions("trial", "seq")
      .mapPartitions { it =>
        SeriesFold.perRun(it)(_.trial) { (head, rest) =>
          var n = 0L
          var llr = 0.0
          var dec = 0
          var nStop = 0L
          (Iterator.single(head) ++ rest).foreach { o =>
            n += 1
            if (dec == 0) {
              llr = llr + (if (o.success == 1) ls else lf)
              if (llr >= a) { dec = 1; nStop = n }
              else if (llr <= b) { dec = -1; nStop = n }
            }
          }
          Some((head.trial, n, llr, dec, nStop))
        }
      }
      .toDF("trial", "n_obs", "llr", "decision", "n_at_decision")
  }
}
