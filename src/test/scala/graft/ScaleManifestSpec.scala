package graft

import org.scalatest.funsuite.AnyFunSuite

/** Standing scale gate over the checked-in `SCALE_MANIFEST.json`
  * (r15 verdict item 5): the manifest is generated by
  * `ScaleProbe --all` at two scales + `ScaleGate`, which flags any
  * query whose shuffle bytes grow super-linearly in data size. This
  * spec makes the manifest a GATE rather than a report:
  *
  *  - it must exist and cover (nearly) the whole current registry —
  *    a hand-picked subset can't sneak back in;
  *  - every flagged query must carry a hand-written exemption whose
  *    reason records WHY the growth is the output/candidate bound and
  *    not a plan defect — a new super-linear query fails the suite
  *    until it gets a plan fix or a recorded justification.
  *
  * Regenerate (see BASELINE.md round-16 section):
  *   sbt "runMain graft.tools.ScaleGen /tmp/graft_m10 10"
  *   sbt "runMain graft.tools.ScaleGen /tmp/graft_m100 100"
  *   ScaleProbe /tmp/graft_m10 --all --out /tmp/probe_m10.jsonl
  *   ScaleProbe /tmp/graft_m100 --all --out /tmp/probe_m100.jsonl
  *   ScaleGate /tmp/probe_m10.jsonl /tmp/probe_m100.jsonl SCALE_MANIFEST.json
  */
class ScaleManifestSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("SCALE_MANIFEST.json: full-registry coverage, every flagged " +
    "super-linear query carries a recorded exemption") {
    val f = new java.io.File("SCALE_MANIFEST.json")
    assert(f.isFile,
      "SCALE_MANIFEST.json missing — regenerate per the spec scaladoc")
    val text = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

    val probed = """"query":"([^"]+)"""".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val registry = SparkEntry.queries.keySet
    // near-complete coverage: a few additions since the last probe run
    // are fine; wholesale drift or a curated subset is not
    val covered = registry.intersect(probed)
    assert(covered.size >= (registry.size * 95) / 100,
      s"manifest covers ${covered.size}/${registry.size} registry " +
        "queries — regenerate the probe")

    val flagged = """"flagged":\[([^\]]*)\]""".r
      .findFirstMatchIn(text).map(_.group(1)).getOrElse(
        fail("manifest has no flagged array"))
    val flaggedSet = """"([^"]+)"""".r
      .findAllMatchIn(flagged).map(_.group(1)).toSet
    val exempt = """"exempt":\{([^}]*)\}""".r
      .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
    val exemptKeys = """"([^"]+)"\s*:""".r
      .findAllMatchIn(exempt).map(_.group(1)).toSet
    val unexempt = flaggedSet.diff(exemptKeys)
    assert(unexempt.isEmpty,
      s"super-linear shuffle growth without a recorded exemption: " +
        s"${unexempt.toSeq.sorted.mkString(", ")} — fix the plan or " +
        "record the candidate-bound justification in the exempt map")
    // exemptions must carry a real reason, not an empty string
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(exempt).foreach { m =>
      assert(m.group(2).length > 20,
        s"exemption for ${m.group(1)} needs a substantive reason")
    }
  }

  test("ScaleGate regenerations are byte-identical: exemption reasons " +
    "keep their backslashes and quotes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_gate")
    def write(name: String, text: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, text.getBytes("UTF-8"))
      p.toString
    }
    def probe(q: String, bytes: Long) = graft.tools.ScaleProbe.line(
      q, 1.0, 10, graft.tools.ScaleProbe.Counts(shuffleRead = bytes))
    val small = write("small.jsonl", Seq(probe("q_flagged", 1000000L),
      probe("q_linear", 1000L)).mkString("\n"))
    val big = write("big.jsonl", Seq(probe("q_flagged", 1000000000L),
      probe("q_linear", 10000L)).mkString("\n"))
    val reasons = Map(
      "q_flagged" -> """output-bound growth: a \ backslash, a "quoted" word, a } brace""",
      "q_standing" -> """STANDING CLASS: C:\probe\m100 and "both" scales""")
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    val manifest = write("manifest.json", """{"exempt":{""" + reasons.toSeq
      .map { case (k, v) => s""""$k":"${esc(v)}"""" }.mkString(",") + "}}\n")
    def regenerate(): Array[Byte] = {
      graft.tools.ScaleGate.main(Array(small, big, manifest))
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(manifest))
    }
    val first = regenerate()
    assert(graft.tools.ScaleGate.readExempt(manifest) == reasons)
    assert(regenerate().sameElements(first))
    graft.TempDirs.deleteRecursively(dir.toFile)
  }

  test("ScaleGate reads ScaleProbe's lines: plain, with --plans fields, " +
    "and a query that threw") {
    import graft.tools.ScaleProbe.{Counts, errorLine, line}
    import graft.tools.ScaleGate.{Probe, parseProbe}
    val counts = Counts(jobs = 3, stages = 5, tasks = 40,
      shuffleRead = 3000000000L, shuffleWrite = 123L,
      memSpilled = 1L << 30, diskSpilled = 1L << 20, peakTaskMem = 5L << 20)
    val f = java.nio.file.Files.createTempFile("graft_probe", ".jsonl")
    java.nio.file.Files.write(f, Seq(
      line("q_plain", 1.234, 42L, counts),
      line("q_plans", 0.5, 7L, counts, Some((2.5, 4))),
      errorLine("q_err", "boom: \"quoted\"\n\ta tab")
    ).mkString("\n").getBytes("UTF-8"))
    val (ok, err) = parseProbe(f.toString)
    assert(ok == Map(
      "q_plain" -> Probe(1.234, 42L, 3000000123L),
      "q_plans" -> Probe(0.5, 7L, 3000000123L)))
    assert(err == Set("q_err"))
    java.nio.file.Files.delete(f)
  }

  test("ScaleProbe --plans writes the same file for two builds of one " +
    "query: expression ids, plan ids, lambda counters and JVM lambda " +
    "names are stripped") {
    import graft.tools.ScaleProbe.{finalPlan, stablePlan}
    val spark = SparkSpec.spark
    // q82 plans a typed fold (JVM lambdas), q124 a label-map filter
    // (lambda variables)
    for (q <- Seq("q82_promql_holt_winters", "q124_promql_topk_by")) {
      val Seq(a, b) = Seq.fill(2)(finalPlan(SparkEntry.queries(q)(spark, sf)))
      assert(a != b, s"$q: two builds share expression ids")
      assert(stablePlan(a) == stablePlan(b), q)
      assert("#\\d|plan_id=\\d|lambda [a-z]+_\\d|Lambda\\$\\d".r
        .findFirstIn(stablePlan(a)).isEmpty, q)
    }
  }

  test("ScaleProbe --plans writes byte-identical logical plans for two " +
    "builds of a broadcast-join query") {
    // q52 joins two small sides: AQE builds whichever finishes first, so
    // its final plan may differ between two runs; its logical plan not
    val spark = SparkSpec.spark
    val q = "q52_promql_binary"
    val files = Seq("a", "b").map { run =>
      val dir = graft.TempDirs.create(s"plans_$run").toFile
      graft.tools.ScaleProbe.writePlans(dir, q,
        SparkEntry.queries(q)(spark, sf))
      java.nio.file.Files.readAllBytes(
        new java.io.File(dir, s"$q.logical.txt").toPath)
    }
    assert(new String(files.head, "UTF-8").contains("Join"))
    assert(files.head.sameElements(files(1)))
    // q26 prints a JVM identity hash (`Dedup$SimHashAgg$@2207d47d`) and
    // q98 an artifact-warehouse scratch path in their logical plans;
    // both vary between JVMs, so the dump masks them. In one JVM they
    // repeat, so another JVM's dump is made by changing them
    import graft.tools.ScaleProbe.stablePlan
    val varying = "(?<=[\\w$])@[0-9a-f]+|/graft_scratch\\d+".r
    for (q <- Seq("q26_simhash", "q98_kmeans_clusters")) {
      val Seq(a, b) = Seq.fill(2)(
        SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString)
      assert(varying.findFirstIn(a).isDefined, s"$q: $a")
      val otherJvm = varying.replaceAllIn(b, m =>
        java.util.regex.Matcher.quoteReplacement(
          if (m.matched.startsWith("@")) "@0badcafe" else "/graft_scratch42"))
      assert(otherJvm != a, q)
      assert(stablePlan(otherJvm) == stablePlan(a), q)
      assert(varying.findFirstIn(stablePlan(a)).isEmpty, q)
    }
  }
}
