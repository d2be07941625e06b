package graft.tools

/** Derived scale gate (r15 verdict item 5): diff two full-registry
  * [[ScaleProbe]] runs at a known data-size ratio and write
  * `SCALE_MANIFEST.json` — the checked-in worklist that replaces the
  * hand-picked probe families. A query is FLAGGED when its total
  * shuffle bytes grow more than `slack`× past linear-in-data (with an
  * absolute floor so metadata-sized shuffles don't alias as ratios),
  * because shuffle is the scale killer: wall time on a loaded host
  * lies, shuffle bytes don't.
  *
  * Usage:
  *   sbt "runMain graft.tools.ScaleGate <small.jsonl> <big.jsonl> \
  *        <outManifest> [dataRatio=10] [slack=2.0]"
  *
  * Manifest shape:
  *   { "data_ratio": 10, "slack": 2.0, "floor_mb": 32,
  *     "queries": [ {"query":"q24_…","small_b":…,"big_b":…,
  *                   "growth":…,"sec_small":…,"sec_big":…,
  *                   "flag":"ok|super_linear|error_small|error_big"}… ],
  *     "flagged": ["q…"], "exempt": {"q…": "reason"} }
  *
  * `exempt` carries hand-written justifications for flagged queries
  * whose growth is provably the OUTPUT/candidate bound, not a plan
  * defect (q24's inverted-index candidate growth is the canonical
  * case) — ScaleManifestSpec asserts flagged ⊆ exempt, so any new
  * super-linear query fails the suite until it gets a plan fix or a
  * recorded justification. Re-running ScaleGate PRESERVES the exempt
  * map of an existing manifest at the output path.
  */
object ScaleGate {

  final case class Probe(sec: Double, rows: Long, bytes: Long)

  private val LineRe =
    ("""\{"query":"([^"]+)","sec":([0-9.]+),"rows":([0-9]+).*""" +
      """"shuffle_read_b":([0-9]+),"shuffle_write_b":([0-9]+).*""").r
  private val ErrRe = """\{"query":"([^"]+)","error":.*""".r

  def parseProbe(path: String): (Map[String, Probe], Set[String]) = {
    val src = scala.io.Source.fromFile(path)
    try {
      val ok = Map.newBuilder[String, Probe]
      val err = Set.newBuilder[String]
      src.getLines().foreach {
        case LineRe(q, sec, rows, rb, wb) =>
          ok += q -> Probe(sec.toDouble, rows.toLong, rb.toLong + wb.toLong)
        case ErrRe(q) => err += q
        case _ => ()
      }
      (ok.result(), err.result())
    } finally src.close()
  }

  /** A JSON string literal's body, escapes included (unrolled, so a long
    * reason costs no regex recursion).
    */
  private val Str = """"([^"\\]*+(?:\\.[^"\\]*+)*+)""""
  private val ExemptPair = s"""\\s*,?\\s*$Str\\s*:\\s*$Str""".r

  private def unesc(s: String): String =
    """\\(.)""".r.replaceAllIn(s,
      m => scala.util.matching.Regex.quoteReplacement(m.group(1)))

  /** The `exempt` map of the manifest at `path` (empty without one), its
    * keys and reasons unescaped: written back escaped once, a reason
    * reads the same on every regeneration.
    */
  def readExempt(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val text = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      """"exempt"\s*:\s*\{""".r.findFirstMatchIn(text).toSeq
        .flatMap(m => Iterator.unfold(m.end) { i =>
          ExemptPair.findPrefixMatchOf(text.substring(i)).map(p =>
            (unesc(p.group(1)) -> unesc(p.group(2)), i + p.end))
        })
        .toMap
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleGate <small.jsonl> <big.jsonl> <outManifest> " +
        "[dataRatio] [slack]")
    val (small, smallErr) = parseProbe(args(0))
    val (big, bigErr) = parseProbe(args(1))
    val outPath = args(2)
    val ratio = if (args.length > 3) args(3).toDouble else 10.0
    val slack = if (args.length > 4) args(4).toDouble else 2.0
    val floorB = 32L * 1048576

    // preserve hand-written exemptions across regenerations
    val prevExempt = readExempt(outPath)

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val names = (small.keySet ++ big.keySet ++ smallErr ++ bigErr).toSeq.sorted
    val entries = names.map { q =>
      (small.get(q), big.get(q)) match {
        case (Some(s), Some(b)) =>
          val growth = (b.bytes + 1).toDouble / (s.bytes + 1)
          val flag =
            if (b.bytes >= floorB && growth > ratio * slack) "super_linear"
            else "ok"
          (q, flag,
            f"""{"query":"$q","small_b":${s.bytes},"big_b":${b.bytes},""" +
              f""""growth":$growth%.2f,"sec_small":${s.sec}%.2f,""" +
              f""""sec_big":${b.sec}%.2f,"rows_small":${s.rows},""" +
              f""""rows_big":${b.rows},"flag":"$flag"}""")
        case (sOpt, _) =>
          val flag = if (sOpt.isEmpty) "error_small" else "error_big"
          (q, flag, s"""{"query":"$q","flag":"$flag"}""")
      }
    }
    val flagged = entries.collect { case (q, "super_linear", _) => q }
    // fixed queries lose their exemption on regen (q78/q100/q224 r17),
    // but STANDING CLASS entries (e.g. the streaming family's
    // data-size-invariance record, r17 verdict item 9) survive even
    // while unflagged so future rounds stop re-litigating them
    val exempt = prevExempt.filter { case (q, r) =>
      flagged.contains(q) || r.startsWith("STANDING CLASS") }
    val json = new StringBuilder
    json.append(s"""{"data_ratio":$ratio,"slack":$slack,""")
      .append(s""""floor_mb":${floorB / 1048576},\n"queries":[\n""")
      .append(entries.map(_._3).mkString(",\n"))
      .append("\n],\n")
      .append(s""""flagged":[${flagged.map(q => s""""$q"""").mkString(",")}],\n""")
      .append(s""""exempt":{${exempt.toSeq.sorted.map { case (k, v) =>
        s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")}}}\n""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), json.toString.getBytes("UTF-8"))
    val unexempt = flagged.filterNot(exempt.contains)
    println(s"""{"manifest":"$outPath","queries":${entries.length},""" +
      s""""flagged":${flagged.length},"unexempt":${unexempt.length},""" +
      s""""errors_small":${smallErr.size},"errors_big":${bigErr.size}}""")
    unexempt.foreach(q => println(s"SUPER_LINEAR: $q"))
  }
}
