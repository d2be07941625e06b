package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.catalog.Catalog
import graft.promql.{ExtendedPromQL, SimplePromQL}
import graft.promql.SimplePromQL.PromQLError

/** The golden parse corpus of the PromQL front ends
  * (`src/test/resources/promql_parse_corpus.tsv`) and its generator.
  *
  * Each line is `<mode>\t<input>\t<result>`, both text fields escaped
  * with [[escape]]. Every input is written in these modes:
  *  - `parse`: `ExtendedPromQL.parse(input, FixedNowUs)`;
  *  - `anchored`: the 4-argument overload with the range
  *    [[AnchorStartUs]]..[[FixedNowUs]], only for inputs that hold
  *    `start()` or `end()`;
  *  - `simple`: the restricted endpoint's `SimplePromQL.parse(input,
  *    FixedNowUs)`;
  *  - `selector`: `Catalog.parseSelector(input)`, the `/series?selector=`
  *    filter.
  * The result is the [[render]]ed value, or `PromQLError: <message>`, or
  * `<exception class>: <message>` for anything else the parser throws.
  *
  * Regenerate (it rewrites results only; the inputs are the file's own):
  * {{{
  * sbt "Test/runMain graft.PromQLCorpus src/test/resources/promql_parse_corpus.tsv"
  * }}}
  * Extra arguments name files of further inputs, one escaped query per
  * line, appended after the existing ones. Before a parser change,
  * regenerate at its parent commit with the new inputs, so the file
  * records the parent's answers and the change replays against them.
  */
object PromQLCorpus {

  val FixedNowUs: Long = 1700000000000000L // 2023-11-14T22:13:20Z
  val AnchorStartUs: Long = FixedNowUs - 3600L * 1000000L

  /** The near-PromQL strings of the parser fuzz (seed 0xFADE): random
    * concatenations of 1-12 atoms.
    */
  def fuzzStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(0xFADE)
    val atoms = Seq("view", "sum", "rate", "topk", "by", "or", "and",
      "unless", "offset", "bool", "atan2", "scalar", "vector",
      "count_over_time", "label_replace", "quantile", "(", ")", "[", "]",
      "{", "}", "\"", ",", "=", "!=", "=~", "!~", "+", "-", "*", "/",
      "%", "^", "<", ">", "==", ":", "@", " ", "5m", "1h", "0.5", "3",
      "99999999999999999999", "9999999999y", "e", "_", "user")
    Seq.fill(n) {
      val k = 1 + rnd.nextInt(12)
      Seq.fill(k)(atoms(rnd.nextInt(atoms.length))).mkString("")
    }
  }

  /** perfbench's two PromQL request templates (`Gateways.scala`), copied
    * verbatim, then instantiated with one of its metric/job/zone draws.
    */
  val BenchTemplates: Seq[String] = Seq(
    "$metric{job=\"$job\"}[2h]",
    "avg_over_time($metric{job=\"$job\",zone=\"$zone\"}[1h])",
    "cpu_usage{job=\"job-1\"}[2h]",
    "avg_over_time(cpu_usage{job=\"job-1\",zone=\"z2\"}[1h])")

  /** One uniform text form: sequences of any collection class render as
    * `[a, b]` (an `ArraySeq` and a `List` holding the same values are
    * equal and render the same), strings quoted and escaped.
    */
  def render(x: Any): String = x match {
    case s: String => "\"" + escape(s).replace("\"", "\\\"") + "\""
    case c: Char => "'" + c + "'"
    case o: Option[_] => o.fold("None")(v => s"Some(${render(v)})")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case p: Product =>
      p.productPrefix + p.productIterator.map(render).mkString("(", ", ", ")")
    case other => String.valueOf(other)
  }

  def escape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def unescape(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => out += '\t'; i += 2
          case 'n' => out += '\n'; i += 2
          case 'r' => out += '\r'; i += 2
          case 'u' =>
            out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case d => out += d; i += 2
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  def result(mode: String, q: String): String =
    try render(mode match {
      case "parse" => ExtendedPromQL.parse(q, FixedNowUs)
      case "anchored" =>
        ExtendedPromQL.parse(q, FixedNowUs, Some(AnchorStartUs), Some(FixedNowUs))
      case "simple" => SimplePromQL.parse(q, FixedNowUs)
      case "selector" => Catalog.parseSelector(q)
    })
    catch {
      case e: PromQLError => "PromQLError: " + e.getMessage
      case e: Throwable => e.getClass.getName + ": " + e.getMessage
    }

  /** The (mode, input) pairs for a list of inputs, in order. */
  def modes(inputs: Seq[String]): Seq[(String, String)] =
    inputs.distinct.flatMap { q =>
      val anchored =
        if (q.contains("start()") || q.contains("end()")) Seq("anchored") else Nil
      (("parse" +: anchored) ++ Seq("simple", "selector")).map((_, q))
    }

  /** The corpus lines as (mode, input, result). */
  def cases(lines: Iterator[String]): Seq[(String, String, String)] =
    lines.filter(_.nonEmpty).map { l =>
      val Array(m, q, r) = l.split("\t", 3)
      (m, unescape(q), unescape(r))
    }.toSeq

  def read(path: String): Seq[(String, String, String)] =
    cases(Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.iterator)

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val existing =
      if (Files.exists(Paths.get(out))) read(out).map(_._2) else Nil
    val extra = args.drop(1).toSeq.flatMap(f =>
      Files.readAllLines(Paths.get(f), StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty).map(unescape))
    val inputs =
      if (existing.nonEmpty) existing ++ extra
      else extra ++ BenchTemplates ++ fuzzStrings(3000)
    val lines = modes(inputs).map { case (m, q) =>
      s"$m\t${escape(q)}\t${escape(result(m, q))}"
    }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${lines.length} cases to $out")
  }
}
