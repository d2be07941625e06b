package graft

/** The SQL functions [[GraftExtensions]] registers, driven through SQL. */
class GraftExtensionsSpec extends SparkSpec {

  test("every registered SQL function resolves with its arity and " +
    "reports its usage on a wrong arity or a non-literal parameter") {
    // one well-typed argument list per registered function
    val calls = Map(
      "sensor_uuid" -> Seq("'m'", "'Float'", "CAST(NULL AS STRING)",
        "CAST(NULL AS MAP<STRING,STRING>)"),
      "vec_dot" -> Seq("array(1D, 2D)", "array(3D, 4D)"),
      "vec_q8" -> Seq("array(1D, 2D)"),
      "vec_dot8" -> Seq("X'0102'", "X'0304'"),
      "text_shingles" -> Seq("'abc def'", "2"),
      "gear_chunks" -> Seq("'abc def'", "4"),
      "bpe_split" -> Seq("'word'"),
      "char_stats" -> Seq("'text'"),
      "unicode_normalize" -> Seq("'text'", "'NFC'"),
      "winnow_fps" -> Seq("'abc def ghi'", "3", "2"))
    assert(GraftExtensions.functions.map(_.name).toSet == calls.keySet)
    def failure(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    GraftExtensions.functions.foreach { f =>
      val args = calls(f.name)
      assert(args.length == f.arity, f.name)
      val ok = spark.sql(s"SELECT ${f.name}(${args.mkString(", ")}) AS r")
      assert(ok.queryExecution.analyzed.resolved, f.name)
      assert(ok.collect().length == 1, f.name)
      val wrong = failure(s"SELECT ${f.name}(${(args :+ "1").mkString(", ")})")
      assert(wrong.contains(s"${f.usage} takes ${f.arity} argument"), wrong)
      f.literals.foreach { i =>
        val column = args.updated(i, s"CAST(id AS ${
          if (args(i).startsWith("'")) "STRING" else "INT"})")
        val msg = failure(
          s"SELECT ${f.name}(${column.mkString(", ")}) FROM range(1)")
        assert(msg.contains(s"${f.name} ${
          f.literals.map(f.params).mkString(" and ")} must be"), msg)
      }
    }
  }
}
