package graft

import java.nio.file.{Files, Paths}
import graft.pipeline.{ArtifactWarehouse, DedupArtifacts, Sampling,
  SimilarityArtifacts, TextAnalysis, TextArtifacts}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted artifact warehouse (r13 verdict item #5): artifacts
  * must survive the building session — a fresh SparkSession (or a
  * fresh JVM, simulated here by dropping the catalog entry) finds the
  * manifest, re-registers the bucketed table, and serves the SAME
  * values with NO rebuild (pinned by data-file mtimes) and the bucket
  * layout intact (pinned by a zero-Exchange bucket-key aggregate).
  */
class ArtifactWarehouseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dataFiles(kind: String, whRoot: String): Seq[java.io.File] = {
    val kd = new java.io.File(s"$whRoot/$kind")
    val hashes = Option(kd.listFiles()).toSeq.flatten
    hashes.flatMap(h => Option(new java.io.File(h, "data").listFiles())
      .toSeq.flatten).filter(_.getName.endsWith(".parquet"))
  }

  private def withWarehouse[A](f: String => A): A = {
    val dir = TempDirs.createPath("graft_wh_spec")
    sys.props("graft.warehouse.dir") = dir
    try f(dir) finally sys.props.remove("graft.warehouse.dir")
  }

  test("bucketed dedup artifact survives the session: re-registered " +
      "from the manifest, same values, no rebuild, bucket spec intact") {
    withWarehouse { wh =>
      val key = s"$sf|whspec1"
      val docs = Tables.documents(spark, sf)
      val t1 = DedupArtifacts.symEdgeTable(docs, "doc_id", "text",
        3, 0.4, key)
      val rows1 = t1.orderBy("src", "dst").collect().toSeq
      assert(rows1.nonEmpty)
      val files = dataFiles("dedup_sym", wh)
      assert(files.nonEmpty, "artifact data not under the warehouse root")
      val mtimes = files.map(f => f.getPath -> f.lastModified()).toMap

      // simulate a fresh JVM: drop the catalog entry (external table —
      // the data stays), then ask again from a FRESH SparkSession
      val name = spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_wh_dedup_sym_"))
      assert(name.nonEmpty)
      name.foreach(n => spark.sql(s"DROP TABLE $n"))

      val s2 = spark.newSession()
      val t2 = DedupArtifacts.symEdgeTable(
        Tables.documents(s2, sf), "doc_id", "text", 3, 0.4, key)
      assert(t2.orderBy("src", "dst").collect().toSeq == rows1)
      // no rebuild: the parquet files were not rewritten
      val after = dataFiles("dedup_sym", wh)
        .map(f => f.getPath -> f.lastModified()).toMap
      assert(after == mtimes, "artifact was rebuilt on reuse")
      // bucket layout restored through re-registration: an aggregate on
      // the bucket key plans WITHOUT a shuffle
      val plan = t2.groupBy(col("dst")).count()
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("plain artifact (k-means assignments) reuses the parquet: " +
      "second session reads the same files") {
    withWarehouse { wh =>
      val key = s"$sf|whspec2"
      val emb = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val a1 = SimilarityArtifacts.kmeansAssignments(emb, 4, 3, key)
      val rows1 = a1.orderBy("vec_id").collect().toSeq
      assert(rows1.nonEmpty)
      val mtimes = dataFiles("kmeans_assign", wh)
        .map(f => f.getPath -> f.lastModified()).toMap
      assert(mtimes.nonEmpty)

      val s2 = spark.newSession()
      val emb2 = Tables.embeddings(s2, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val a2 = SimilarityArtifacts.kmeansAssignments(emb2, 4, 3, key)
      assert(a2.orderBy("vec_id").collect().toSeq == rows1)
      val after = dataFiles("kmeans_assign", wh)
        .map(f => f.getPath -> f.lastModified()).toMap
      assert(after == mtimes, "artifact was rebuilt on reuse")
    }
  }

  test("fingerprint keys on corpus AND params: a parameter change " +
      "builds a separate artifact") {
    withWarehouse { wh =>
      val key = s"$sf|whspec3"
      val docs = Tables.documents(spark, sf)
      DedupArtifacts.symEdgeTable(docs, "doc_id", "text", 3, 0.4, key)
      DedupArtifacts.symEdgeTable(docs, "doc_id", "text", 3, 0.5, key)
      val hashes = Option(
        new java.io.File(s"$wh/dedup_sym").listFiles()).toSeq.flatten
      assert(hashes.length == 2, hashes.map(_.getName).mkString(","))
      hashes.foreach(h =>
        assert(Files.exists(Paths.get(h.getPath, "manifest.properties"))))
    }
  }

  test("gc removes artifacts older than the age and keeps younger " +
      "ones; abandoned (manifest-less) builds age out too") {
    withWarehouse { wh =>
      val key = s"$sf|whspecgc"
      val docs = Tables.documents(spark, sf)
      DedupArtifacts.symEdgeTable(docs, "doc_id", "text", 3, 0.4, key)
      DedupArtifacts.symEdgeTable(docs, "doc_id", "text", 3, 0.5, key)
      val hashes = new java.io.File(s"$wh/dedup_sym").listFiles().sorted
      assert(hashes.length == 2)
      // age ONE artifact past the cutoff; the other stays young
      val old = hashes.head
      val manifest = new java.io.File(old, "manifest.properties")
      assert(manifest.setLastModified(
        System.currentTimeMillis() - 10 * 3600 * 1000))
      // an abandoned dir (no manifest) older than the age goes too
      val abandoned = new java.io.File(s"$wh/dedup_sym/deadbeef")
      new java.io.File(abandoned, "data").mkdirs()
      assert(abandoned.setLastModified(
        System.currentTimeMillis() - 10 * 3600 * 1000))
      val removed = ArtifactWarehouse.gc(3600 * 1000L)
      assert(removed == 2, s"removed $removed")
      assert(!old.exists() && !abandoned.exists())
      assert(hashes.last.exists(), "young artifact must survive")
      // the next request simply rebuilds the GC'd artifact
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_wh_dedup_sym_"))
        .foreach(n => spark.sql(s"DROP TABLE $n"))
      assert(DedupArtifacts.symEdgeTable(
        Tables.documents(spark.newSession(), sf),
        "doc_id", "text", 3, 0.4, key).count() > 0)
    }
  }

  test("an abandoned build (data without manifest) is rebuilt, not served") {
    withWarehouse { wh =>
      val key = s"$sf|whspec4"
      val docs = Tables.documents(spark, sf)
      DedupArtifacts.symEdgeTable(docs, "doc_id", "text", 3, 0.4, key)
      val hash = new java.io.File(s"$wh/dedup_sym").listFiles().head
      val manifest = Paths.get(hash.getPath, "manifest.properties")
      val expected = spark.table(
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith("graft_wh_dedup_sym_")).head)
        .count()
      // crash simulation: manifest never landed
      Files.delete(manifest)
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_wh_dedup_sym_"))
        .foreach(n => spark.sql(s"DROP TABLE $n"))
      val s2 = spark.newSession()
      val t2 = DedupArtifacts.symEdgeTable(
        Tables.documents(s2, sf), "doc_id", "text", 3, 0.4, key)
      assert(t2.count() == expected)
      assert(Files.exists(manifest), "rebuild must re-manifest")
    }
  }

  test("census-driven bucket counts: floor on small corpora, " +
      "pow2 scaling with input bytes, 4096 cap (r15)") {
    import spark.implicits._
    // in-memory fixture: no input files → the floor
    assert(ArtifactWarehouse.bucketsFor(
      Seq((1L, "a")).toDF("id", "t")) == 8)
    // driver testdata: sub-2MB corpus stays at the floor, so every
    // existing artifact fingerprint and plan is unchanged at test SFs
    assert(ArtifactWarehouse.bucketsFor(Tables.documents(spark, sf)) == 8)
    // the arithmetic: ~2 MB per bucket, rounded UP to a power of two
    assert(ArtifactWarehouse.bucketsForBytes(0L) == 8)
    assert(ArtifactWarehouse.bucketsForBytes(16L << 20) == 8)
    assert(ArtifactWarehouse.bucketsForBytes(62L << 20) == 32)
    assert(ArtifactWarehouse.bucketsForBytes(100L << 20) == 64)
    assert(ArtifactWarehouse.bucketsForBytes(1L << 40) == 4096) // 1 TB cap
    assert(ArtifactWarehouse.bucketsForBytes(100L << 20, floor = 128)
      == 128)
  }

  test("race soak: concurrent bucketed builders x readers x gc(0) — " +
      "builds never corrupted, faults always retryable, every reader " +
      "converges to exact values once the storm ends (r15)") {
    withWarehouse { wh =>
      val repeats = sys.env.getOrElse("GRAFT_RACE_REPEATS", "4").toInt
      val docs = Tables.documents(spark, sf)
      // ground truth from an undisturbed solo build (values are
      // key-independent: the fingerprint keys the STORAGE, not the math)
      val expected = DedupArtifacts.symEdgeTable(
        docs, "doc_id", "text", 3, 0.4, s"$sf|whrace_solo")
        .orderBy("src", "dst").collect().toSeq
      assert(expected.nonEmpty)
      for (round <- 0 until repeats) {
        val errors =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        // adversarial GC: age 0 deletes EVERY completed artifact it
        // sees — far outside the deployment contract (age >> session).
        // While it storms, a reader can observe a DOCUMENTED empty
        // (root vanishing at listing time lists no files — the one
        // silent window, see the gc scaladoc); what it must NEVER see
        // is a wrong NONEMPTY result, an unretryable fault, or a
        // half-promoted build (staging makes promotion atomic).
        val gcThread = new Thread(() => {
          while (!stop.get()) {
            try ArtifactWarehouse.gc(0)
            catch { case t: Throwable => errors.add(t) }
            Thread.sleep(15)
          }
        }, s"wh-race-gc-$round")
        // readers/builders: two distinct artifact keys to also exercise
        // the per-key lock map under contention; each loops until it
        // reads the EXACT expected values (the storm is finite)
        val readers = (0 until 4).map { i =>
          new Thread(() => {
            try {
              val key = s"$sf|whrace$round-${i % 2}"
              var exact = false
              while (!exact) {
                val got = graft.store.ReadFaults.retryOnVanishedFiles() {
                  DedupArtifacts.symEdgeTable(
                    docs, "doc_id", "text", 3, 0.4, key)
                    .orderBy("src", "dst").collect().toSeq
                }
                if (got == expected) exact = true
                else if (got.nonEmpty)
                  throw new AssertionError(
                    s"reader $i round $round: WRONG NONEMPTY result " +
                      s"(${got.length} rows vs ${expected.length}) — " +
                      "a corrupted or half-promoted artifact")
                // else: documented listing-race empty — re-enter, the
                // self-heal rebuilds
              }
            } catch { case t: Throwable => errors.add(t) }
          }, s"wh-race-reader-$round-$i")
        }
        readers.foreach(_.start())
        gcThread.start()
        Thread.sleep(1500) // let the storm overlap builds and reads
        stop.set(true)
        gcThread.join(10000)
        readers.foreach(_.join(180000))
        assert(readers.forall(!_.isAlive), s"round $round: reader hung")
        if (!errors.isEmpty) {
          val e = errors.peek()
          fail(s"round $round: ${errors.size} failures, first: $e " +
            s"caused by ${e.getCause}")
        }
      }
      // no leaked staging dirs: every in-flight build either promoted
      // or self-cleaned (the horizon protects only CRASHED builds)
      val staging = new java.io.File(s"$wh/.staging")
      assert(Option(staging.listFiles()).toSeq.flatten.isEmpty,
        "staging directories leaked past the soak")
    }
  }

  test("vanished-at-listing-time window: a root gc'd between serve and " +
      "listing triggers a retry+rebuild, never a silent empty scan") {
    withWarehouse { wh =>
      def build() = ArtifactWarehouse.bucketed(
        spark, "gcwindow", "fp1", "id", 8) {
        spark.range(0, 500).selectExpr("id", "id * 3 as v")
      }
      // seed the artifact, then drop the catalog entry so the next call
      // takes the serve-from-manifest path (the window's entry point)
      build()
      val keyDir = Option(new java.io.File(s"$wh/gcwindow").listFiles())
        .toSeq.flatten.head
      spark.sql(s"DROP TABLE IF EXISTS graft_wh_gcwindow_${keyDir.getName}")
      // one-shot injection: delete the artifact root AFTER the serve
      // succeeds but BEFORE its listing validation — exactly the gc
      // race the scaladoc documents
      var fired = 0
      ArtifactWarehouse.gcRaceProbe = () => {
        if (fired == 0) { fired += 1; TempDirs.deleteRecursively(keyDir) }
      }
      try {
        val df = build()
        // the retry must have REBUILT the artifact: correct values, and
        // the manifest is back on disk
        assert(df.agg(sum("v")).first().getLong(0) == 500L * 499 * 3 / 2)
        assert(fired >= 1, "injection never fired")
        val arts = Option(new java.io.File(s"$wh/gcwindow").listFiles())
          .toSeq.flatten.filter(_.isDirectory)
        assert(arts.exists(a =>
          new java.io.File(a, "manifest.properties").exists()))
      } finally ArtifactWarehouse.gcRaceProbe = () => ()
    }
  }

  test("vanished-at-listing-time window on the plain path: retry+rebuild") {
    withWarehouse { wh =>
      def build() = ArtifactWarehouse.plain(spark, "gcwindowp", "fp2") {
        spark.range(0, 100).selectExpr("id", "id + 7 as v")
      }
      build()
      val keyDir = Option(new java.io.File(s"$wh/gcwindowp").listFiles())
        .toSeq.flatten.head
      val name = s"graft_wh_gcwindowp_${keyDir.getName}"
      if (spark.catalog.isCached(name)) spark.catalog.uncacheTable(name)
      spark.sql(s"DROP TABLE IF EXISTS $name")
      var fired = 0
      ArtifactWarehouse.gcRaceProbe = () => {
        if (fired == 0) { fired += 1; TempDirs.deleteRecursively(keyDir) }
      }
      try {
        val df = build()
        assert(df.agg(sum("v")).first().getLong(0) == 100L * 99 / 2 + 700)
        assert(fired >= 1, "injection never fired")
      } finally ArtifactWarehouse.gcRaceProbe = () => ()
    }
  }

  // Every TextArtifacts adoption is bit-identical to the inline shape it
  // replaced (the artifact eligibility rule: integer-count consumers
  // only, so re-laying out the input cannot move any float reduction).
  // Each test recomputes the pre-adoption inline frame and compares
  // collected rows exactly.

  private def docs = Tables.documents(spark, sf)

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString("\u0000"))

  test("hapaxDensityShared ≡ inline hapaxDensity") {
    val inline = TextAnalysis.hapaxDensity(docs, "text", "doc_id")
    val shared = TextAnalysis.hapaxDensityShared(
      docs, "text", "doc_id", corpusKey = s"$sf#hapaxeq")
    assert(rows(shared) == rows(inline))
  }

  test("vocabCoverageShared ≡ inline vocabCoverage") {
    val inline = TextAnalysis.vocabCoverage(docs, "text")
    val shared = TextAnalysis.vocabCoverageShared(
      docs, "doc_id", "text", corpusKey = s"$sf#coveq")
    assert(rows(shared) == rows(inline))
  }

  test("chao1RichnessShared ≡ inline chao1Richness") {
    val inline = TextAnalysis.chao1Richness(docs, "source", "text")
    val shared = TextAnalysis.chao1RichnessShared(
      docs, "doc_id", "source", "text", corpusKey = s"$sf#chaoeq")
    assert(rows(shared) == rows(inline))
  }

  test("vocabOovShared ≡ the inline explode/vocab-join shape") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // the exact pre-adoption inline computation (q122's former body)
    val split = Sampling.splitAssign(docs, "doc_id", splits)
    val toks = split.select(col("split"),
      explode(TextAnalysis.whitespaceTokens(
        lower(col("text")))).as("token"))
    val vocab = toks.filter(col("split") === "train")
      .select(col("token")).distinct()
      .withColumn("__in", lit(true))
    val inline = toks.filter(col("split") =!= "train")
      .join(vocab, Seq("token"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_oov"),
        round(sum(when(col("__in").isNull, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("oov_rate"))
    val shared = TextAnalysis.vocabOovShared(
      docs, "doc_id", "text", corpusKey = s"$sf#ooveq", splits, "train")
    assert(rows(shared) == rows(inline))
    // sanity: both eval splits present with nonzero token mass
    assert(shared.count() == 2)
  }

  test("zipf count head over the artifact ≡ inline explode counts") {
    val inline = docs
      .select(explode(TextAnalysis.whitespaceTokens(
        lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val shared = TextArtifacts
      .termFreq(docs, "doc_id", "text", corpusKey = s"$sf#zipfeq")
      .groupBy(col("token")).agg(sum(col("tf")).as("freq"))
    assert(rows(shared) == rows(inline))
  }
}
