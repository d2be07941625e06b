package graft

/** `SENSAPP_*`-compatible configuration surface (reference:
  * src/config/mod.rs:9-46). Each value resolves the JVM system property
  * first (test hook), then the environment variable, then the reference
  * default — so every call site behaves exactly as before when nothing
  * is set. Values are read per-access: a long-lived Gateway sees
  * property updates without a restart (the reference reloads via
  * OnceLock at boot; per-access is strictly more flexible and free at
  * these call rates).
  */
object Config {

  private def get(key: String): Option[String] =
    sys.props.get(key).orElse(sys.env.get(key)).filter(_.nonEmpty)
      .orElse(fileSettings.get(fileKey(key)))

  /** Settings-file key for an env key: the reference's file carries the
    * confique FIELD names (`port`, `http_body_limit`, …), i.e. the env
    * name minus its `SENSAPP_` prefix, lowercased
    * (reference: src/config/mod.rs:9-46). Graft-extension knobs keep
    * their lowercased `graft_` prefix so the two namespaces can't
    * collide in one file.
    */
  private def fileKey(key: String): String =
    key.stripPrefix("SENSAPP_").toLowerCase

  /** Path of the settings file: `SENSAPP_SETTINGS_FILE` (itself
    * property-then-env resolved), default `settings.toml`
    * (reference: src/config/mod.rs:50-53). A MISSING file is graceful —
    * env + defaults serve, the reference's documented behavior
    * (config/mod.rs:185-198 test_custom_settings_file) — while a
    * PRESENT-but-malformed file fails loudly like confique's load.
    */
  private[graft] def settingsFilePath: String =
    sys.props.get("SENSAPP_SETTINGS_FILE")
      .orElse(sys.env.get("SENSAPP_SETTINGS_FILE"))
      .filter(_.nonEmpty).getOrElse("settings.toml")

  // parsed-file cache keyed by (path, mtime): re-read only when the
  // file changes, so per-access resolution stays cheap and a long-lived
  // Gateway picks up edits without a restart (same contract as the
  // property overrides above)
  @volatile private var fileCache: (String, Long, Map[String, String]) =
    ("", -2L, Map.empty)

  private def fileSettings: Map[String, String] = {
    val path = settingsFilePath
    val f = new java.io.File(path)
    val stamp = if (f.isFile) f.lastModified() else -1L
    val cached = fileCache
    if (cached._1 == path && cached._2 == stamp) cached._3
    else {
      val parsed =
        if (stamp == -1L) Map.empty[String, String]
        else parseToml(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      fileCache = (path, stamp, parsed)
      parsed
    }
  }

  /** Minimal TOML subset covering the reference's flat settings struct:
    * `key = value` with quoted strings (`\\ \" \n \t` escapes), bare
    * integers/floats/booleans, full-line and trailing comments, and
    * `[section]` headers (sectioned keys are namespaced and therefore
    * never match a top-level field — same effect as confique ignoring
    * unknown keys). Malformed lines fail LOUDLY with their line number.
    */
  private[graft] def parseToml(text: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var section = ""
    val kv = """^([A-Za-z0-9_.-]+)\s*=\s*(.+)$""".r
    text.linesIterator.zipWithIndex.foreach { case (raw, idx) =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        if (line.startsWith("[") && line.endsWith("]")) {
          section = line.substring(1, line.length - 1).trim + "."
        } else line match {
          case kv(k, v) =>
            out += ((section + k.toLowerCase, parseTomlValue(v, idx + 1)))
          case _ => throw new IllegalArgumentException(
            s"settings file line ${idx + 1}: not a `key = value` pair: $line")
        }
      }
    }
    out.result()
  }

  private def parseTomlValue(v0: String, lineNo: Int): String = {
    val v = v0.trim
    if (v.startsWith("\"")) {
      val sb = new StringBuilder
      var i = 1
      var closed = false
      while (i < v.length && !closed) {
        v.charAt(i) match {
          case '"' => closed = true
          case '\\' =>
            if (i + 1 >= v.length) throw new IllegalArgumentException(
              s"settings file line $lineNo: dangling escape")
            v.charAt(i + 1) match {
              case '"' => sb.append('"')
              case '\\' => sb.append('\\')
              case 'n' => sb.append('\n')
              case 't' => sb.append('\t')
              case c => throw new IllegalArgumentException(
                s"settings file line $lineNo: unsupported escape \\$c")
            }
            i += 1
          case c => sb.append(c)
        }
        i += 1
      }
      if (!closed) throw new IllegalArgumentException(
        s"settings file line $lineNo: unterminated string")
      val rest = v.substring(i).trim
      if (rest.nonEmpty && !rest.startsWith("#"))
        throw new IllegalArgumentException(
          s"settings file line $lineNo: trailing content after string: $rest")
      sb.toString
    } else {
      val bare = v.indexOf('#') match {
        case -1 => v
        case h => v.substring(0, h).trim
      }
      val ok = bare == "true" || bare == "false" ||
        bare.matches("""[+-]?[0-9]+(\.[0-9]+)?""")
      if (!ok) throw new IllegalArgumentException(
        s"settings file line $lineNo: unquoted value must be a number " +
          s"or boolean: $bare")
      bare
    }
  }

  def instanceId: Int =
    get("SENSAPP_INSTANCE_ID").map(_.toInt).getOrElse(0)

  def port: Int = get("SENSAPP_PORT").map(_.toInt).getOrElse(3000)

  def endpoint: String = get("SENSAPP_ENDPOINT").getOrElse("127.0.0.1")

  /** Request-body cap in bytes; "10mb"-style strings, reference ceiling
    * 128 GB (reference: src/config/mod.rs:59-64). Oversized requests
    * get 413, matching axum's DefaultBodyLimit edge.
    */
  def httpBodyLimit: Long = {
    val n = parseByteSize(get("SENSAPP_HTTP_BODY_LIMIT").getOrElse("10mb"))
    require(n <= 128L * 1024 * 1024 * 1024, "Body size is too big: > 128GB")
    n
  }

  /** Cap on the DECOMPRESSED size of a request body (gzip influx writes,
    * snappy remote-write/read) — the wire cap alone doesn't stop a
    * compression bomb (no reference env; graft hardening knob). Default
    * [[DecodedBodyLimitDefault]].
    */
  def decodedBodyLimit: Long =
    get("GRAFT_HTTP_DECODED_BODY_LIMIT").map(parseByteSize)
      .getOrElse(DecodedBodyLimitDefault)

  /** 16 MiB: the largest decoded body a write commits inside the default
    * 30 s server timeout even in a cold JVM. Measured through the gateway
    * on 4 cores (gzip Influx bodies over 1,000 series, one writer, 7 GB
    * heap): bodies decoding to 8, 16, 32 and 48 MiB answered 204 in 2.6,
    * 3.9–5.6, 9.0–10.6 and 13.4–16.0 s warm (3.0–3.6 MiB/s; about a
    * quarter parse, the rest commit), and the first 8 MiB body of a cold
    * JVM took 8.1 s (1 MiB/s). The earlier default, 32× the wire cap (320
    * MB), admitted bodies no write commits in time: one decoding to 250 MB
    * answered 408 after 30 s.
    */
  val DecodedBodyLimitDefault: Long = 16L * 1024 * 1024

  /** Handler time budget; expiry returns 408 REQUEST_TIMEOUT, matching
    * the reference's TimeoutLayer (src/ingestors/http/server.rs:74-77).
    */
  def httpServerTimeoutSeconds: Long =
    get("SENSAPP_HTTP_SERVER_TIMEOUT_SECONDS").map(_.toLong).getOrElse(30L)

  /** Type-inference sampling cap (reference: src/config/mod.rs:25-27). */
  def maxInferenceRows: Int =
    get("SENSAPP_MAX_INFERENCES_ROWS").map(_.toInt).getOrElse(128)

  /** Ingest batch/chunk size (reference: src/config/mod.rs:29-30). */
  def batchSize: Int =
    get("SENSAPP_BATCH_SIZE").map(_.toInt).getOrElse(8192)

  /** Sensor-UUID Blake3 key salt (reference: src/config/mod.rs:32-33). */
  def sensorSalt: String = get("SENSAPP_SENSOR_SALT").getOrElse("sensapp")

  def influxdbWithNumeric: Boolean =
    get("SENSAPP_INFLUXDB_WITH_NUMERIC").map(_.toBoolean).getOrElse(false)

  /** Default row cap on series-data queries (no reference env — the
    * Gateway `limit` param default; graft extension knob). */
  def defaultQueryLimit: Int =
    get("GRAFT_DEFAULT_QUERY_LIMIT").map(_.toInt).getOrElse(10000000)

  /** Max concurrently-admitted publish requests before the Gateway
    * sheds load with 503 — the bounded-ingest-queue backpressure the
    * reference documents (reference: docs/ARCHITECTURE.md:114-118).
    * Default = 2× the Gateway worker pool: publishes queue a little,
    * then shed instead of piling unbounded Spark jobs. */
  def ingestQueueLimit: Int =
    get("GRAFT_INGEST_QUEUE_LIMIT").map(_.toInt).getOrElse(16)

  /** Gateway per-request log filter, env-driven like the reference's
    * tracing subscriber (reference: src/main.rs:35-41 — EnvFilter from
    * the environment, default "info"). Accepted: off | error | info |
    * debug; list values ("info,tower_http=info") take the first
    * segment's level, matching the reference default string's shape. */
  def logLevel: String =
    get("SENSAPP_LOG").orElse(get("RUST_LOG")).getOrElse("info")
      .toLowerCase.takeWhile(_ != ',').trim match {
      case l @ ("off" | "error" | "info" | "debug") => l
      case _ => "info"
    }

  /** byte_unit-style size parse ("10mb", "512 KiB", "1.5GB", "1024"):
    * decimal units are powers of 1000, binary (…iB) powers of 1024,
    * case-insensitive — the subset of byte_unit::Byte::parse_str the
    * reference's config values exercise. */
  private[graft] def parseByteSize(s: String): Long = {
    val t = s.trim
    val m = """(?i)^([0-9]+(?:\.[0-9]+)?)\s*([a-z]*)$""".r
    t match {
      case m(num, unit) =>
        val mult: Long = unit.toLowerCase match {
          case "" | "b" => 1L
          case "kb" | "k" => 1000L
          case "mb" | "m" => 1000L * 1000
          case "gb" | "g" => 1000L * 1000 * 1000
          case "tb" | "t" => 1000L * 1000 * 1000 * 1000
          case "kib" => 1024L
          case "mib" => 1024L * 1024
          case "gib" => 1024L * 1024 * 1024
          case "tib" => 1024L * 1024 * 1024 * 1024
          case u => throw new IllegalArgumentException(
            s"Unrecognized byte unit '$u' in '$s'")
        }
        val v = BigDecimal(num) * mult
        // BigDecimal.toLong keeps the LOW 64 BITS on overflow — an
        // absurd size would wrap (possibly negative) and sail past the
        // 128 GB ceiling check instead of failing loudly
        if (v > Long.MaxValue) throw new IllegalArgumentException(
          s"Byte size out of range '$s'")
        v.toLong
      case _ => throw new IllegalArgumentException(
        s"Unparseable byte size '$s'")
    }
  }
}
