package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.model.TableSpec
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** Layered process configuration — the analog of the reference's config
  * loader (`streamer/config.go:111-188`: TOML file + environment + flags
  * merged with precedence). Here the layers are, lowest to highest:
  *
  *   defaults  <  settings file (`--config <path>`; JSON, flat TOML, or —
  *                verbatim — the reference's own sectioned
  *                `kuvasz-streamer.toml`, chosen by extension + shape)
  *             <  environment (`GRAFT_<UPPER_SNAKE_KEY>`)
  *             <  CLI flags (`--kebab-key=value` or `--kebab-key value`)
  *
  * Settings-file keys are snake_case; the same key spells
  * `GRAFT_MAP_FILE` in the environment and `--map-file` on the command
  * line. Unknown flags and file keys fail loudly (a typo must not
  * silently fall back to a default). The MAP file named here is separate
  * and stays live-reloadable (Orchestrator watches its mtime); the
  * process config itself is boot-time, like the reference's flag layer.
  */
final case class ProcessConfig(
    mapFile: String = "map.json",
    targetsRoot: String = "targets",
    checkpointRoot: String = "checkpoints",
    specsFile: Option[String] = None,
    adminPort: Int = -1, // -1 = admin API off; 0 = ephemeral
    metricsPort: Int = -1, // -1 = metrics endpoint off; 0 = ephemeral
    jwtKey: Option[String] = None, // admin auth secret; None = dev mode
    master: String = "local[*]",
    shufflePartitions: Int = 32,
    maxFilesPerTrigger: Int = 1,
    triggerMs: Long = 250L,
    drain: Boolean = false, // true = drain available WAL once and exit
    // periodic lake maintenance: every interval, vacuum (expire snapshots
    // past vacuum_retain + reclaim unreferenced files) and compact
    // over-fragmented buckets on every map target — continuous ingest at
    // 10^10 events otherwise accumulates manifests/files without bound.
    // <= 0 disables (drain mode and tests).
    maintenanceIntervalSec: Long = -1L,
    vacuumRetain: Int = 8,
    // ONE compaction threshold for every reader (maintenance loop, inline
    // merge compaction, signature-store merge): resolved through the same
    // defaults < file < env (GRAFT_COMPACT_FILE_CAP) < flags layering and
    // published to graft.config.Knobs at serve() time
    compactFileCap: Int = Knobs.compactFileCap,
    // initial full-sync pacing (the reference's app.sync_rate/app.sync_burst
    // token bucket, config.go:97-98): rows/sec cap + per-commit chunk rows,
    // published to Knobs at serve() time; rate <= 0 = unpaced
    syncRate: Long = Knobs.syncRateRows,
    syncBurst: Long = Knobs.syncBurstRows)

object ProcessConfig {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private[graft] val keys = Seq("map_file", "targets_root", "checkpoint_root",
    "specs_file", "admin_port", "metrics_port", "jwt_key", "master",
    "shuffle_partitions", "max_files_per_trigger", "trigger_ms",
    "drain", "maintenance_interval_sec", "vacuum_retain",
    "compact_file_cap", "sync_rate", "sync_burst")

  /** The env spelling of settings key `key` (`map_file` ->
    * `GRAFT_MAP_FILE`); `config` names the settings file itself. */
  private[graft] def envName(key: String): String = "GRAFT_" + key.toUpperCase

  /** Env names read outside the settings layering: engine knobs with no
    * settings key. */
  private[graft] val runtimeKnobs = Set("GRAFT_CANDIDATE_CAP")
  /** Renamed/retired knobs: still recognized (no "unrecognized" warning,
    * which would be misleading) but called out explicitly — a deployment
    * still setting the old name gets neither effect nor silence. */
  private[graft] val deprecatedKnobs = Map(
    "GRAFT_OCCUPANCY_CAP" -> "GRAFT_CANDIDATE_CAP")

  /** Resolve the config from `args` + `env` (+ the settings file named by
    * `--config` or its env spelling, if any). */
  def resolve(args: Seq[String],
              env: Map[String, String] = sys.env): ProcessConfig = {
    // --k=v and --k v forms; later flags win
    val flags = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--"))
        throw new IllegalArgumentException(s"unexpected argument '$a'")
      val (k, v) = a.indexOf('=') match {
        case -1 =>
          if (i + 1 >= args.length)
            throw new IllegalArgumentException(s"flag '$a' needs a value")
          i += 1
          (a.drop(2), args(i))
        case eq => (a.substring(2, eq), a.substring(eq + 1))
      }
      val snake = k.replace('-', '_')
      if (snake != "config" && !keys.contains(snake))
        throw new IllegalArgumentException(s"unknown flag '--$k'")
      flags(snake) = v
      i += 1
    }

    val fileVals: Map[String, String] =
      flags.get("config").orElse(env.get(envName("config"))) match {
        case None => Map.empty
        case Some(path) =>
          val text = Files.readString(Paths.get(path))
          // the reference's settings file is TOML (config.go); accept both
          // formats by extension — flat keys natively, or the reference's
          // own sectioned shape verbatim (translateReference)
          val raw: Map[String, String] =
            if (path.endsWith(".toml")) {
              val parsed = parseToml(text, path)
              // a sectioned file is the REFERENCE's shape (config.go:17-108,
              // `[server]`/`[app]`/... tables) — translate it verbatim;
              // a flat file is the engine's native key space
              if (parsed.keys.exists(_.contains('.')))
                translateReference(parsed, path)
              else parsed
            } else {
              val node = mapper.readTree(text)
              val it = node.properties().iterator()
              val out = Map.newBuilder[String, String]
              while (it.hasNext) {
                val e = it.next()
                out += e.getKey -> e.getValue.asText()
              }
              out.result()
            }
          raw.keys.find(!keys.contains(_)).foreach(k =>
            throw new IllegalArgumentException(
              s"unknown settings key '$k' in $path"))
          raw
      }

    // the flag and file layers reject typos outright; env vars are shared
    // with the engine's runtime knobs (GRAFT_CANDIDATE_CAP, ...), so an
    // unrecognized GRAFT_* gets a loud WARNING instead of a hard failure —
    // a typo'd GRAFT_MAP_FIL must not silently fall back
    deprecatedKnobs.foreach { case (old, now) =>
      if (env.contains(old))
        System.err.println(s"[config] WARNING: '$old' is deprecated and has " +
          s"no effect — set '$now' instead")
    }
    val knownEnv = (keys :+ "config").map(envName).toSet ++
      runtimeKnobs ++ deprecatedKnobs.keySet
    env.keys.filter(k => k.startsWith("GRAFT_") && !knownEnv.contains(k))
      .foreach(k => System.err.println(
        s"[config] WARNING: unrecognized environment variable '$k' is " +
          "ignored (known keys: " + keys.mkString(", ") + ")"))

    def get(key: String): Option[String] =
      flags.get(key)
        .orElse(env.get(envName(key)))
        .orElse(fileVals.get(key))
    def str(key: String, d: String): String = get(key).getOrElse(d)
    def opt(key: String): Option[String] = get(key).filter(_.nonEmpty)
    def int(key: String, d: Int): Int = get(key).map(_.toInt).getOrElse(d)
    def bool(key: String, d: Boolean): Boolean =
      get(key).map(_.toBoolean).getOrElse(d)

    val dflt = ProcessConfig()
    ProcessConfig(
      mapFile = str("map_file", dflt.mapFile),
      targetsRoot = str("targets_root", dflt.targetsRoot),
      checkpointRoot = str("checkpoint_root", dflt.checkpointRoot),
      specsFile = opt("specs_file"),
      adminPort = int("admin_port", dflt.adminPort),
      metricsPort = int("metrics_port", dflt.metricsPort),
      jwtKey = opt("jwt_key"),
      master = str("master", dflt.master),
      shufflePartitions = int("shuffle_partitions", dflt.shufflePartitions),
      maxFilesPerTrigger = int("max_files_per_trigger", dflt.maxFilesPerTrigger),
      triggerMs = get("trigger_ms").map(_.toLong).getOrElse(dflt.triggerMs),
      drain = bool("drain", dflt.drain),
      maintenanceIntervalSec = get("maintenance_interval_sec").map(_.toLong)
        .getOrElse(dflt.maintenanceIntervalSec),
      vacuumRetain = int("vacuum_retain", dflt.vacuumRetain),
      compactFileCap = int("compact_file_cap", dflt.compactFileCap),
      // toDouble first: the reference writes these as TOML floats
      syncRate = get("sync_rate").map(_.toDouble.toLong)
        .getOrElse(dflt.syncRate),
      syncBurst = get("sync_burst").map(_.toDouble.toLong)
        .getOrElse(dflt.syncBurst))
  }

  /** TOML settings parser — the subset the reference's shipped config
    * files use (`package/etc/kuvasz/kuvasz-streamer.toml` and the
    * `test/conf` configs):
    * `key = value` lines, `#` comments, basic/literal strings, bare
    * ints/floats/bools, single-line scalar arrays, and `[section]` table
    * headers. Keys under a header come back dotted (`section.key`) — a
    * sectioned file is the reference's shape and goes through
    * [[translateReference]]; a flat file is the engine's native key space
    * (same typo policy as the JSON and flag layers either way). */
  private[config] def parseToml(text: String, path: String): Map[String, String] = {
    def fail(ln: Int, msg: String): Nothing =
      throw new IllegalArgumentException(s"$path:${ln + 1}: $msg")
    val out = Map.newBuilder[String, String]
    var section = ""
    text.linesIterator.zipWithIndex.foreach { case (raw, ln) =>
      val line = raw.trim
      if (line.isEmpty || line.startsWith("#")) ()
      else if (line.startsWith("[")) {
        val end = line.indexOf(']')
        if (end < 2) fail(ln, "malformed table header")
        val name = line.substring(1, end).trim
        if (!name.matches("[A-Za-z0-9_.-]+"))
          fail(ln, s"unsupported table name '$name'")
        val rest = line.substring(end + 1).trim
        if (rest.nonEmpty && !rest.startsWith("#"))
          fail(ln, s"trailing content after table header: '$rest'")
        section = name + "."
      }
      else {
        val eq = line.indexOf('=')
        if (eq < 1) fail(ln, "expected 'key = value'")
        val key = line.substring(0, eq).trim
        if (!key.matches("[A-Za-z0-9_-]+"))
          fail(ln, s"unsupported key syntax '$key'")
        val rhs = line.substring(eq + 1).trim
        val value =
          if (rhs.startsWith("\"")) {
            val sb = new StringBuilder
            var i = 1; var closed = false
            while (i < rhs.length && !closed) rhs.charAt(i) match {
              case '"' => closed = true; i += 1
              case '\\' =>
                if (i + 1 >= rhs.length) fail(ln, "dangling escape")
                rhs.charAt(i + 1) match {
                  case 'n' => sb += '\n'; case 't' => sb += '\t'
                  case 'r' => sb += '\r'; case '"' => sb += '"'
                  case '\\' => sb += '\\'
                  case 'u' =>
                    if (i + 6 > rhs.length) fail(ln, "bad \\u escape")
                    sb += Integer.parseInt(rhs.substring(i + 2, i + 6), 16).toChar
                    i += 4
                  case other => fail(ln, s"unsupported escape '\\$other'")
                }
                i += 2
              case c => sb += c; i += 1
            }
            if (!closed) fail(ln, "unterminated string")
            val rest = rhs.substring(i).trim
            if (rest.nonEmpty && !rest.startsWith("#"))
              fail(ln, s"trailing content after string: '$rest'")
            sb.toString
          } else if (rhs.startsWith("'")) {
            val end = rhs.indexOf('\'', 1)
            if (end < 0) fail(ln, "unterminated literal string")
            val rest = rhs.substring(end + 1).trim
            if (rest.nonEmpty && !rest.startsWith("#"))
              fail(ln, s"trailing content after string: '$rest'")
            rhs.substring(1, end)
          } else if (rhs.startsWith("[")) {
            // single-line scalar array (the reference's cors lists);
            // elements re-parse as quoted strings or bare scalars and
            // come back comma-joined (no engine key is list-valued — the
            // reference keys that are get accepted-and-noted verbatim)
            val end = rhs.lastIndexOf(']')
            if (end < 0) fail(ln, "unterminated array (single-line only)")
            val rest = rhs.substring(end + 1).trim
            if (rest.nonEmpty && !rest.startsWith("#"))
              fail(ln, s"trailing content after array: '$rest'")
            val body = rhs.substring(1, end).trim
            if (body.isEmpty) ""
            else body.split(",").map(_.trim).filter(_.nonEmpty).map { el =>
              if (el.startsWith("\"") || el.startsWith("'")) {
                if (el.length < 2 || el.last != el.head)
                  fail(ln, s"malformed array element '$el'")
                el.substring(1, el.length - 1)
              } else if (el.matches("true|false|[+-]?[0-9_]+([.][0-9_]+)?"))
                el.replace("_", "")
              else fail(ln, s"unsupported array element '$el'")
            }.mkString(",")
          } else {
            val bare = rhs.indexOf('#') match {
              case -1 => rhs
              case h => rhs.substring(0, h).trim
            }
            if (!bare.matches("true|false|[+-]?[0-9_]+([.][0-9_]+)?"))
              fail(ln, s"unsupported value '$bare' (strings must be quoted)")
            bare.replace("_", "")
          }
        out += section + key.replace('-', '_') -> value
      }
    }
    out.result()
  }

  /** Reference settings keys with no engine analog: accepted so the
    * reference's own config file loads VERBATIM, each noted once to stderr
    * (an ignored key must never be silent). `logs.*` and `cors.*` are
    * whole no-analog families (Spark/log4j owns logging; CORS headers are
    * emitted iff jwt auth is on — AdminHttp). */
  private val refNoAnalog: Map[String, String] = Map(
    "server.name" -> "",
    "server.max_goroutines" -> "parallelism comes from --master / --shuffle-partitions",
    "server.read_timeout" -> "", "server.read_header_timeout" -> "",
    "server.write_timeout" -> "", "server.idle_timeout" -> "",
    "server.max_header_bytes" -> "", "server.pprof" -> "",
    "maintenance.pprof" -> "",
    "maintenance.start_delay" -> "periodic maintenance starts with --maintenance-interval-sec",
    "database.url" -> "targets are lake tables under --targets-root",
    "database.origin" -> "", "database.schema" -> "",
    "app.num_workers" -> "parallelism comes from --master / --shuffle-partitions",
    "app.map_database" -> "use --map-file; the config-DB JSON export loads too",
    "app.default_schema" -> "schema-qualified routing lives in the map file")
  private val refNoAnalogPrefixes = Seq("logs.", "cors.")

  /** Translate a reference-shape sectioned settings file (the TOML the
    * reference ships, `streamer/config.go:17-108`) into the engine's flat
    * key space, so `kuvasz-streamer.toml` loads verbatim:
    *
    *   - `app.map_file` -> map_file (the map itself also loads in the
    *     reference's own `map.yaml` shape — MapConfig);
    *   - `auth.jwt_key` -> jwt_key; `server.address` (":8000") ->
    *     admin_port (the reference serves its API on the one server);
    *   - `app.commit_delay` (seconds, float) -> trigger_ms;
    *   - `app.sync_rate` / `app.sync_burst` -> sync_rate / sync_burst
    *     (the full-sync token bucket, Knobs.syncRateRows);
    *   - known no-analog reference keys: accepted with a stderr note;
    *   - anything else fails loudly (same typo policy as every layer).
    *
    * Engine-native flat keys may appear before the first table header and
    * pass through, so a file can carry both. */
  private[config] def translateReference(raw: Map[String, String],
                                         path: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    raw.foreach { case (k, v) =>
      k match {
        case "app.map_file" => out += "map_file" -> v
        case "auth.jwt_key" => if (v.nonEmpty) out += "jwt_key" -> v
        case "app.sync_rate" =>
          out += "sync_rate" -> math.round(v.toDouble).toString
        case "app.sync_burst" =>
          out += "sync_burst" -> math.round(v.toDouble).toString
        case "app.commit_delay" =>
          out += "trigger_ms" -> math.round(v.toDouble * 1000).toString
        case "server.address" =>
          val port = v.substring(v.lastIndexOf(':') + 1)
          if (!port.matches("[0-9]+"))
            throw new IllegalArgumentException(
              s"$path: server.address '$v' has no numeric port")
          out += "admin_port" -> port
          System.err.println("[config] note: server.address maps to the " +
            "admin API port; the Prometheus endpoint is separate " +
            "(--metrics-port)")
        case flat if !flat.contains('.') && keys.contains(flat) =>
          out += flat -> v
        case other if refNoAnalog.contains(other) ||
            refNoAnalogPrefixes.exists(other.startsWith) =>
          val hint = refNoAnalog.getOrElse(other, "")
          System.err.println(s"[config] note: reference key '$other' has " +
            "no engine analog" + (if (hint.nonEmpty) s" — $hint" else ""))
        case other =>
          throw new IllegalArgumentException(
            s"$path: unknown settings key '$other'")
      }
    }
    out.result()
  }

  /** Load target TableSpecs from a specs file — the declarative schema
    * source for targets that do not exist yet (existing lake tables carry
    * their own spec; the admin clone endpoint derives specs from source
    * schemas). Format, one entry per target name:
    * {{{
    * { "transcripts": { "ddl": "conv_id string, turn_idx int, text string",
    *                    "keys": ["conv_id", "turn_idx"],
    *                    "buckets": ["conv_id"],      // default: keys
    *                    "num_buckets": 64,            // default: 16
    *                    "sid": true } }               // default: false
    * }}} */
  def loadSpecs(path: String): Map[String, TableSpec] = {
    val node = mapper.readTree(Files.readString(Paths.get(path)))
    val out = Map.newBuilder[String, TableSpec]
    val it = node.properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      val name = e.getKey
      val v: JsonNode = e.getValue
      def strs(field: String): Seq[String] = {
        val n = v.get(field)
        if (n == null) Nil
        else {
          val b = Seq.newBuilder[String]
          n.forEach(x => b += x.asText())
          b.result()
        }
      }
      val ddl = Option(v.get("ddl")).map(_.asText()).getOrElse(
        throw new IllegalArgumentException(s"spec '$name' needs \"ddl\""))
      val keysCols = strs("keys")
      require(keysCols.nonEmpty, s"spec '$name' needs non-empty \"keys\"")
      val buckets = { val b = strs("buckets"); if (b.isEmpty) keysCols else b }
      val hasSid = Option(v.get("sid")).exists(_.asBoolean())
      val payload = StructType.fromDDL(ddl)
      // sid tables physically store the tenant column; prepend it so the
      // ddl stays the payload shape (the orchestrator stamps the value)
      val schema =
        if (hasSid && !payload.fieldNames.contains("sid"))
          StructType(org.apache.spark.sql.types.StructField("sid",
            org.apache.spark.sql.types.StringType, nullable = true) +: payload.fields)
        else payload
      out += name -> TableSpec(name, schema,
        keyCols = keysCols, bucketCols = buckets,
        numBuckets = Option(v.get("num_buckets")).map(_.asInt()).getOrElse(16),
        hasSid = hasSid)
    }
    out.result()
  }
}
