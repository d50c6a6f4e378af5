package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** Socket tailer — the non-Spark capture process that turns a live
  * PostgreSQL logical-replication connection into the self-contained chunk
  * files [[PgOutput.readChunksStream]] consumes.
  *
  * This is the engine's analog of the reference's replication loop
  * (`/root/reference/streamer/replicate_database.go:105-338`): connect with
  * `replication=database`, `IDENTIFY_SYSTEM`, optionally
  * `CREATE_REPLICATION_SLOT ... LOGICAL pgoutput`, then
  * `START_REPLICATION SLOT ... LOGICAL <lsn> (proto_version, ...)` and a
  * loop over CopyData frames — XLogData ('w') payloads appended to the
  * current chunk, keepalives ('k') answered with standby-status-updates.
  * Everything here speaks the PUBLIC PostgreSQL frontend/backend and
  * streaming-replication protocols (PostgreSQL docs, "Frontend/Backend
  * Protocol" + "Streaming Replication Protocol"); no Spark, no driver — a
  * plain blocking socket loop, deployable beside the cluster.
  *
  * The two properties that make the capture crash-safe:
  *
  *   1. '''Chunks roll only at consistency boundaries''' — never inside a
  *      Begin..Commit run, never inside a StreamStart..StreamStop block,
  *      and never while any streamed in-progress transaction lacks its
  *      StreamCommit/StreamAbort. Each rolled chunk is prefixed with the
  *      Relation-registry snapshot as of its first message, so every chunk
  *      decodes independently ([[PgOutput.decodeChunk]]'s self-containment
  *      contract, which fails loudly on violations).
  *   2. '''The ack is the ENGINE's committed watermark, not the read
  *      position''' (the reference's rule, `worker.go:135-165`: ack only
  *      what the destination has committed). The tailer re-reads the
  *      watermark before every standby-status-update — either from the
  *      target lake table's newest manifest (`--ack-lake <tableRoot>`,
  *      reading the `lsn-high-watermark` property the transactional batch
  *      writer commits) or from a plain file an operator process maintains
  *      (`--ack-file`). On crash-restart the tailer resumes from that
  *      acked LSN; bytes buffered but not yet rolled (or rolled but not
  *      yet committed downstream) are simply re-sent by the server. Copies
  *      that land in one micro-batch fold to one row (clone) or one
  *      version (History); a copy in a later batch is dropped, because
  *      every table floors each batch at its own committed (lsn, seq)
  *      applied watermark (`Replay.aboveApplied`).
  */
object PgTailer {

  final case class Config(
      slot: String,
      publication: String,
      user: String = "postgres",
      database: String = "postgres",
      password: Option[String] = None,
      outDir: Path,
      ackFile: Option[Path] = None,
      ackLake: Option[Path] = None,
      createSlot: Boolean = false,
      protoVersion: Int = 2,
      chunkMaxBytes: Int = 1 << 20,
      statusIntervalMs: Int = 1000)

  /** Result of one tailer session, for logging and tests. */
  final case class SessionResult(identifiedLsn: Long, startLsn: Long,
                                 chunksRolled: Int, lastAckedLsn: Long,
                                 messagesSeen: Long)

  // ---------------------------------------------------------------------
  // LSN + watermark helpers
  // ---------------------------------------------------------------------

  /** PostgreSQL LSN text form: `%X/%X` of (hi32, lo32). */
  def fmtLsn(lsn: Long): String =
    f"${(lsn >>> 32).toInt & 0xffffffffL}%X/${lsn.toInt & 0xffffffffL}%X"

  def parseLsn(s: String): Long = s.trim.split("/") match {
    case Array(hi, lo) =>
      (java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16)
    case Array(dec) => java.lang.Long.parseLong(dec) // plain decimal accepted
    case _ => throw new IllegalArgumentException(s"bad LSN '$s'")
  }

  // shared: ObjectMapper construction is expensive (module scan + caches)
  // and committedWatermark runs every status interval
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The committed watermark to ack: `--ack-lake` reads the newest lake
    * manifest's `lsn-high-watermark` property (the value the engine's
    * transactional writer commits atomically with the data — LakeTable
    * layout `<root>/_meta/v%020d.json`, reader takes max); `--ack-file`
    * reads a plain decimal-or-`X/X` file. Absent/unreadable → None (the
    * session acks 0 = "no information" until the first downstream commit —
    * never a position the downstream has not committed, or the server
    * could reclaim WAL the engine still needs). */
  def committedWatermark(cfg: Config): Option[Long] = {
    def fromLake(root: Path): Option[Long] = {
      val meta = root.resolve("_meta")
      if (!Files.isDirectory(meta)) return None
      val s = Files.list(meta)
      val newest =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(_.getFileName.toString.matches("v\\d{20}\\.json"))
            .toSeq.sortBy(_.getFileName.toString).lastOption
        } finally s.close()
      if (newest.isEmpty) return None
      val json = new String(Files.readAllBytes(newest.get), UTF_8)
      val node = jsonMapper
        .readTree(json).path("properties").path("lsn-high-watermark")
      if (node.isMissingNode) None
      else Option(node.asText()).filter(_ != "-1").map(_.toLong).filter(_ >= 0L)
    }
    def fromFile(p: Path): Option[Long] =
      if (Files.isReadable(p))
        Some(parseLsn(new String(Files.readAllBytes(p), UTF_8)))
      else None
    try cfg.ackLake.flatMap(fromLake).orElse(cfg.ackFile.flatMap(fromFile))
    catch { case _: Exception => None } // torn read mid-commit: keep last ack
  }

  // ---------------------------------------------------------------------
  // Chunk roller — boundary tracking + registry-prefixed atomic writes
  // ---------------------------------------------------------------------

  /** Accumulates pgoutput messages and rolls them into self-contained
    * chunk files. Boundary tracking mirrors [[PgOutput]]'s decoder state:
    * `inTxn` (Begin/Commit), `inStream` (StreamStart/StreamStop) and the
    * set of streamed transactions still awaiting StreamCommit/StreamAbort
    * — a roll is legal only when all three are quiescent, which is exactly
    * the condition under which `decodeChunk` accepts the chunk. */
  final class ChunkRoller(outDir: Path, chunkMaxBytes: Int) {
    Files.createDirectories(outDir)
    private val registry = mutable.LinkedHashMap[Int, Array[Byte]]()
    private var prefix: Seq[Array[Byte]] = Seq.empty // registry at chunk start
    private val buffer = mutable.ArrayBuffer[Array[Byte]]()
    private var bufferedBytes = 0
    private var inTxn = false
    private var inStream = false
    private val openStreams = mutable.LinkedHashSet[Int]()
    // restart never overwrites: continue numbering after existing chunks
    // (re-sent WAL lands in NEW files)
    private var chunkSeq: Int = {
      val s = Files.list(outDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .collect { case n if n.matches("chunk-\\d{8}\\.pgchunk") =>
            n.substring(6, 14).toInt + 1 }
          .foldLeft(0)(math.max)
      } finally s.close()
    }
    var chunksRolled = 0

    private def be32(m: Array[Byte], off: Int): Int =
      ((m(off) & 0xff) << 24) | ((m(off + 1) & 0xff) << 16) |
        ((m(off + 2) & 0xff) << 8) | (m(off + 3) & 0xff)

    /** Strip the v2 in-stream xid prefix so the registry holds the plain
      * form (chunk prefixes are emitted OUTSIDE any transaction). */
    private def stripXid(m: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](m.length - 4)
      out(0) = m(0); System.arraycopy(m, 5, out, 1, m.length - 5); out
    }

    def atSafeBoundary: Boolean = !inTxn && !inStream && openStreams.isEmpty
    /** Buffer holds transaction content (not just standalone Relation
      * registry updates) — a registry-only chunk decodes to zero events
      * and the registry reaches the next chunk via its prefix anyway. */
    private var pendingContent = false

    def feed(msg: Array[Byte]): Unit = {
      if (buffer.isEmpty) prefix = registry.values.toSeq
      msg(0).toChar match {
        case 'B' => inTxn = true
        case 'C' => inTxn = false
        case 'S' => inStream = true; openStreams += be32(msg, 1)
        case 'E' => inStream = false
        case 'c' => openStreams -= be32(msg, 1)
        case 'A' =>
          val xid = be32(msg, 1)
          if (be32(msg, 5) == xid) openStreams -= xid // whole-txn abort
        case 'R' =>
          if (inStream) registry(be32(msg, 5)) = stripXid(msg)
          else registry(be32(msg, 1)) = msg
        case _ => ()
      }
      if (msg(0) != 'R' || inTxn || inStream) pendingContent = true
      buffer += msg
      bufferedBytes += msg.length + 4
      if (atSafeBoundary && pendingContent && bufferedBytes >= chunkMaxBytes)
        roll()
    }

    /** Write `prefix ++ buffer` as one chunk file, atomically (tmp +
      * rename — a reader never lists a torn chunk). */
    private def roll(): Unit = {
      val bytes = PgOutput.Wire.chunk(prefix ++ buffer.toSeq)
      val name = f"chunk-$chunkSeq%08d.pgchunk"
      val tmp = outDir.resolve(s".$name.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, outDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      chunkSeq += 1; chunksRolled += 1
      buffer.clear(); bufferedBytes = 0; pendingContent = false
    }

    /** Graceful stop: roll the remainder if legal; otherwise drop it — the
      * un-acked tail is re-sent by the server on the next session (a
      * registry-only remainder drops silently: the server re-sends
      * Relation metadata per connection anyway). */
    def flush(): Unit =
      if (buffer.nonEmpty && pendingContent) {
        if (atSafeBoundary) roll()
        else System.err.println(s"[pgtailer] dropping ${buffer.size} " +
          "message(s) buffered mid-transaction at shutdown (server " +
          "re-sends from the acked LSN)")
      }
  }

  // ---------------------------------------------------------------------
  // Frontend/backend protocol primitives
  // ---------------------------------------------------------------------

  /** One backend message: tag + payload (length prefix stripped). */
  final case class Msg(tag: Char, body: Array[Byte])

  /** Read exactly `buf.length - off` more bytes, retrying across
    * SO_TIMEOUTs. A timeout MID-message is not idle — part of the frame
    * was already consumed, and abandoning it would desynchronize the byte
    * stream (the next read would parse payload bytes as a message tag).
    * `InputStream.read` consumes nothing when it times out, so retrying
    * here is safe; a server stalled longer than its own wal_sender_timeout
    * drops the connection, which surfaces as EOF → the reconnect path. */
  private def readPatient(in: DataInputStream, buf: Array[Byte]): Unit = {
    var off = 0
    while (off < buf.length) {
      val n =
        try in.read(buf, off, buf.length - off)
        catch { case _: SocketTimeoutException => 0 }
      if (n < 0) throw new EOFException("server closed connection mid-message")
      off += n
    }
  }

  /** One message, or None on an SO_TIMEOUT at the TAG byte — the only
    * position where a timeout means "idle at a message boundary". */
  private def tryReadMsg(in: DataInputStream): Option[Msg] = {
    val tag =
      try in.read()
      catch { case _: SocketTimeoutException => return None }
    if (tag < 0) throw new EOFException("server closed connection")
    val lenBuf = new Array[Byte](4)
    readPatient(in, lenBuf)
    val len = ((lenBuf(0) & 0xff) << 24) | ((lenBuf(1) & 0xff) << 16) |
      ((lenBuf(2) & 0xff) << 8) | (lenBuf(3) & 0xff)
    val body = new Array[Byte](len - 4)
    readPatient(in, body)
    Some(Msg(tag.toChar, body))
  }

  /** Blocking variant for the handshake phases, where no status loop runs
    * between messages: waits across boundary timeouts too. */
  private def readMsg(in: DataInputStream): Msg = {
    var m = tryReadMsg(in)
    while (m.isEmpty) m = tryReadMsg(in)
    m.get
  }

  private def cstr(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8); java.util.Arrays.copyOf(b, b.length + 1)
  }

  private def writeMsg(out: DataOutputStream, tag: Char, body: Array[Byte]): Unit = {
    out.write(tag); out.writeInt(body.length + 4); out.write(body); out.flush()
  }

  private def sendStartup(out: DataOutputStream, cfg: Config): Unit = {
    val b = new java.io.ByteArrayOutputStream()
    val params = Seq("user" -> cfg.user, "database" -> cfg.database,
      "replication" -> "database", "application_name" -> s"graft_${cfg.slot}")
    params.foreach { case (k, v) => b.write(cstr(k)); b.write(cstr(v)) }
    b.write(0)
    val body = b.toByteArray
    out.writeInt(body.length + 8); out.writeInt(196608) // protocol 3.0
    out.write(body); out.flush()
  }

  private def sendQuery(out: DataOutputStream, sql: String): Unit =
    writeMsg(out, 'Q', cstr(sql))

  private def errorText(body: Array[Byte]): String = {
    // ErrorResponse: repeated (field-code byte + cstring), NUL-terminated
    val fields = mutable.Map[Char, String]()
    var i = 0
    while (i < body.length && body(i) != 0) {
      val code = body(i).toChar
      val end = body.indexOf(0.toByte, i + 1)
      fields(code) = new String(body, i + 1, end - i - 1, UTF_8)
      i = end + 1
    }
    s"${fields.getOrElse('S', "ERROR")}: ${fields.getOrElse('M', "(no message)")}"
  }

  /** Consume the post-startup message flow through ReadyForQuery, handling
    * AuthenticationOk / cleartext-password (trust and password auth — the
    * modes a capture deployment uses; SCRAM would need a SASL exchange and
    * fails loudly here rather than silently hanging). */
  private def awaitReady(in: DataInputStream, out: DataOutputStream,
                         cfg: Config): Unit = {
    var ready = false
    while (!ready) readMsg(in) match {
      case Msg('R', body) =>
        java.nio.ByteBuffer.wrap(body).getInt match {
          case 0 => // AuthenticationOk
          case 3 => writeMsg(out, 'p', cstr(cfg.password.getOrElse(
            throw new IllegalStateException("server requires a password; none configured"))))
          case m => throw new IllegalStateException(
            s"unsupported authentication method $m (trust or cleartext only)")
        }
      case Msg('Z', _) => ready = true
      case Msg('E', body) => throw new IllegalStateException(errorText(body))
      case _ => () // ParameterStatus / BackendKeyData / NoticeResponse
    }
  }

  /** Run one simple query, returning the FIRST data row as columnName ->
    * value (IDENTIFY_SYSTEM / CREATE_REPLICATION_SLOT both answer with a
    * single row). Reads through ReadyForQuery. */
  private def simpleQuery(in: DataInputStream, out: DataOutputStream,
                          sql: String): Map[String, String] = {
    sendQuery(out, sql)
    var cols: Seq[String] = Seq.empty
    var row: Map[String, String] = Map.empty
    var ready = false
    while (!ready) readMsg(in) match {
      case Msg('T', body) => // RowDescription
        val b = java.nio.ByteBuffer.wrap(body)
        cols = (0 until b.getShort().toInt).map { _ =>
          val sb = new java.io.ByteArrayOutputStream()
          var c = b.get(); while (c != 0) { sb.write(c.toInt); c = b.get() }
          b.getInt(); b.getShort(); b.getInt(); b.getShort(); b.getInt(); b.getShort()
          sb.toString("UTF-8")
        }
      case Msg('D', body) if row.isEmpty => // DataRow (first only)
        val b = java.nio.ByteBuffer.wrap(body)
        row = (0 until b.getShort().toInt).map { i =>
          val len = b.getInt()
          val v = if (len < 0) null else {
            val a = new Array[Byte](len); b.get(a); new String(a, UTF_8)
          }
          cols(i) -> v
        }.toMap
      case Msg('Z', _) => ready = true
      case Msg('E', body) => throw new IllegalStateException(errorText(body))
      case _ => () // CommandComplete / NoticeResponse / extra rows
    }
    row
  }

  /** Standby status update: CopyData('r', write/flush/apply LSNs, client
    * time in micros since 2000-01-01, no reply requested) — all three
    * positions the acked (committed) LSN, like the reference
    * (`replicate_database.go:275-283`). */
  private def sendStatus(out: DataOutputStream, ack: Long): Unit = {
    val b = java.nio.ByteBuffer.allocate(34)
    b.put('r'.toByte).putLong(ack).putLong(ack).putLong(ack)
      .putLong((System.currentTimeMillis() - 946684800000L) * 1000L).put(0.toByte)
    writeMsg(out, 'd', b.array())
  }

  // ---------------------------------------------------------------------
  // Session
  // ---------------------------------------------------------------------

  /** pgoutput plugin arguments, mirroring the reference's version switch
    * (`replicate_database.go:20-41`): proto v1 everywhere, v2 + streaming
    * on modern servers. */
  def pluginArgs(cfg: Config): String = {
    val base = Seq(s"proto_version '${cfg.protoVersion}'",
      s"publication_names '${cfg.publication}'")
    val v2 = if (cfg.protoVersion >= 2)
      Seq("binary 'false'", "messages 'true'", "streaming 'true'") else Seq.empty
    (base ++ v2).mkString(", ")
  }

  /** Drive one replication session over an already-connected socket until
    * the server closes it (or `socket.close()` from another thread — the
    * graceful-stop path). Blocking; returns per-session stats. */
  def run(socket: Socket, cfg: Config): SessionResult = {
    socket.setSoTimeout(cfg.statusIntervalMs)
    val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
    sendStartup(out, cfg)
    awaitReady(in, out, cfg)
    val ident = simpleQuery(in, out, "IDENTIFY_SYSTEM")
    val xlogpos = parseLsn(ident("xlogpos"))
    if (cfg.createSlot)
      simpleQuery(in, out,
        s"CREATE_REPLICATION_SLOT ${cfg.slot} LOGICAL pgoutput")
    // resume from the committed watermark when one exists; else LSN 0/0,
    // which the server resolves to the SLOT's confirmed_flush position.
    // Never the current xlogpos: on a reconnect with nothing committed
    // downstream yet, starting at "now" would silently skip every
    // transaction streamed (but not yet applied) before the drop
    val startLsn = committedWatermark(cfg).getOrElse(0L)
    sendQuery(out,
      s"START_REPLICATION SLOT ${cfg.slot} LOGICAL ${fmtLsn(startLsn)} (${pluginArgs(cfg)})")
    var started = false
    while (!started) readMsg(in) match {
      case Msg('W', _) => started = true // CopyBothResponse
      case Msg('E', body) => throw new IllegalStateException(errorText(body))
      case _ => ()
    }
    val roller = new ChunkRoller(cfg.outDir, cfg.chunkMaxBytes)
    var lastAcked = startLsn
    var messages = 0L
    def status(): Unit = {
      val ack = committedWatermark(cfg).getOrElse(startLsn)
      sendStatus(out, ack); lastAcked = ack
    }
    status()
    var nextStatusAt = System.nanoTime() + cfg.statusIntervalMs * 1000000L
    try {
      var done = false
      while (!done) {
        if (System.nanoTime() >= nextStatusAt) {
          status()
          nextStatusAt = System.nanoTime() + cfg.statusIntervalMs * 1000000L
        }
        val msg = tryReadMsg(in) // None = idle at a message boundary
        msg.foreach {
          case Msg('d', body) => body(0).toChar match {
            case 'w' => // XLogData: walStart(8) walEnd(8) serverTime(8) payload
              roller.feed(java.util.Arrays.copyOfRange(body, 25, body.length))
              messages += 1
            case 'k' => // keepalive: walEnd(8) serverTime(8) replyRequested(1)
              if (body(17) == 1) status()
            case _ => ()
          }
          case Msg('c', _) | Msg('Z', _) => done = true // CopyDone / end
          case Msg('E', body) => throw new IllegalStateException(errorText(body))
          case _ => ()
        }
      }
    } catch {
      case _: EOFException => () // server (or stop()) closed the socket
      case e: java.net.SocketException if !socket.isConnected || socket.isClosed => ()
    } finally {
      roller.flush()
      try socket.close() catch { case _: Exception => () }
    }
    SessionResult(xlogpos, startLsn, roller.chunksRolled, lastAcked, messages)
  }

  def main(args: Array[String]): Unit = {
    def usage(): Nothing = {
      System.err.println(
        "usage: PgTailer --host H --port P --slot S --publication PUB --out DIR " +
          "[--db NAME] [--user U] [--password PW] [--ack-lake TABLE_ROOT | " +
          "--ack-file F] [--create-slot] [--proto 1|2] [--chunk-bytes N] " +
          "[--status-interval-ms N]")
      sys.exit(2)
    }
    val m = mutable.Map[String, String]()
    val flags = mutable.Set[String]()
    var i = 0
    while (i < args.length) args(i) match {
      case "--create-slot" => flags += "create-slot"; i += 1
      case k if k.startsWith("--") && i + 1 < args.length =>
        m(k.drop(2)) = args(i + 1); i += 2
      case _ => usage()
    }
    if (!Seq("host", "port", "slot", "publication", "out").forall(m.contains)) usage()
    val cfg = Config(
      slot = m("slot"), publication = m("publication"),
      user = m.getOrElse("user", "postgres"),
      database = m.getOrElse("db", "postgres"),
      password = m.get("password"),
      outDir = java.nio.file.Paths.get(m("out")),
      ackFile = m.get("ack-file").map(java.nio.file.Paths.get(_)),
      ackLake = m.get("ack-lake").map(java.nio.file.Paths.get(_)),
      createSlot = flags("create-slot"),
      protoVersion = m.getOrElse("proto", "2").toInt,
      chunkMaxBytes = m.getOrElse("chunk-bytes", (1 << 20).toString).toInt,
      statusIntervalMs = m.getOrElse("status-interval-ms", "1000").toInt)
    // ONE shutdown hook closing whatever socket is live — registering a
    // hook per reconnect iteration would leak an unstarted Thread per
    // 2-second retry, unbounded while the server is down
    val liveSocket = new java.util.concurrent.atomic.AtomicReference[Socket]()
    sys.addShutdownHook(
      Option(liveSocket.get()).foreach(s => try s.close() catch { case _: Exception => () }))
    while (true) {
      val socket = new Socket(m("host"), m("port").toInt)
      liveSocket.set(socket)
      try {
        val r = run(socket, cfg)
        System.err.println(s"[pgtailer] session ended: ${r.chunksRolled} " +
          s"chunk(s), ${r.messagesSeen} message(s), acked ${fmtLsn(r.lastAckedLsn)}")
      } catch {
        case e: Exception =>
          System.err.println(s"[pgtailer] session failed: ${e.getMessage}")
      }
      Thread.sleep(2000) // reconnect backoff; resume from the acked LSN
    }
  }
}
