package graft.sources

import graft.model.ChangeEvent
import org.apache.spark.sql.{Dataset, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.{ByteBuffer, ByteOrder}

/** pgoutput wire decoder — the production-parity half of the stream source.
  *
  * The reference opens a `replication=database` connection and consumes
  * pgoutput frames row-at-a-time (`/root/reference/streamer/
  * replicate_database.go:105-338`: XLogData / keepalive dispatch, then
  * Begin/Commit/Relation/Insert/Update/Delete/Truncate handling). This is
  * the Spark-side analog, split the way a distributed engine needs it:
  *
  *   1. [[PgOutput.decodeChunk]] — a PURE byte decoder from the PUBLIC
  *      pgoutput message format (PostgreSQL docs, "Logical Streaming
  *      Replication Protocol" + "Protocol Message Formats") to the engine's
  *      [[ChangeEvent]] rows. Text-mode tuple values only (the reference
  *      likewise decodes text-format columns, `process_message.go:33-44`);
  *      unchanged-TOAST columns ('u') are simply ABSENT from the value map
  *      — exactly the absence the merge's TOAST coalescing keys on.
  *   2. The CHUNK CONTRACT that makes frames replayable without a socket:
  *      a lightweight reader process (or test) tails the replication
  *      connection and rolls XLogData payloads into chunk files, each
  *      chunk PREFIXED with a snapshot of the current Relation registry
  *      (pgoutput sends Relation metadata once per connection, not per
  *      chunk — re-emitting it per chunk makes every chunk self-contained,
  *      so chunks can be decoded independently, in parallel, and replayed
  *      from any point, which is what checkpoint-resume needs).
  *   3. [[PgOutput.readChunks]] — chunk files -> `Dataset[ChangeEvent]`
  *      via binaryFile + a per-file flatMap (one chunk = one ordered frame
  *      run, so the per-chunk decode is sequential by construction while
  *      chunks decode in parallel). Swap the batch read for `readStream`
  *      + the same flatMap and the engine's whole apply path — routing,
  *      fold, merge, exactly-once epoch — runs unchanged on a live tail:
  *      the checkpoint plays the slot ack exactly as with the parquet
  *      event log (CdcStream class doc).
  *
  * LSN/seq mapping: each DML row gets `lsn` = the transaction's final LSN
  * (from Begin, `replicate_database.go` uses the commit position as the
  * ack watermark) and `seq` = its 0-based position within the transaction
  * — matching the engine's (lsn, seq) ordering contract (Replay.eventOrdCol).
  *
  * Chunk layout (little framing, big-endian ints like the wire):
  *   repeated records: [len: int32][payload: len bytes]
  * where each payload is one pgoutput message exactly as it arrived in
  * XLogData (the reader strips the XLogData/keepalive envelope — keepalives
  * carry no data and are dropped at the socket).
  */
object PgOutput {

  /** Relation metadata as decoded from an 'R' message. */
  final case class Relation(id: Int, name: String, replicaIdentity: Char,
                            columns: Seq[String], typeOids: Seq[Int])

  /** Common pg type OIDs -> the engine's DDL type names (Replay.parseType
    * vocabulary); unknown OIDs decode as text, like the reference's
    * fallback codec. */
  private val typeNames: Map[Int, String] = Map(
    16 -> "boolean", 17 -> "bytea", 20 -> "bigint", 21 -> "smallint",
    23 -> "int", 25 -> "text", 700 -> "float", 701 -> "double",
    1042 -> "text", 1043 -> "varchar", 1082 -> "date",
    1114 -> "timestamp", 1184 -> "timestamptz")

  def typeNameOf(oid: Int): String = typeNames.getOrElse(oid, "text")

  private def cstring(b: ByteBuffer): String = {
    // NUL-terminated UTF-8 (appending signed bytes via toChar would garble
    // any multi-byte identifier — a table named 'café' would then never
    // match its mapping and silently drop every event)
    val out = new java.io.ByteArrayOutputStream()
    var c = b.get()
    while (c != 0) { out.write(c.toInt); c = b.get() }
    out.toString(UTF_8)
  }

  /** TupleData: ncols(int16), then per column a kind byte —
    * 'n' NULL, 'u' unchanged TOAST (absent from the map), 't' text value
    * (len int32 + bytes). Returns name -> value for present columns;
    * genuine NULLs map to null values (the engine's value-map convention:
    * present-with-null != absent). */
  private def tuple(b: ByteBuffer, cols: Seq[String]): Map[String, String] = {
    val n = b.getShort().toInt
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < n) {
      b.get().toChar match {
        case 'n' => out += cols(i) -> null
        case 'u' => // unchanged TOAST: absent — merge keeps the target value
        case 't' =>
          val len = b.getInt()
          val bytes = new Array[Byte](len)
          b.get(bytes)
          out += cols(i) -> new String(bytes, UTF_8)
        case k => throw new IllegalArgumentException(s"tuple kind '$k'")
      }
      i += 1
    }
    out.result()
  }

  /** Decoder state across the messages of one chunk. */
  private final class State {
    val relations = scala.collection.mutable.Map[Int, Relation]()
    var txnLsn: Long = 0L
    var seq: Int = 0
    /** Inside a Begin..Commit frame run. Relation messages OUTSIDE any
      * transaction are the chunk writer's registry prefix: they update the
      * decoder registry but emit NO engine event (their position carries no
      * wire ordering — stamping them (0, seq) would repeat identical ords
      * in every chunk and any positive applied watermark would filter
      * them). */
    var inTxn: Boolean = false
    /** Inside a StreamStart..StreamStop block (protocol v2: in-progress
      * transactions stream in interleavable blocks; DML/Relation/Truncate/
      * Type/Message frames carry an xid prefix while streamed). */
    var inStream: Boolean = false
    /** Top-level xid of the current stream block (StreamStart's xid). */
    var streamTop: Int = 0
    /** Buffered changes of in-progress streamed transactions, keyed by the
      * TOP-LEVEL xid; each entry keeps the FRAME's xid (the immediate
      * subtransaction that produced the change) so StreamAbort(top, sub)
      * can truncate from the subtransaction's first change — the same
      * discipline as the PG apply worker's subxact offsets. Events are
      * buffered with placeholder (lsn=0, seq=0): the final position is
      * unknowable until StreamCommit supplies the commit LSN. */
    val streams = scala.collection.mutable.LinkedHashMap[
      Int, scala.collection.mutable.ArrayBuffer[(Int, ChangeEvent)]]()
  }

  /** Hard ceiling on per-transaction event count: the engine's ord packing
    * ((lsn << 20) | (seq << 1) | sub, Replay.normalizeDF) carries seq in 19
    * bits; overflowing would bleed into the lsn field and silently corrupt
    * ordering AND the applied-ord watermark — fail loudly instead (a
    * transaction this large must be chunked upstream). */
  private val SeqMax = (1 << 19) - 1

  /** Decode one pgoutput message; returns the engine events it yields, if
    * any. Begin/Commit/Origin/Message/Type frames only move decoder state;
    * protocol-v2 stream frames (StreamStart 'S' / StreamStop 'E' /
    * StreamCommit 'c' / StreamAbort 'A', requested by the reference on
    * PG >= 14 via `replicate_database.go:20-41` and parsed in
    * `process_message.go:168-180`) buffer in-progress transactions and
    * release them — in commit order, at the commit LSN — or discard them
    * on abort. */
  private def message(payload: Array[Byte], sid: String,
                      st: State): Seq[ChangeEvent] = {
    val b = ByteBuffer.wrap(payload).order(ByteOrder.BIG_ENDIAN)
    def rel(id: Int): Relation = st.relations.getOrElse(id,
      throw new IllegalStateException(
        s"DML for unknown relation $id — chunk not self-contained " +
          "(writer must prefix each chunk with the Relation registry)"))
    def nextSeq(): Int = {
      val s = st.seq
      if (s >= SeqMax)
        throw new IllegalArgumentException(
          s"transaction at lsn ${st.txnLsn} exceeds $SeqMax events — " +
            "seq would overflow the engine's 19-bit ord field")
      st.seq += 1
      s
    }
    val tag = b.get().toChar
    tag match {
      case 'B' => // Begin: finalLSN(8) ts(8) xid(4)
        st.txnLsn = b.getLong(); st.seq = 0; st.inTxn = true; Nil
      case 'C' => // Commit: flags(1) commitLSN(8) endLSN(8) ts(8)
        st.inTxn = false; Nil

      // ---- protocol v2: streamed in-progress transactions ----
      case 'S' => // StreamStart: xid(4) first-segment(1)
        val xid = b.getInt()
        b.get()
        st.inStream = true
        st.streamTop = xid
        st.streams.getOrElseUpdate(xid,
          scala.collection.mutable.ArrayBuffer.empty)
        Nil
      case 'E' => // StreamStop: no content
        st.inStream = false; Nil
      case 'c' => // StreamCommit: xid(4) flags(1) commitLSN(8) endLSN(8) ts(8)
        val xid = b.getInt()
        b.get(); val commitLsn = b.getLong(); b.getLong(); b.getLong()
        // an unknown xid is an EMPTY streamed txn (all blocks aborted away)
        val buf = st.streams.remove(xid).getOrElse(
          scala.collection.mutable.ArrayBuffer.empty)
        if (buf.length > SeqMax)
          throw new IllegalArgumentException(
            s"streamed transaction $xid carries ${buf.length} events — " +
              "seq would overflow the engine's 19-bit ord field")
        buf.toSeq.zipWithIndex.map { case ((_, ev), i) =>
          ev.copy(lsn = commitLsn, seq = i)
        }
      case 'A' => // StreamAbort: xid(4) subxid(4)
        val xid = b.getInt()
        val sub = b.getInt()
        if (sub == xid) st.streams.remove(xid) // whole txn rolled back
        else st.streams.get(xid).foreach { buf =>
          // subtransaction abort: its changes are the buffered tail from
          // its first frame onward (stream order is WAL order and the
          // abort record closes the subxact) — truncate exactly there,
          // like the PG apply worker's subxact-offset truncation
          val at = buf.indexWhere(_._1 == sub)
          if (at >= 0) buf.remove(at, buf.length - at)
        }
        Nil

      // Origin ('O') / logical-decoding Message ('M') / Type ('Y', sent
      // for custom/extension-typed columns before their Relation): no
      // engine event — parsed-and-skipped (their v2 in-stream xid prefix
      // is skipped with the rest of the body), never a decode failure
      case 'O' | 'M' | 'Y' => Nil

      case 'R' | 'I' | 'U' | 'D' | 'T' =>
        // v2: while a stream block is open, content frames carry the xid
        // of the (sub)transaction that produced them right after the type
        val frameXid = if (st.inStream) b.getInt() else 0
        val bare: Seq[ChangeEvent] = tag match {
          case 'R' => // Relation
            val id = b.getInt()
            val ns = cstring(b)
            val name = cstring(b)
            val replIdent = b.get().toChar
            val ncols = b.getShort().toInt
            val cols = (0 until ncols).map { _ =>
              b.get() // per-column flags (1 = part of key)
              val cname = cstring(b)
              val typeOid = b.getInt()
              b.getInt() // typmod
              (cname, typeOid)
            }
            val full = if (ns == "public" || ns.isEmpty) name else s"$ns.$name"
            st.relations(id) = Relation(id, full, replIdent,
              cols.map(_._1), cols.map(_._2))
            if (!st.inTxn && !st.inStream) Nil // registry prefix: state only
            else
              // surface as the engine's 'R' event: column -> type-name map,
              // the shape Replay.evolveSchema consumes (evolve-before-merge)
              Seq(ChangeEvent(0L, 0, "R", full, sid, "none", Map.empty,
                cols.map { case (c, o) => c -> typeNameOf(o) }.toMap))
          case 'I' => // Insert: relid(4) 'N' tuple
            val r = rel(b.getInt())
            require(b.get().toChar == 'N')
            Seq(ChangeEvent(0L, 0, "I", r.name, sid, "none",
              Map.empty, tuple(b, r.columns)))
          case 'U' => // Update: relid(4) ['K'|'O' oldtuple] 'N' newtuple
            val r = rel(b.getInt())
            var oldKind = "none"
            var before = Map.empty[String, String]
            var t = b.get().toChar
            if (t == 'K' || t == 'O') {
              oldKind = if (t == 'K') "K" else "O"
              before = tuple(b, r.columns)
              t = b.get().toChar
            }
            require(t == 'N', s"update tag '$t'")
            Seq(ChangeEvent(0L, 0, "U", r.name, sid, oldKind,
              before, tuple(b, r.columns)))
          case 'D' => // Delete: relid(4) 'K'|'O' oldtuple
            val r = rel(b.getInt())
            val t = b.get().toChar
            require(t == 'K' || t == 'O', s"delete tag '$t'")
            Seq(ChangeEvent(0L, 0, "D", r.name, sid,
              if (t == 'K') "K" else "O", tuple(b, r.columns), Map.empty))
          case 'T' => // Truncate: nrel(4) options(1) relids — one event PER
            // relation (a TRUNCATE a, b CASCADE names them all; collapsing
            // to the first would lose the rest's identity) — parsed, W8
            // no-op
            val n = b.getInt()
            b.get()
            (0 until n).map { _ =>
              ChangeEvent(0L, 0, "T", rel(b.getInt()).name, sid,
                "none", Map.empty, Map.empty)
            }
        }
        if (st.inStream) {
          // in-progress transaction: park under the block's TOP-LEVEL xid
          // with the frame's own xid for subxact-abort truncation; the
          // commit LSN stamps them on StreamCommit
          st.streams(st.streamTop) ++= bare.map((frameXid, _))
          Nil
        } else bare.map(ev => ev.copy(lsn = st.txnLsn, seq = nextSeq()))

      case m => throw new IllegalArgumentException(s"pgoutput message '$m'")
    }
  }

  /** Decode one self-contained chunk (length-prefixed pgoutput messages)
    * into engine events, in order. Pure — no Spark, no IO. */
  def decodeChunk(chunk: Array[Byte], sid: String): Seq[ChangeEvent] = {
    val b = ByteBuffer.wrap(chunk).order(ByteOrder.BIG_ENDIAN)
    val st = new State
    val out = Seq.newBuilder[ChangeEvent]
    while (b.remaining() >= 4) {
      val len = b.getInt()
      val payload = new Array[Byte](len)
      b.get(payload)
      out ++= message(payload, sid, st)
    }
    // self-containment (the property that lets chunks decode independently
    // and in parallel) extends to streamed transactions: a chunk must
    // carry each streamed txn through its StreamCommit/StreamAbort, or its
    // buffered changes would be silently dropped here and double-decoded
    // nowhere — fail loudly at the writer's door instead
    if (st.streams.nonEmpty)
      throw new IllegalStateException(
        s"chunk ended with in-progress streamed transaction(s) xid=" +
          st.streams.keys.mkString(",") +
          " — writer must roll chunks at stream-commit/abort boundaries")
    out.result()
  }

  /** Chunk files -> Dataset[ChangeEvent]: each file decodes independently
    * (self-contained chunks), files decode in parallel. Batch form shown;
    * the streaming form is the same flatMap over
    * `spark.readStream.format("binaryFile")` — the engine's apply path is
    * identical from here on (CdcStream routes the Dataset exactly like the
    * parquet event log). */
  def readChunks(spark: SparkSession, glob: String, sid: String): Dataset[ChangeEvent] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(glob)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (_, bytes) => decodeChunk(bytes, sid) }
  }

  /** Streaming twin of [[readChunks]] for CdcStream: the binaryFile file
    * source enumerates chunk files exactly like the parquet event log
    * (checkpoint offset = files consumed = the slot ack), each file decodes
    * as one self-contained unit, and maxFilesPerTrigger is the same
    * batching knob.
    *
    * The sid is REQUIRED: it is config data, not wire data (the reference
    * assigns it per source URL, `map.go:17-43`). The orchestrated path
    * re-stamps it per route (`CdcStream.Route.sidOverride`), so it passes
    * the route sid here as a harmless placeholder; a direct caller passing
    * "" into a sid-bearing target would silently ingest empty-tenant rows,
    * hence the loud warning. */
  def readChunksStream(spark: SparkSession, glob: String, sid: String,
                       maxFilesPerTrigger: Int = 1): Dataset[ChangeEvent] = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    if (sid.isEmpty)
      System.err.println("[pgoutput] WARNING: readChunksStream with an " +
        s"empty sid over '$glob' — rows will carry sid='' unless every " +
        "route re-stamps it (CdcStream.Route.sidOverride)")
    // binaryFile's fixed schema, spelled out: the streaming source requires
    // an explicit schema (no inference pass over existing files)
    val binarySchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(glob)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (_, bytes) => decodeChunk(bytes, sid) }
  }

  // ---------------------------------------------------------------------
  // Wire writer — the test/tooling half: builds byte-exact pgoutput
  // messages (the same layout Postgres emits), so the decoder is exercised
  // against real wire bytes without a server. Also what a capture tool
  // would use to re-frame a socket tail into self-contained chunks.
  // ---------------------------------------------------------------------
  object Wire {
    private def buf(): java.io.ByteArrayOutputStream = new java.io.ByteArrayOutputStream()
    private def be16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write((v >> 8) & 0xff); o.write(v & 0xff)
    }
    private def be32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write((v >> 24) & 0xff); o.write((v >> 16) & 0xff)
      o.write((v >> 8) & 0xff); o.write(v & 0xff)
    }
    private def be64(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      be32(o, (v >> 32).toInt); be32(o, v.toInt)
    }
    private def cstr(o: java.io.ByteArrayOutputStream, s: String): Unit = {
      o.write(s.getBytes(UTF_8)); o.write(0)
    }
    private def tup(o: java.io.ByteArrayOutputStream,
                    vals: Seq[Option[String]], toastAbsent: Set[Int] = Set.empty): Unit = {
      be16(o, vals.size)
      vals.zipWithIndex.foreach {
        case (_, i) if toastAbsent(i) => o.write('u')
        case (None, _) => o.write('n')
        case (Some(v), _) =>
          o.write('t')
          val bs = v.getBytes(UTF_8)
          be32(o, bs.length); o.write(bs)
      }
    }

    def begin(finalLsn: Long, xid: Int): Array[Byte] = {
      val o = buf(); o.write('B'); be64(o, finalLsn); be64(o, 0L); be32(o, xid)
      o.toByteArray
    }
    def commit(lsn: Long): Array[Byte] = {
      val o = buf(); o.write('C'); o.write(0); be64(o, lsn); be64(o, lsn)
      be64(o, 0L); o.toByteArray
    }
    def relation(id: Int, ns: String, name: String,
                 cols: Seq[(String, Int)], replIdent: Char = 'd'): Array[Byte] = {
      val o = buf(); o.write('R'); be32(o, id); cstr(o, ns); cstr(o, name)
      o.write(replIdent); be16(o, cols.size)
      cols.foreach { case (c, oid) =>
        o.write(1); cstr(o, c); be32(o, oid); be32(o, -1)
      }
      o.toByteArray
    }
    def insert(relId: Int, vals: Seq[Option[String]]): Array[Byte] = {
      val o = buf(); o.write('I'); be32(o, relId); o.write('N'); tup(o, vals)
      o.toByteArray
    }
    def update(relId: Int, vals: Seq[Option[String]],
               oldKey: Option[(Char, Seq[Option[String]])] = None,
               toastAbsent: Set[Int] = Set.empty): Array[Byte] = {
      val o = buf(); o.write('U'); be32(o, relId)
      oldKey.foreach { case (k, ov) => o.write(k); tup(o, ov) }
      o.write('N'); tup(o, vals, toastAbsent)
      o.toByteArray
    }
    def delete(relId: Int, kind: Char, oldVals: Seq[Option[String]]): Array[Byte] = {
      val o = buf(); o.write('D'); be32(o, relId); o.write(kind)
      tup(o, oldVals); o.toByteArray
    }
    def truncate(relIds: Seq[Int]): Array[Byte] = {
      val o = buf(); o.write('T'); be32(o, relIds.size); o.write(0)
      relIds.foreach(be32(o, _)); o.toByteArray
    }
    /** Type message ('Y'): sent before Relation for custom/extension-typed
      * columns — the decoder must skip it, never fail on it. */
    def typeMsg(oid: Int, ns: String, name: String): Array[Byte] = {
      val o = buf(); o.write('Y'); be32(o, oid); cstr(o, ns); cstr(o, name)
      o.toByteArray
    }

    // ---- protocol v2: streamed in-progress transactions ----

    /** StreamStart ('S'): xid(4) first-segment(1). */
    def streamStart(xid: Int, first: Boolean = true): Array[Byte] = {
      val o = buf(); o.write('S'); be32(o, xid); o.write(if (first) 1 else 0)
      o.toByteArray
    }
    /** StreamStop ('E'): no content. */
    def streamStop(): Array[Byte] = {
      val o = buf(); o.write('E'); o.toByteArray
    }
    /** StreamCommit ('c'): xid(4) flags(1) commitLSN(8) endLSN(8) ts(8). */
    def streamCommit(xid: Int, lsn: Long): Array[Byte] = {
      val o = buf(); o.write('c'); be32(o, xid); o.write(0)
      be64(o, lsn); be64(o, lsn); be64(o, 0L); o.toByteArray
    }
    /** StreamAbort ('A'): xid(4) subxid(4) — subxid == xid aborts the whole
      * transaction; otherwise just the named subtransaction's changes. */
    def streamAbort(xid: Int, subXid: Int): Array[Byte] = {
      val o = buf(); o.write('A'); be32(o, xid); be32(o, subXid)
      o.toByteArray
    }
    /** Add the v2 in-stream xid prefix to a content message (Relation /
      * Type / Insert / Update / Delete / Truncate / Message built by the
      * plain builders above): type byte, then xid(4), then the body —
      * exactly how the wire carries them between StreamStart/StreamStop. */
    def streamed(xid: Int, msg: Array[Byte]): Array[Byte] = {
      val o = buf(); o.write(msg(0)); be32(o, xid)
      o.write(msg, 1, msg.length - 1); o.toByteArray
    }

    /** Frame messages into one self-contained chunk (length-prefixed). */
    def chunk(messages: Seq[Array[Byte]]): Array[Byte] = {
      val o = buf()
      messages.foreach { m => be32(o, m.length); o.write(m) }
      o.toByteArray
    }
  }
}
