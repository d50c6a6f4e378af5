package graft.model

import org.apache.spark.sql.types._

/** One logical-replication change event, mirroring the reference's
  * `operation` struct (kuvasz-streamer `streamer/process_message.go:16-31`):
  * op code, source table, sid, LSN — plus `seq` as the intra-transaction
  * arrival-order tiebreaker that the reference keeps implicitly by applying
  * ops of one transaction in order on a single worker
  * (`streamer/worker.go:106-108`).
  *
  * `before`/`after` are text-keyed maps in Postgres text format, mirroring
  * pgoutput text decoding (`streamer/process_message.go:59-80`):
  *   - key absent        = column not present in the tuple
  *                         (unchanged-TOAST, `process_message.go:67-72`)
  *   - key -> null       = genuine SQL NULL
  *   - key -> "v"        = text-encoded value (cast to the target type at
  *                         merge time, analog of `decodeTextColumnData`)
  *
  * `old_kind` mirrors the old-tuple indicator (`streamer/process_clone.go:
  * 38-100`, `docs/100-implementation.md:13-20`):
  *   - "none" — no old tuple (key taken from `after` for I/U, `before` for D)
  *   - "K"    — primary key changed; `before` holds the old key
  *   - "O"    — replica identity full; `before` holds the whole old row
  *
  * op "R" is a relation/schema message (analog of pgoutput
  * `RelationMessage`, `streamer/process_message.go:191-213`): `after` maps
  * column name -> type name and drives schema evolution.
  */
final case class ChangeEvent(
    lsn: Long,
    seq: Int,
    op: String, // I | U | D | R | T (truncate, ignored)
    source_table: String,
    sid: String,
    old_kind: String, // none | K | O
    before: Map[String, String],
    after: Map[String, String])

object ChangeEvent {
  val schema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("seq", IntegerType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("source_table", StringType, nullable = false),
    StructField("sid", StringType, nullable = true),
    StructField("old_kind", StringType, nullable = false),
    StructField("before", MapType(StringType, StringType, valueContainsNull = true), nullable = true),
    StructField("after", MapType(StringType, StringType, valueContainsNull = true), nullable = true)
  ))
}

/** Per-table replication mode (`streamer/kuvasz-streamer.go:21-24`,
  * reference docs `040-streaming-modes.md`). */
sealed trait TableMode
object TableMode {
  case object Clone extends TableMode // insert/update/delete applied
  case object Append extends TableMode // deletes dropped (30-append.robot)
  case object History extends TableMode // SCD2 with kvsz_* validity columns
  def parse(s: String): TableMode = s.toLowerCase match {
    case "clone" => Clone
    case "append" => Append
    case "history" => History
    case other => throw new IllegalArgumentException(s"unknown mode: $other")
  }
}

/** Resolved source-table -> target mapping, the analog of the reference's
  * compiled `MappingEntry` (`streamer/mapping_table.go:12-32`): exact name
  * or partitions-regex routing, optional row filter and column-transform
  * ("set") expressed as Spark SQL expressions (the CEL analog,
  * `streamer/mapping_table.go:156-169`).
  */
final case class TableMapping(
    sourceTable: String,
    target: String,
    mode: TableMode = TableMode.Clone,
    partitionsRegex: Option[String] = None,
    filter: Option[String] = None, // boolean Spark SQL expr over decoded row
    set: Option[Seq[(String, String)]] = None, // destCol -> Spark SQL expr
    // Source-row schema for the filter/set expression env when it differs
    // from the target schema — the analog of the reference evaluating CEL
    // over the SOURCE relation's columns (`streamer/mapping_table.go:
    // 115-143` builds the CEL env from source-table columns). None = the
    // target schema doubles as the env (source == target layout).
    sourceSchema: Option[org.apache.spark.sql.types.StructType] = None
) {
  /** Exact-then-regex match, mirroring `streamer/mapping_table.go:57-81`;
    * names are schema-qualified with default schema `public`
    * (`streamer/metadata.go:37-50`), and the partitions regex — like the
    * reference, which splits the schema before matching — applies to the
    * schema-stripped table name with schema equality required. */
  def matches(table: String): Boolean = {
    val (ts, tb) = TableMapping.splitSchema(table)
    val (ms, mb) = TableMapping.splitSchema(sourceTable)
    ts == ms && (tb == mb || partitionsRegex.exists(r => tb.matches(r)))
  }
}

object TableMapping {
  /** (schema, bare table name) with default schema `public`. */
  def splitSchema(t: String): (String, String) = t.indexOf('.') match {
    case -1 => ("public", t)
    case i => (t.substring(0, i), t.substring(i + 1))
  }
}

/** Target lake-table descriptor. Spark has no primary-key metadata, so the
  * merge key lives here (the reference reads PKs from `pg_index`,
  * `streamer/metadata.go:52-80`).
  *
  * @param keyCols   merge key (e.g. conv_id, turn_idx); `sid` is prepended
  *                  automatically when `hasSid` (reference sid injection,
  *                  `streamer/process_clone.go:172-177`)
  * @param bucketCols columns hashed for the bucket layout — a prefix of the
  *                  key (conversation-level) so one conversation's turns
  *                  co-locate and merge rewrites touch few buckets
  */
final case class TableSpec(
    name: String,
    schema: StructType,
    keyCols: Seq[String],
    bucketCols: Seq[String],
    numBuckets: Int = 16,
    hasSid: Boolean = false) {
  def mergeKey: Seq[String] = (if (hasSid) Seq("sid") else Nil) ++ keyCols
  require(bucketCols.nonEmpty, "bucketCols must be non-empty")
}

object Transcripts {
  /** The graft payload schema (BASELINE.json input_hint). */
  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true)
  ))

  def spec(name: String = "transcripts", numBuckets: Int = 16,
           hasSid: Boolean = false): TableSpec =
    TableSpec(name, schema, keyCols = Seq("conv_id", "turn_idx"),
      bucketCols = Seq("conv_id"), numBuckets = numBuckets, hasSid = hasSid)
}
