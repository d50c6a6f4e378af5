package replaybench

/** Maps a Spark job's call-site stack to the engine module that issued it.
  *
  * The layers are the repository's modules. A job belongs to a streaming
  * batch when its stack passes through `graft.streaming.CdcStream`; its
  * module is the first frame, walking from the action outward toward that
  * CdcStream frame, whose class belongs to a named module. Helper objects
  * (TextPipeline, Similarity, Xf, ...) are not layers of their own: their
  * jobs go to the module that called them. A job whose stack has no
  * CdcStream frame (the overlapped stats job runs on a pool thread, for
  * one) cannot be placed and counts as [[Unattributed]].
  */
object Attribution {

  val Streaming = "streaming"
  val Unattributed = "unattributed"

  /** Class name prefix -> module, for every named module except streaming. */
  val ModuleOfClass: Seq[(String, String)] = Seq(
    "graft.sources.PgOutput" -> "sources",
    "graft.operators.Replay" -> "operators.replay",
    "graft.operators.History" -> "operators.history",
    "graft.operators.SignatureStore" -> "operators.signatures",
    "graft.operators.LabelStore" -> "operators.labels",
    "graft.lake.LakeTable" -> "lake")

  /** Every module the trace reports, in report order. */
  val Modules: Seq[String] = Seq("sources", Streaming, "operators.replay",
    "operators.history", "operators.signatures", "operators.labels", "lake",
    Unattributed)

  private val CdcStreamClass = "graft.streaming.CdcStream"

  /** The class of one `StackTraceElement.toString` frame, with Scala's
    * `$`-suffixes (companion, anonymous function, inner class) removed. */
  def classOf(frame: String): String = {
    val call = frame.trim.takeWhile(_ != '(')
    val dot = call.lastIndexOf('.')
    val cls = if (dot < 0) call else call.substring(0, dot)
    // drop a class-loader/module prefix such as "app//"
    val bare = cls.substring(cls.lastIndexOf('/') + 1)
    bare.takeWhile(_ != '$')
  }

  /** Module of a stack given innermost frame first. */
  def moduleOf(frames: Seq[String]): String = {
    val classes = frames.map(classOf)
    val cdc = classes.lastIndexWhere(_ == CdcStreamClass)
    if (cdc < 0) Unattributed
    else classes.take(cdc).iterator
      .flatMap(c => ModuleOfClass.collectFirst { case (p, m) if c == p => m })
      .nextOption()
      .getOrElse(Streaming)
  }

  /** Module of a Spark long-form call site (one frame per line). */
  def moduleOfCallSite(longForm: String): String =
    moduleOf(Option(longForm).toSeq.flatMap(_.split('\n')).filter(_.nonEmpty))
}
