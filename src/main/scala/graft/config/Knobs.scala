package graft.config

/** Process-wide runtime knobs shared by engine internals that are not
  * parameterized per call site (the merge paths run deep inside
  * `foreachBatch`, where threading a config through every layer would put
  * a plumbing-only parameter on a half-dozen signatures).
  *
  * Each knob initializes from its `GRAFT_*` environment variable (the
  * library-embedding path: tests, Bench, Verify) and is overridden once at
  * boot by [[ProcessConfig]] when the process entry point (`graft.Main`)
  * runs — so `--compact-file-cap` / `compact_file_cap` / the env var all
  * steer the SAME threshold in every reader: the inline compaction inside
  * `LakeTable.rewriteSet` (the rewrite set of the clone/append, signature
  * and label merges; history merges pass no zones, so nothing to exempt),
  * the admin compact endpoint's default, and Main's periodic maintenance
  * loop.
  */
object Knobs {

  /** Max data files per bucket before a merge disables zone pruning for
    * that bucket (rewriting it into O(1) files — inline compaction), and
    * the bucket-count threshold maintenance/admin compaction targets. */
  @volatile var compactFileCap: Int =
    sys.env.getOrElse("GRAFT_COMPACT_FILE_CAP", "8").toInt

  /** Initial full-sync pacing — the analog of the reference's token-bucket
    * full-sync rate limit (`config.go:97-98` app.sync_rate / app.sync_burst,
    * applied in `full_sync.go:39-50`): average rows/sec cap and per-commit
    * chunk size for the Backfill.initialSync runs the orchestrator starts.
    * rate <= 0 = unpaced (tests and drain runs want full speed). Resolved
    * through ProcessConfig's defaults < file < env < flags layering and
    * published here at serve() time, same as [[compactFileCap]]. */
  @volatile var syncRateRows: Long =
    sys.env.getOrElse("GRAFT_SYNC_RATE", "-1").toDouble.toLong
  @volatile var syncBurstRows: Long =
    sys.env.getOrElse("GRAFT_SYNC_BURST", "100000").toDouble.toLong
}
