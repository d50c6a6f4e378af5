package graft.lake

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Local filesystem without permission shell-outs or checksum files.
  *
  * Without the native Hadoop library (not shipped in this environment —
  * "NativeCodeLoader: Unable to load native-hadoop library"),
  * `RawLocalFileSystem.setPermission` falls back to
  * `Shell.execCommand("chmod", ...)`: every parquet file/directory
  * creation forks a child process of the (large) JVM. Under 32 concurrent
  * writer tasks this serializes the whole write path and inverts scaling
  * (profiled via jstack: most executor threads starved, the runnable ones
  * inside `ProcessImpl.forkAndExec`).
  *
  * Registering this class as `spark.hadoop.fs.file.impl` replaces the
  * default `LocalFileSystem` (a checksum wrapper over RawLocal), which
  * also drops the redundant `.crc` shadow files — we run on a local disk
  * whose integrity the OS already guarantees; the lake's own manifest
  * tracks file sizes.
  *
  * Every graft session builder sets it itself. The streaming engine's
  * checkpoint logs go through it too (`CdcStream.start` selects Spark's
  * file-system-based checkpoint manager), so a trigger's offsets and
  * commits logs fork nothing either.
  */
class BareLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}
