package graft.build

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Index-directory metadata IO through the Hadoop FileSystem API.
  *
  * The reference routes every directory listing and file read through its
  * `Directory` abstraction (`core/store/Directory.java:51`) precisely so
  * an index can live on any storage. The engine's analogue: ALL driver-side
  * metadata IO — manifest listings, generation counters, tombstone
  * discovery, stats json, stream meta — goes through this object, so an
  * index dir can be `file:`, `hdfs:`, or an object-store URI. (`java.io.File`
  * on an `hdfs:` dir silently reports "missing", which would make deletes
  * no-op and resumable builds restart from scratch — a silent-wrong-answer
  * class of failure.) Executor-side sidecar IO takes the same route in
  * [[LiveDocs]].
  */
object IndexFs {

  /** Prefer the active session's Hadoop conf (carries `spark.hadoop.*`
    * overrides); fall back to classpath defaults. Scheme discovery also
    * works via Hadoop's FileSystem ServiceLoader, so test schemes need no
    * conf plumbing.
    */
  private def hconf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fsOf(p: Path): FileSystem = p.getFileSystem(hconf)

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  /** FileStatus list of a directory, empty when absent. */
  def list(path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq
  }

  /** Child file/dir names of a directory, empty when absent. */
  def listNames(path: String): Seq[String] = list(path).map(_.getPath.getName)

  def readString(path: String): String = {
    val p = new Path(path)
    val in = fsOf(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Atomic small-file write: tmp + atomic-replace rename, the same
    * commit discipline as the livedocs sidecars — a manifest half-written
    * by a killed driver must never be read back as a (corrupt) commit
    * point, and a reader racing the write must always see SOME complete
    * file. The replace goes through `FileContext.rename(OVERWRITE)`
    * (single atomic op on HDFS and posix stores — no delete window);
    * only schemes with no AbstractFileSystem binding (e.g. the test
    * scheme) fall back to delete-then-rename, whose gap is why the
    * FileContext path is preferred (`FileSystem.rename` refuses an
    * existing destination, which would otherwise force the delete).
    */
  def writeString(path: String, s: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    val parent = p.getParent
    if (parent != null) fs.mkdirs(parent)
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString)
    val out = fs.create(tmp, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val viaFileContext =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, hconf)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fs.delete(p, false)
          if (!fs.rename(tmp, p)) {
            fs.delete(tmp, false)
            if (!fs.exists(p)) throw new java.io.IOException(s"rename $tmp -> $p failed")
          }
          false
      }
    // the tmp was created through the (possibly checksummed) FileSystem
    // but renamed through FileContext's raw fs, which does not move crc
    // sidecars: drop the now-orphaned tmp sidecar, and any stale
    // destination sidecar left by a fallback-branch write of an earlier
    // version — a checksummed read against the old crc would throw. The
    // write has committed with the rename, so a failed cleanup only
    // leaves a sidecar behind.
    if (viaFileContext) {
      bestEffort(fs.delete(new Path(tmp.getParent, "." + tmp.getName + ".crc"), false))
      bestEffort(fs.delete(new Path(p.getParent, "." + p.getName + ".crc"), false))
    }
  }

  private def bestEffort(body: => Unit): Unit =
    try body catch { case scala.util.control.NonFatal(_) => () }

  def delete(path: String, recursive: Boolean = false): Boolean = {
    val p = new Path(path)
    fsOf(p).delete(p, recursive)
  }
}
