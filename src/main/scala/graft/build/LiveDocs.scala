package graft.build

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Per-segment deleted-docId view — the liveDocs analogue
  * (`core/codecs/lucene90/Lucene90LiveDocsFormat.java:49`: one bitset
  * file per segment, read SEGMENT-SIDE by each leaf reader, never
  * collected anywhere central).
  *
  * The engine's restatement: deletions resolve to one sorted docId
  * sidecar file per affected segment (written executor-side by a
  * distributed job, see [[LiveDocs.resolve]]); kernels and merges load
  * ONLY their own segment's sidecar, lazily, executor-side. The driver
  * ships the tiny (seg -> count) manifest with the closure — never the
  * ids. At 10^9+ deletes the driver holds nothing; each executor holds
  * at most the deletes of the segments it is processing, the same bound
  * the reference's per-leaf liveDocs bitsets give.
  */
sealed trait LiveDocs extends Serializable {
  /** Sorted deleted docIds of `seg`, or null when the segment has none.
    * May perform a (cached) sidecar read — call executor-side.
    */
  def deleted(seg: Int): Array[Long]
  def isEmpty: Boolean
  def deletedCount: Long
}

case object NoDeletes extends LiveDocs {
  def deleted(seg: Int): Array[Long] = null
  def isEmpty: Boolean = true
  def deletedCount: Long = 0L
}

/** In-memory per-segment map — streaming/test convenience for small,
  * already-local delete sets.
  */
final case class MapLiveDocs(m: Map[Int, Array[Long]]) extends LiveDocs {
  def deleted(seg: Int): Array[Long] = m.getOrElse(seg, null)
  def isEmpty: Boolean = m.isEmpty
  def deletedCount: Long = m.valuesIterator.map(_.length.toLong).sum
}

/** Sidecar-file-backed view: `segs` maps each segment WITH deletes to
  * its delete count (the manifest — tiny, closure-shipped); the sorted
  * docId arrays live in `ldDir/seg_<s>.longs` and are loaded lazily,
  * once per JVM per segment, by whoever calls [[deleted]] (executors),
  * through the session's Hadoop conf. The conf travels as a broadcast
  * handle, so task closures that carry this view stay small.
  */
final class FileLiveDocs(val ldDir: String, val segs: Map[Int, Long],
    hadoopConf: Broadcast[SerializableConfiguration]) extends LiveDocs {

  /** Sidecar loads performed through THIS instance (driver instance in
    * tests: must stay 0 — tasks deserialize their own copy, so executor
    * loads never touch it).
    */
  @transient private lazy val loads = new java.util.concurrent.atomic.AtomicInteger(0)
  def loadedSegs: Int = loads.get()

  def deleted(seg: Int): Array[Long] =
    if (!segs.contains(seg)) null
    else {
      // JVM-GLOBAL cache (FileLiveDocs.cache): task closures deserialize
      // their own instance per query, so an instance-level cache would
      // re-read the sidecar once per task per query — the global map
      // keyed by (scope dir, seg) gives the once-per-executor-JVM bound
      // (scope dirs are write-once, so entries never go stale)
      val key = s"$ldDir/seg_$seg.longs"
      val hit = FileLiveDocs.cache.get(key)
      if (hit != null) hit
      else {
        val arr = LiveDocs.readSidecar(key, hadoopConf.value.value)
        loads.incrementAndGet()
        if (FileLiveDocs.cache.size > 4096) FileLiveDocs.cache.clear()
        FileLiveDocs.cache.putIfAbsent(key, arr)
        arr
      }
    }

  def isEmpty: Boolean = segs.isEmpty
  def deletedCount: Long = segs.valuesIterator.sum
}

object FileLiveDocs {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
}

object LiveDocs {

  /** Sidecar IO goes through the Hadoop FileSystem API (like Spark's own
    * file sinks) with the session's Hadoop conf, the one [[IndexFs]] uses
    * on the driver, so executor-side reads/writes see the same
    * `spark.hadoop.*` settings whether the index dir is local, HDFS, or an
    * object store.
    */
  private[build] def readSidecar(path: String, conf: Configuration): Array[Long] = {
    val p = new Path(path)
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(p.getFileSystem(conf).open(p)))
    try {
      val n = in.readInt()
      val arr = new Array[Long](n)
      var i = 0
      while (i < n) { arr(i) = in.readLong(); i += 1 }
      arr
    } finally in.close()
  }

  private def writeSidecar(path: String, ids: Array[Long], n: Int, conf: Configuration): Unit =
    writeOnce(new Path(path).getFileSystem(conf), path) { out =>
      out.writeInt(n)
      var i = 0
      while (i < n) { out.writeLong(ids(i)); i += 1 }
    }

  /** Write a file of a resolved scope (a sidecar or the livedocs manifest)
    * through a tmp file and a `FileSystem.rename`, so no reader sees a
    * partial file. The tmp name is ATTEMPT-UNIQUE: task retries and
    * speculation (and two sessions racing on the same unresolved scope)
    * must never interleave writes into one tmp file. Attempts compute
    * identical content from the same deterministic input, so whichever
    * complete file wins the final rename is correct. (Not
    * [[IndexFs.writeString]]: its `FileContext` rename forks a process per
    * call on the local file system.)
    */
  private def writeOnce(fs: FileSystem, path: String)(write: java.io.DataOutputStream => Unit): Unit = {
    val p = new Path(path)
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val tmp = new Path(path + ".tmp-" + attempt)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(fs.create(tmp, true)))
    try write(out) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      // a concurrent identical attempt won the rename — accept its file
      fs.delete(tmp, false)
      if (!fs.exists(p)) throw new java.io.IOException(s"rename $tmp -> $p failed")
    }
  }

  /** Reader lease for resolved sidecar scopes: [[gc]] only deletes scopes
    * older than this, so an open snapshot (whose kernels read sidecars
    * lazily, executor-side) keeps its point-in-time delete view across a
    * concurrent merge for at least the lease period — the role the
    * reference's `IndexDeletionPolicy` plays for liveDocs files still
    * referenced by an open commit (`core/index/IndexDeletionPolicy.java:38`).
    * Readers that outlive the lease must re-open (fail-fast
    * FileNotFoundException, never a silent wrong answer). Tunable via
    * `-Dgraft.livedocs.gcGraceMs`; tests use 0 for immediate compaction.
    */
  def gcGraceMs: Long =
    sys.props.get("graft.livedocs.gcGraceMs").map(_.toLong).getOrElse(15L * 60 * 1000)

  /** Drop resolved sidecar scopes older than the grace window — called by
    * merges (the natural compaction point: merged segments purge their
    * deletes and the manifest-set change invalidates every old scope for
    * new opens). The next open re-resolves only what the remaining
    * tombstones still cover, so livedocs storage stays bounded by the
    * LIVE delete set plus at most one lease window of history, instead of
    * growing with every historical tombstone batch.
    */
  def gc(dir: String, graceMs: Long = gcGraceMs,
      retain: Set[String] = Set.empty): Unit = {
    val root = new Path(s"$dir/livedocs")
    val fs = IndexFs.fsOf(root)
    if (!fs.exists(root)) return
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(root).foreach { st =>
      // `retain` = scope keys pinned by retained snapshots
      // (IndexBuilder.snapshotScopes) — never deleted, regardless of age
      if (st.getModificationTime < cutoff && !retain.contains(st.getPath.getName))
        fs.delete(st.getPath, true)
    }
  }

  /** Column predicate: true when `docId` is deleted in `live`. The
    * segment arrays are read executor-side (see [[SegmentDeletes]]), so
    * the deleted ids never reach the driver; as a Column filter it keeps
    * downstream column pruning.
    */
  def isDeleted(live: LiveDocs, docId: Column): Column =
    udf[Boolean, Long](new SegmentDeletes(live)).apply(docId)

  /** Spark's own broadcast-join size limit in bytes; <= 0 turns
    * broadcasts off.
    */
  private def broadcastLimit(spark: SparkSession): Long = {
    val s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    if (s.startsWith("-")) -1L else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
  }

  /** Resolve the tombstone set `tombs` against `docmeta` into per-segment
    * sidecar files under `dir/livedocs/<scopeKey>/`, once per scope: the
    * driver receives one (seg, count) row per segment with deletes — the
    * manifest — and commits it last (write-once + manifest selection,
    * like segment generations). While `scopeKey` is unchanged (same
    * tombstone files, same live segment set) the committed manifest is
    * read back with NO job at all. Resolution runs executor-side on one
    * of two paths:
    *  - scan-local: when the tombstone files' `tombBytes` fit Spark's
    *    `spark.sql.autoBroadcastJoinThreshold` (> 0) and `aligned` says
    *    every segment's rows share one scan partition, a broadcast
    *    semi-join of the tombstones feeds a partition-local sort, and
    *    each scan task writes the sidecars of its own segments — a
    *    broadcast job and a scan job, no shuffle;
    *  - shuffle: otherwise the semi-joined ids are repartitioned on `seg`
    *    so each reducer owns whole segments, then sorted and written the
    *    same way. This is the only correct path on unaligned input.
    * `aligned` is evaluated only after the size check passes, and only
    * when the scope is not resolved yet. The write tasks and the returned
    * view share one broadcast of the session's Hadoop conf.
    */
  def resolve(spark: SparkSession, dir: String, scopeKey: String,
      docmeta: DataFrame, tombs: DataFrame, tombBytes: Long, aligned: => Boolean): LiveDocs = {
    import spark.implicits._
    val ldDir = s"$dir/livedocs/$scopeKey"
    val manifestPath = s"$ldDir/_manifest.json"
    lazy val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    if (!IndexFs.exists(manifestPath)) {
      val sidecarConf = conf
      val limit = broadcastLimit(spark)
      val scanLocal = limit > 0 && tombBytes <= limit && aligned
      val deletedIds = docmeta
        .join(if (scanLocal) broadcast(tombs) else tombs, Seq("repo", "path", "commit"), "left_semi")
        .select($"docId",
          shiftright($"docId", IndexBuilder.SegShift).cast("int").as("seg"))
      val out = ldDir
      val counts: Seq[(Int, Long)] =
        (if (scanLocal) deletedIds else deletedIds.repartition(col("seg")))
        .sortWithinPartitions($"seg", $"docId")
        .as[(Long, Int)]
        .mapPartitions { it =>
          // rows arrive grouped by seg, docId-ascending; buffer ONE
          // segment at a time (bounded by that segment's delete count)
          val res = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
          var curSeg = Int.MinValue
          var buf = new Array[Long](1024)
          var n = 0
          def flush(): Unit = if (n > 0) {
            writeSidecar(s"$out/seg_$curSeg.longs", buf, n, sidecarConf.value.value)
            res += ((curSeg, n.toLong))
            n = 0
          }
          it.foreach { case (id, seg) =>
            if (seg != curSeg) { flush(); curSeg = seg }
            if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
            buf(n) = id
            n += 1
          }
          flush()
          res.iterator
        }
        .collect().toSeq
      val json = counts.sortBy(_._1).map { case (s, c) => s""""$s":$c""" }.mkString("{", ",", "}")
      writeOnce(IndexFs.fsOf(new Path(manifestPath)), manifestPath)(
        _.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    val segs: Map[Int, Long] =
      "\"(-?\\d+)\"\\s*:\\s*(\\d+)".r
        .findAllMatchIn(IndexFs.readString(manifestPath))
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    if (segs.isEmpty) NoDeletes else new FileLiveDocs(ldDir, segs, conf)
  }
}

/** Per-task reader of a [[LiveDocs]] view: it keeps the last segment's
  * sorted deleted-docId array, so a run of same-segment docIds looks the
  * (cached) sidecar up once, and each docId costs one binary search. Not
  * thread-safe: every task deserializes its own copy.
  */
final class SegmentDeletes(live: LiveDocs) extends (Long => Boolean) with Serializable {
  @transient private var loaded = false
  private var seg = 0
  @transient private var arr: Array[Long] = null

  /** Sorted deleted docIds of segment `s`, or null when it has none. */
  def of(s: Int): Array[Long] = {
    if (!loaded || s != seg) { arr = live.deleted(s); seg = s; loaded = true }
    arr
  }

  def apply(docId: Long): Boolean = {
    val a = of(IndexBuilder.segOf(docId))
    a != null && java.util.Arrays.binarySearch(a, docId) >= 0
  }
}
