package graft.build

import graft.codec.PostingCodec
import graft.model._
import org.apache.spark.sql.SparkSession

/** Segment merge — the north rule's "sort-merge of segments on term keys".
  *
  * Spark restatement of `SegmentMerger.merge` (SURVEY.md §3.3,
  * `core/index/SegmentMerger.java:113-146`): docIds are remapped through
  * per-segment base offsets (the deletion-aware `MergeState.DocMap`
  * analogue — order preserving, so posting arrays stay sorted; tombstoned
  * docs are dropped, like the reference's merges purging deletes), then
  * posting rows are range-partitioned by term and merged streamingly
  * within each partition — Spark's sort-merge shuffle IS the reference's
  * `MultiTermsEnum` k-way priority queue (`core/index/MultiTermsEnum.java:266`).
  *
  * Skew (mega-terms like language keywords): the merged list for one term
  * is emitted as MULTIPLE rows capped at `maxPostingsPerRow` postings
  * (the salt split of SURVEY.md §7.4.3) — legal because posting blocks
  * are self-contained (each carries its delta base) and the query kernel
  * concatenates same-term rows by docId range. No single reducer ever
  * materialises an unbounded posting list.
  */
object IndexMerger {

  /** Deletion-aware order-preserving docId remap (`MergeState.DocMap`):
    * newDocId = (newSeg << shift) | (base(oldSeg) + ord - deletedBelow).
    * `deleted` is the lazy per-segment liveDocs view — merge tasks load
    * only THEIR segments' sorted sidecar arrays, executor-side (the
    * driver ships the tiny manifest, never the ids). base(oldSeg) is the
    * sum of `keptPerSeg` over the lower old segments; a kept doc whose
    * new ordinal is not below its segment's kept count fails the task, so
    * a kept count that is too low (it would overlap the next segment's
    * range) stops the merge before its commit.
    */
  final class DocMap(
      keptPerSeg: Seq[(Int, Long)],
      deleted: LiveDocs,
      newSeg: Int
  ) extends Serializable {
    private val dels = new SegmentDeletes(deleted)
    // old seg -> (base, kept count)
    private val spans: Map[Int, (Long, Long)] = {
      var acc = 0L
      keptPerSeg.sortBy(_._1).map { case (seg, n) => val b = seg -> (acc, n); acc += n; b }.toMap
    }

    def isDeleted(docId: Long): Boolean = dels(docId)

    def remap(docId: Long): Long = {
      val seg = IndexBuilder.segOf(docId)
      val arr = dels.of(seg)
      val below =
        if (arr == null) 0
        else {
          val i = java.util.Arrays.binarySearch(arr, docId)
          if (i >= 0) i else -(i + 1)
        }
      val (base, kept) = spans(seg)
      val ord = IndexBuilder.ordOf(docId) - below
      if (ord >= kept)
        throw new IllegalStateException(s"segment $seg: kept doc ordinal $ord is not below " +
          s"its kept count $kept (manifest docs minus deletes)")
      (newSeg.toLong << IndexBuilder.SegShift) | (base + ord)
    }
  }

  /** Test/diagnostic hook: peak postings buffered by any [[mergeRows]]
    * invocation in this JVM (thread-safe max). Structurally <= cap — the
    * accumulation arrays are allocated at exactly `cap` entries.
    */
  val peakBufferedPostings = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming same-term concat + re-encode over rows sorted by
    * (term, seg); deleted postings dropped, docIds remapped, output rows
    * capped at `cap` postings (mega-term salt split).
    *
    * TRUE streaming: a capped row is emitted AS SOON AS `cap` postings
    * have accumulated — a mega-term spanning billions of postings never
    * materialises in the reducer (fixed `cap`-sized buffers, like the
    * reference's `SegmentMerger.java:146` + `MultiTermsEnum.java:266`
    * pull postings one at a time and never buffer a whole term). Input
    * rows arrive sorted by (term, seg) and the docId remap is
    * order-preserving, so chunked emission preserves ascending docIds
    * across the term's output rows.
    *
    * Position presence is uniform per term in practice (content terms
    * carry positions, '#'-keyword pseudo-terms don't); if a term mixes,
    * chunks after the first position-less input row degrade to
    * position-less, matching the old whole-term behaviour on every real
    * index.
    */
  private def mergeRows(
      rows: Iterator[PostingList],
      dm: DocMap,
      newSeg: Int,
      cap: Int
  ): Iterator[PostingList] =
    new Iterator[PostingList] {
      private val fmt = graft.codec.PostingFormats.byName(graft.codec.PostingFormats.Default)
      private val it = rows.buffered
      // fixed cap-sized accumulation buffers — the memory bound
      private val ids = new Array[Long](cap)
      private val fqs = new Array[Int](cap)
      private val nms = new Array[Byte](cap)
      private val pss = new Array[Array[Int]](cap)
      private val pys = new Array[Array[Array[Byte]]](cap)
      private var n = 0
      private var curTerm: String = null
      private var hasPos = true
      private var hasPay = false
      // current decoded input row + read offset within it
      private var d: PostingCodec.Decoded = null
      private var di = 0
      private var pending: PostingList = null

      private def emitPending(): Unit = {
        val prev = peakBufferedPostings.get()
        if (n > prev) peakBufferedPostings.compareAndSet(prev, n)
        pending = fmt.encode(newSeg, curTerm,
          java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(fqs, n),
          java.util.Arrays.copyOf(nms, n),
          if (hasPos) java.util.Arrays.copyOf(pss, n) else null,
          if (hasPos && hasPay) java.util.Arrays.copyOf(pys, n) else null)
        n = 0
      }

      private def advance(): Unit = {
        while (pending == null) {
          if (d != null && di < d.docIds.length) {
            // drain the current decoded row into the capped buffers
            while (di < d.docIds.length && n < cap) {
              val id = d.docIds(di)
              if (!dm.isDeleted(id)) {
                ids(n) = dm.remap(id)
                fqs(n) = d.freqs(di)
                nms(n) = d.norms(di)
                if (d.positions != null) pss(n) = d.positions(di) else hasPos = false
                // payload lane survives merges; a term mixing payload and
                // payload-less input rows keeps the lane (absent = len 0)
                if (d.payloads != null) { pys(n) = d.payloads(di); hasPay = true }
                else pys(n) = null
                n += 1
              }
              di += 1
            }
            if (n == cap) emitPending()
          } else if (it.hasNext && (curTerm == null || it.head.term == curTerm)) {
            if (curTerm == null) {
              curTerm = it.head.term
              // `@norms:` sidecar rows are position-less by layout
              // convention (freq = field length, no positions section)
              hasPos = IndexBuilder.hasPositions(curTerm)
              hasPay = false
              n = 0
            }
            d = PostingCodec.decodeAll(it.next(), withPositions = hasPos,
              withPayloads = hasPos)
            di = 0
          } else {
            // term exhausted (or input empty): flush the partial chunk
            if (n > 0) emitPending()
            curTerm = null
            d = null
            if (pending == null && !it.hasNext) return
          }
        }
      }

      def hasNext: Boolean = { advance(); pending != null }
      def next(): PostingList = {
        advance()
        val r = pending
        pending = null
        r
      }
    }

  /** Merged segments get ids in a reserved high range so they never
    * collide with streaming-batch segment ids (which grow from 0 as
    * batchId * segsPerBatch).
    */
  val MergedSegBase: Int = 1 << 22

  /** Pick merge groups like a (simplified) tiered policy
    * (`core/index/TieredMergePolicy.java:88,317`): repeatedly take the
    * `segsPerTier` smallest segments (by payload bytes) whose combined
    * size stays under `maxMergedBytes`; singletons are never "merged".
    */
  def findMerges(
      manifests: Seq[SegmentManifest],
      segsPerTier: Int = 8,
      maxMergedBytes: Long = 5L * 1024 * 1024 * 1024
  ): Seq[Seq[Int]] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    var rest = manifests.sortBy(m => (m.bytes, m.seg))
    // merge only while over budget (Lucene: allowedSegCount per tier);
    // each pass takes the smallest segments, leaving the count near
    // segsPerTier instead of collapsing everything to one segment
    while (rest.size > segsPerTier) {
      val want = math.min(segsPerTier, rest.size - segsPerTier + 1)
      val g = scala.collection.mutable.ArrayBuffer.empty[SegmentManifest]
      var acc = 0L
      while (g.size < want && rest.nonEmpty && (g.size < 2 || acc + rest.head.bytes <= maxMergedBytes)) {
        val m = rest.head
        rest = rest.tail
        g += m
        acc += m.bytes
      }
      if (g.size >= 2) groups += g.map(_.seg).toSeq
      else rest = Nil // size-capped below 2: nothing mergeable
    }
    groups.toSeq
  }

  /** Range partitions of a merge's term sort. */
  private val MergePartitions = 8

  /** Merge a group of persistent segments into ONE new segment in a new
    * generation through [[IndexBuilder.commitGeneration]]: the old
    * manifests are replaced by the new one, which points at the new
    * generation and carries the docs, postings and bytes tallied while it
    * was written (write-once files + manifest selection — the `segments_N`
    * commit-point model). Tombstoned docs are dropped; a group whose docs
    * are all deleted leaves no segment (None). Merging every live segment
    * is the `IndexWriter.forceMerge(1)` analogue.
    *
    * Safe only for segments whose build (streaming batch) is complete —
    * merging a segment that a retried batch may still rebuild would
    * resurrect it.
    */
  def mergeSegments(
      spark: SparkSession,
      dir: String,
      segs: Seq[Int],
      maxPostingsPerRow: Int = 1 << 20
  ): Option[SegmentManifest] = {
    import spark.implicits._
    val manifests = IndexBuilder.listManifests(dir).filter(m => segs.contains(m.seg))
    require(manifests.map(_.seg).toSet == segs.toSet, s"missing manifests for $segs")

    val raw = IndexBuilder.rawFor(spark, dir, manifests)

    val metas0 = raw.filter($"kind" === "m")
    val tombFiles = IndexBuilder.tombstoneFiles(dir)
    val (metas, deleted) = IndexBuilder.readTombstones(spark, dir, tombFiles) match {
      case None => (metas0, NoDeletes: LiveDocs)
      case Some(t) =>
        // executor-side delete application, scoped to this merge group:
        // sidecars are written by a distributed job (shuffle path) and
        // read lazily by the merge tasks — no driver collect of deleted ids
        val scope = IndexBuilder.sha256Hex("merge:" +
          IndexBuilder.tombstoneSetKey(tombFiles) + ":" +
          manifests.map(m => s"${m.seg}:${m.inputFingerprint}:${m.dataDir}")
            .sorted.mkString("|")).take(16)
        val del = LiveDocs.resolve(spark, dir, scope, metas0, t,
          tombBytes = tombFiles.map(_.getLen).sum, aligned = false)
        (if (del.isEmpty) metas0 else metas0.filter(!LiveDocs.isDeleted(del, $"docId")), del)
    }

    val newSeg = MergedSegBase + math.max(-1,
      IndexBuilder.listManifests(dir).map(_.seg - MergedSegBase).filter(_ >= 0)
        .foldLeft(-1)(math.max)) + 1

    // kept docs per source segment: its manifest's write-time tally minus
    // its count in the resolved delete view — no job
    val deletedPerSeg: Int => Long = deleted match {
      case f: FileLiveDocs => s => f.segs.getOrElse(s, 0L)
      case _ => _ => 0L
    }
    val dm = new DocMap(manifests.map(m => m.seg -> (m.docs - deletedPerSeg(m.seg))), deleted, newSeg)

    val ns = newSeg
    val metaRows = metas.as[BuildRow].map(r => r.copy(seg = ns, docId = dm.remap(r.docId)))
    val postRows = raw.filter($"kind" === "p")
      .select($"seg", $"term", $"df", $"ttf", $"counts", $"baseDocIds",
        $"maxDocIds", $"maxFreqs", $"minNorms", $"offsets", $"payload")
      .as[PostingList]
      .repartitionByRange(MergePartitions, $"term")
      .sortWithinPartitions($"term", $"seg")
      .mapPartitions(rows => mergeRows(rows, dm, ns, maxPostingsPerRow))
      .map(pl => BuildRow(
        kind = "p", seg = ns, docId = -1L, repo = null, path = null, commit = null,
        lang = null, sha256 = null, tokenCount = 0, norm = 0,
        term = pl.term, df = pl.df, ttf = pl.ttf, counts = pl.counts,
        baseDocIds = pl.baseDocIds, maxDocIds = pl.maxDocIds,
        maxFreqs = pl.maxFreqs, minNorms = pl.minNorms, offsets = pl.offsets,
        payload = pl.payload))
    val lineage = "merged:" + IndexBuilder.sha256Hex(
      manifests.map(m => s"${m.seg}:${m.inputFingerprint}").sorted.mkString("|")).take(16)
    val merged = IndexBuilder.commitGeneration(spark, dir, Seq(metaRows, postRows),
      _ => lineage, graft.codec.PostingFormats.Default, replaced = segs)
    // merges are the livedocs compaction point: the manifest-set change
    // invalidates every cached sidecar scope for NEW opens, and the next
    // open re-resolves only the still-live tombstones — without gc,
    // historical scopes accumulate one full delete-set copy per tombstone
    // batch. Deletion is GRACE-WINDOWED (see LiveDocs.gc): a reader opened
    // before the merge keeps its point-in-time sidecars for the lease
    // period, the same role the reference's IndexDeletionPolicy plays for
    // liveDocs files still referenced by an open commit point. Scopes
    // pinned by retained snapshots are never deleted.
    LiveDocs.gc(dir, retain = IndexBuilder.snapshotScopes(dir))
    // drop tombstones the merge just made pointless (their docs no longer
    // exist in any live segment); snapshot-pinned tombstone files survive
    IndexBuilder.compactTombstones(spark, dir)
    merged.headOption
  }

  /** Tiered background compaction over a persistent index: merge the
    * smallest segments `segsPerTier` at a time until no group remains.
    */
  def tieredMerge(spark: SparkSession, dir: String, segsPerTier: Int = 8): Seq[SegmentManifest] = {
    findMerges(IndexBuilder.listManifests(dir), segsPerTier)
      .flatMap(g => mergeSegments(spark, dir, g))
  }
}

/** Index invariant checker — the `CheckIndex` analogue
  * (`core/index/CheckIndex.java:114,571`) as a distributed job.
  * Returns human-readable violations (empty = healthy).
  */
object CheckIndex {
  def run(index: Index): Seq[String] = {
    val spark = index.postings.sparkSession
    import spark.implicits._

    val postingViolations = index.postings.flatMap { pl =>
      val d = PostingCodec.decodeAll(pl)
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      // payload lane: a flagged row must decode cleanly with one payload
      // slot per position (absent = null slot, never a short array)
      if (PostingCodec.hasPayloads(pl)) {
        try {
          val dp = PostingCodec.decodeAll(pl, withPayloads = true)
          var i = 0
          while (i < dp.payloads.length) {
            if (dp.payloads(i) == null || dp.payloads(i).length != dp.freqs(i)) {
              errs += s"term=${pl.term} seg=${pl.seg}: payload slots != freq at posting $i"
              i = dp.payloads.length
            }
            i += 1
          }
        } catch {
          case e: Exception =>
            errs += s"term=${pl.term} seg=${pl.seg}: payload lane decode failed: ${e.getMessage}"
        }
      }
      if (d.docIds.length != pl.df)
        errs += s"term=${pl.term} seg=${pl.seg}: df=${pl.df} != postings=${d.docIds.length}"
      if (d.freqs.map(_.toLong).sum != pl.ttf)
        errs += s"term=${pl.term} seg=${pl.seg}: ttf mismatch"
      var i = 1
      while (i < d.docIds.length) {
        if (d.docIds(i) <= d.docIds(i - 1)) {
          errs += s"term=${pl.term} seg=${pl.seg}: docIds not strictly ascending at $i"
          i = d.docIds.length
        }
        i += 1
      }
      if (d.freqs.exists(_ < 1)) errs += s"term=${pl.term} seg=${pl.seg}: freq < 1"
      errs
    }.take(20).toSeq

    // collection stats: the docCount (a sum of manifest tallies on a
    // persistent open) counts every doc of the segments, deleted or not
    val docs = index.docmeta.count() + index.live.deletedCount
    val countViolations =
      if (index.fieldStats.docCount == docs) Nil
      else Seq(s"fieldStats.docCount=${index.fieldStats.docCount} != live + deleted docs $docs")

    postingViolations ++ countViolations
  }
}
