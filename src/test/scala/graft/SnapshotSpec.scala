package graft

import graft.build.{CheckIndex, Datagen, IndexBuilder, IndexFs, IndexMerger}
import graft.exec.Searcher
import org.apache.spark.sql.functions._

/** Commit-point snapshots — the SnapshotDeletionPolicy / point-in-time
  * reader model (`core/index/SnapshotDeletionPolicy.java:43`): a pinned
  * snapshot must open with EXACTLY the docs, deletes, stats, and
  * therefore BM25 scores it had at commit time, across later deletes
  * and merges; retained snapshots protect their livedocs scopes and
  * generation dirs from GC/purge; released snapshots become purgeable.
  */
class SnapshotSpec extends SparkTest {
  import spark.implicits._

  private val queries = Seq("def", "needle_0", "def AND class", "val OR needle_1", "ident_23*")

  test("snapshot opens survive deletes and merges with identical results; purge respects pins") {
    val dir = java.nio.file.Files.createTempDirectory("graftsnap").toString
    val src = Datagen.corpus(spark, 800, seed = 61L)
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 12), dir)

    // pin commit 0 (full corpus, no deletes) and record its results
    val snap0 = IndexBuilder.commitSnapshot(dir)
    assert(snap0 == 0 && IndexBuilder.listSnapshots(dir) == Seq(0))
    val idx0 = IndexBuilder.open(spark, dir)
    def shaped(idx: graft.build.Index): Map[String, Seq[(Long, Float)]] =
      queries.map(q => q -> Searcher.topK(idx, q, 10).as[(Long, Float)].collect().toSeq).toMap
    val r0 = shaped(idx0)
    val n0 = idx0.docmeta.count()

    // delete every needle_0 doc, pin commit 1 (deletes visible)
    val victims = Searcher.matchingDocs(idx0, graft.query.TermQ("needle_0")).toDF("docId")
      .join(idx0.docmeta, "docId").select($"repo", $"path", $"commit")
    IndexBuilder.deleteDocs(spark, dir, victims)
    val nVictims = victims.count()
    assert(nVictims > 0)
    val idx1 = IndexBuilder.open(spark, dir) // resolves livedocs scope for commit-1 state
    val r1 = shaped(idx1)
    val snap1 = IndexBuilder.commitSnapshot(dir)
    assert(snap1 == 1)

    // merge ALL segments: the original generation loses its last live
    // reference (only the snapshots still pin it), deletes purge
    // physically, livedocs gc'd (grace 0 EXCEPT pinned scopes)
    def liveSegs() = IndexFs.listNames(s"$dir/manifest")
      .filter(n => n.startsWith("seg_") && n.endsWith(".json"))
      .map(_.stripPrefix("seg_").stripSuffix(".json").toInt)
    IndexMerger.mergeSegments(spark, dir, liveSegs())
    graft.build.LiveDocs.gc(dir, graceMs = 0, retain = IndexBuilder.snapshotScopes(dir))
    val idxLive = IndexBuilder.open(spark, dir)
    assert(idxLive.docmeta.count() == n0 - nVictims)
    // the merge purged the deleted docs from the live collection stats
    assert(idxLive.fieldStats.docCount == n0 - nVictims)

    // snapshot 0: the pre-delete world, bit-identical scores
    val s0 = IndexBuilder.open(spark, dir, snapshot = Some(0))
    assert(s0.docmeta.count() == n0)
    assert(Searcher.count(s0, "needle_0") > 0, "snapshot 0 must still see later-deleted docs")
    assert(s0.fieldStats == idx0.fieldStats)
    assert(shaped(s0) == r0, "snapshot 0 results must equal commit-0 results")
    assert(CheckIndex.run(s0).isEmpty)

    // snapshot 1: deletes of commit 1 applied, scores identical to then —
    // even though the live manifest set and livedocs scopes moved on
    val s1 = IndexBuilder.open(spark, dir, snapshot = Some(1))
    assert(s1.docmeta.count() == n0 - nVictims)
    assert(Searcher.count(s1, "needle_0") == 0)
    assert(s1.fieldStats == idx1.fieldStats)
    assert(shaped(s1) == r1, "snapshot 1 results must equal commit-1 results")

    // purge: pinned generations never deleted, even with grace 0
    val gensBefore = IndexFs.listNames(s"$dir/segments").filter(_.startsWith("gen_")).toSet
    assert(IndexBuilder.purgeGenerations(dir, graceMs = 0).isEmpty,
      "all dereferenced generations are pinned by snapshots — purge must delete nothing")
    assert(IndexFs.listNames(s"$dir/segments").filter(_.startsWith("gen_")).toSet == gensBefore)

    // release both snapshots: dereferenced generations become purgeable
    assert(IndexBuilder.releaseSnapshot(dir, 0))
    assert(IndexBuilder.releaseSnapshot(dir, 1))
    assert(IndexBuilder.listSnapshots(dir).isEmpty)
    val purged = IndexBuilder.purgeGenerations(dir, graceMs = 0)
    assert(purged.nonEmpty, "released generations must purge")
    // the live index is untouched by the purge
    val idxAfter = IndexBuilder.open(spark, dir)
    assert(idxAfter.docmeta.count() == n0 - nVictims)
    assert(CheckIndex.run(idxAfter).isEmpty)
    // snapshot opens of released ids fail fast
    intercept[IllegalArgumentException] {
      IndexBuilder.open(spark, dir, snapshot = Some(0))
    }
  }

  test("merge compacts dead tombstones; snapshot-pinned tombstone files survive") {
    val dir = java.nio.file.Files.createTempDirectory("grafttcomp").toString
    def tombFiles() = IndexFs.listNames(s"$dir/tombstones").filter(_.endsWith(".parquet"))
    def segsOf() = IndexFs.listNames(s"$dir/manifest")
      .filter(n => n.startsWith("seg_") && n.endsWith(".json"))
      .map(_.stripPrefix("seg_").stripSuffix(".json").toInt)
    val src = Datagen.corpus(spark, 400, seed = 63L)
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 6), dir)

    // delete + full merge with NO snapshots: every tombstone's doc is
    // purged from the live set, so the whole tombstone set compacts away
    val idx0 = IndexBuilder.open(spark, dir)
    val v1 = Searcher.matchingDocs(idx0, graft.query.TermQ("needle_0")).toDF("docId")
      .join(idx0.docmeta, "docId").select($"repo", $"path", $"commit")
    assert(v1.count() > 0)
    IndexBuilder.deleteDocs(spark, dir, v1)
    assert(tombFiles().nonEmpty)
    IndexMerger.mergeSegments(spark, dir, segsOf())
    assert(tombFiles().isEmpty, "fully-applied tombstones must compact away at merge")
    val live1 = IndexBuilder.open(spark, dir)
    assert(live1.live.isEmpty && Searcher.count(live1, "needle_0") == 0)

    // delete more, PIN a snapshot (its delete view = these files), merge:
    // the pinned files survive compaction and the snapshot still applies
    // its point-in-time deletes; the live set purged them physically
    val nLive1 = live1.docmeta.count()
    val v2 = live1.docmeta.orderBy($"docId").limit(40).select($"repo", $"path", $"commit")
    IndexBuilder.deleteDocs(spark, dir, v2)
    IndexBuilder.open(spark, dir) // resolve pre-merge livedocs state
    val id = IndexBuilder.commitSnapshot(dir)
    val pinnedFiles = tombFiles().toSet
    IndexMerger.mergeSegments(spark, dir, segsOf())
    assert(tombFiles().toSet == pinnedFiles,
      "snapshot-pinned tombstone files must survive compaction")
    val snap = IndexBuilder.open(spark, dir, snapshot = Some(id))
    assert(snap.docmeta.count() == nLive1 - 40, "snapshot deletes must still apply")
    assert(snap.live.deletedCount == 40)
    val live2 = IndexBuilder.open(spark, dir)
    assert(live2.live.isEmpty && live2.docmeta.count() == nLive1 - 40)
    // release the pin: the next merge cycle can drop the dead files too
    IndexBuilder.releaseSnapshot(dir, id)
    IndexBuilder.compactTombstones(spark, dir)
    assert(tombFiles().isEmpty, "released tombstone files compact away")
  }

  test("snapshot works on a non-file: scheme index dir") {
    val dir = "mockfs:" + java.nio.file.Files.createTempDirectory("graftsnapmock").toString + "/idx"
    val src = Datagen.corpus(spark, 300, seed = 62L)
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 4), dir)
    val id = IndexBuilder.commitSnapshot(dir)
    val before = Searcher.topK(IndexBuilder.open(spark, dir), "def", 10)
      .as[(Long, Float)].collect().toSeq
    val victims = IndexBuilder.open(spark, dir).docmeta.limit(50)
      .select($"repo", $"path", $"commit")
    IndexBuilder.deleteDocs(spark, dir, victims)
    IndexMerger.tieredMerge(spark, dir, segsPerTier = 2)
    val snap = IndexBuilder.open(spark, dir, snapshot = Some(id))
    assert(snap.docmeta.count() == 300)
    assert(Searcher.topK(snap, "def", 10).as[(Long, Float)].collect().toSeq == before)
  }

  test("released snapshot ids are never reissued (monotonic counter)") {
    val dir = java.nio.file.Files.createTempDirectory("graftsnapid").toString
    val src = Datagen.corpus(spark, 120, seed = 67L)
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 3), dir)
    assert(IndexBuilder.commitSnapshot(dir) == 0)
    assert(IndexBuilder.commitSnapshot(dir) == 1)
    assert(IndexBuilder.releaseSnapshot(dir, 1))
    // max(remaining)+1 would reissue 1 — a stale snapId would then open
    // a DIFFERENT point-in-time state instead of failing
    assert(IndexBuilder.commitSnapshot(dir) == 2)
    assert(IndexBuilder.releaseSnapshot(dir, 0))
    assert(IndexBuilder.releaseSnapshot(dir, 2))
    assert(IndexBuilder.listSnapshots(dir).isEmpty)
    assert(IndexBuilder.commitSnapshot(dir) == 3)
  }
}
