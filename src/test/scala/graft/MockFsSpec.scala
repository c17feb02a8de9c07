package graft

import graft.build.{CheckIndex, Datagen, IndexBuilder, IndexMerger, LiveDocs}
import graft.exec.Searcher
import org.apache.spark.sql.functions._

/** Storage portability: every index IO path (manifests, generations,
  * stats, tombstones, livedocs sidecars, streaming meta) must go through
  * the Hadoop FileSystem API, never `java.io.File` — on an HDFS or
  * object-store index dir a `java.io.File` listing silently reports
  * "missing", which would make deletes no-op (deleted docs resurrect)
  * and resumable builds restart from scratch. The [[graft.testfs.MockFs]]
  * scheme makes that failure mode visible on the local disk.
  */
class MockFsSpec extends SparkTest {
  import spark.implicits._

  private def mockDir(name: String): String =
    "mockfs:" + java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  test("build, resume, delete, merge against a non-file: scheme index dir") {
    val dir = mockDir("graftmockfs")
    val src = Datagen.corpus(spark, 400, seed = 31L)
    val manifests = IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 8), dir)
    assert(manifests.length == 8)
    assert(graft.build.IndexFs.listNames(s"$dir/manifest").count(_.endsWith(".json")) == 8)

    val idx0 = IndexBuilder.open(spark, dir)
    assert(CheckIndex.run(idx0).isEmpty)
    val nVictims = Searcher.count(idx0, "needle_0")
    assert(nVictims > 0)

    // resume must SKIP all complete segments: no new generation appears
    // (nextGen + manifest reads both go through the mockfs listing)
    val gensBefore = graft.build.IndexFs.listNames(s"$dir/segments").sorted
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 8), dir)
    assert(graft.build.IndexFs.listNames(s"$dir/segments").sorted == gensBefore,
      "resume re-ran complete segments on a non-file: scheme")

    // deletes: tombstone discovery + sidecar resolution on mockfs
    val victims = Searcher.matchingDocs(idx0, graft.query.TermQ("needle_0")).toDF("docId")
      .join(idx0.docmeta, "docId").select($"repo", $"path", $"commit")
    IndexBuilder.deleteDocs(spark, dir, victims)
    val idx1 = IndexBuilder.open(spark, dir)
    assert(idx1.live.deletedCount == nVictims,
      "tombstones invisible on a non-file: scheme (java.io.File fallback?)")
    assert(Searcher.count(idx1, "needle_0") == 0, "deleted docs resurrected")
    assert(idx1.docmeta.count() == 400 - nVictims)

    // merge compacts on mockfs: old manifests deleted, deletes purged
    IndexMerger.tieredMerge(spark, dir, segsPerTier = 4)
    val idx2 = IndexBuilder.open(spark, dir)
    assert(idx2.live.isEmpty, "merge must purge tombstoned docs")
    assert(Searcher.count(idx2, "needle_0") == 0)
    assert(idx2.docmeta.count() == 400 - nVictims)
    assert(CheckIndex.run(idx2).isEmpty)
  }

  test("streaming maintenance (exactly-once + update) against a non-file: scheme index dir") {
    val local = java.nio.file.Files.createTempDirectory("graftmockstream").toString
    val inputDir = s"$local/in"
    val dir = "mockfs:" + local + "/idx"
    val batch1 = Datagen.corpus(spark, 120, seed = 52L)
    batch1.write.mode("append").parquet(inputDir)
    graft.streaming.StreamingIndexer.runAvailableNow(spark, inputDir, dir, segsPerBatch = 2)
    val idx0 = IndexBuilder.open(spark, dir)
    assert(idx0.docmeta.count() == 120)

    // second run with no new files is a no-op (stream_meta + manifest
    // listings on mockfs); then an update batch re-versions 120 docs
    graft.streaming.StreamingIndexer.runAvailableNow(spark, inputDir, dir, segsPerBatch = 2)
    assert(IndexBuilder.open(spark, dir).docmeta.count() == 120)

    val batch2 = batch1.withColumn("commit", concat($"commit", lit("_v2")))
    batch2.write.mode("append").parquet(inputDir)
    graft.streaming.StreamingIndexer.runAvailableNow(spark, inputDir, dir,
      segsPerBatch = 2, update = true)
    val idx1 = IndexBuilder.open(spark, dir)
    assert(idx1.docmeta.count() == 120, "update must tombstone every stale version")
    assert(idx1.docmeta.filter(!$"commit".endsWith("_v2")).count() == 0)
  }

  test("livedocs gc is grace-windowed: fresh scopes survive a merge-time gc, stale scopes do not") {
    val local = java.nio.file.Files.createTempDirectory("graftgc").toString
    def mkScope(name: String): java.io.File = {
      val d = new java.io.File(s"$local/livedocs/$name")
      d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve("seg_0.longs"), "x")
      d
    }
    val stale = mkScope("stale")
    val fresh = mkScope("fresh")
    assert(stale.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    LiveDocs.gc(local) // default grace (15 min)
    assert(!stale.exists(), "stale scope must be gc'd")
    assert(fresh.exists(), "scope younger than the reader lease must survive")
    LiveDocs.gc(local, graceMs = 0)
    assert(!fresh.exists(), "grace 0 compacts everything")
  }

  test("writeString atomically replaces an existing file on file: and mockfs: schemes") {
    val base = java.nio.file.Files.createTempDirectory("graftws").toString
    // file: takes the FileContext rename(OVERWRITE) path; mockfs: has no
    // AbstractFileSystem binding and exercises the fallback
    for (scheme <- Seq("file:", "mockfs:")) {
      val p = s"$scheme$base/${scheme.stripSuffix(":")}/manifest.json"
      graft.build.IndexFs.writeString(p, "{\"gen\":1}")
      graft.build.IndexFs.writeString(p, "{\"gen\":2}")
      assert(graft.build.IndexFs.readString(p) == "{\"gen\":2}",
        s"overwrite lost on $scheme")
      // no tmp residue left behind
      val parent = p.substring(0, p.lastIndexOf('/'))
      assert(!graft.build.IndexFs.listNames(parent).exists(_.contains(".tmp-")),
        graft.build.IndexFs.listNames(parent).toString)
    }
  }

  test("writeString commits even when the crc sidecar cleanup throws") {
    val base = java.nio.file.Files.createTempDirectory("graftnodelete").toString
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockfsnodelete.impl", classOf[graft.testfs.NoDeleteFs].getName)
    conf.set("fs.AbstractFileSystem.mockfsnodelete.impl", classOf[graft.testfs.NoDeleteAfs].getName)
    org.apache.spark.sql.SparkSession.setActiveSession(spark) // IndexFs reads its conf
    val p = s"mockfsnodelete:$base/manifest.json"
    // every delete throws, so the FileContext rename path's sidecar
    // cleanup fails after the rename has committed
    graft.build.IndexFs.writeString(p, "{\"gen\":1}")
    graft.build.IndexFs.writeString(p, "{\"gen\":2}")
    assert(graft.build.IndexFs.readString(p) == "{\"gen\":2}")
  }
}
