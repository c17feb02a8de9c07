package graft

import graft.build.{CheckIndex, Datagen, IndexBuilder, IndexMerger, InputDoc}
import graft.exec.Searcher
import graft.model.{FieldStats, TermStats}
import graft.query.{BoolQ, TermQ}
import org.apache.spark.sql.functions._

/** Collection statistics are sums over the committed segments: a commit
  * reads only what it writes, opens sum their manifests' figures with no
  * job, a cold stats lookup sums the wanted terms' per-segment rows in
  * one single-stage job, and a manifest whose figures are wrong or
  * missing is caught.
  */
class CollectionStatsSpec extends SparkTest {
  import spark.implicits._

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  /** A persistent index of `docs` corpus docs in `segs` segments: its
    * dir and its segment ids.
    */
  private def build(docs: Long, segs: Int, seed: Long): (String, Seq[Int]) = {
    val dir = tmp("graftstats")
    val ms = IndexBuilder.buildPersistent(spark,
      Datagen.toInputDocs(Datagen.corpus(spark, docs, seed = seed), segs), dir)
    (dir, ms.map(_.seg))
  }

  /** Rewrites one field of `dir`'s manifest of `seg`. */
  private def editManifest(dir: String, seg: Int)(edit: String => String): Unit = {
    val f = new java.io.File(s"$dir/manifest/seg_$seg.json").toPath
    val json = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val edited = edit(json)
    assert(edited != json)
    java.nio.file.Files.write(f, edited.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  /** Rewrites every manifest under `root` (a dir or a snapshot's commit root). */
  private def editManifests(root: String)(edit: String => String): Unit =
    new java.io.File(s"$root/manifest").list().filter(n => n.startsWith("seg_") && n.endsWith(".json"))
      .foreach(n => editManifest(root, n.stripPrefix("seg_").stripSuffix(".json").toInt)(edit))

  test("committing one segment reads the same input into an index of N and of 2N segments") {
    val src = tmp("graftstatssrc")
    Datagen.toInputDocs(Datagen.corpus(spark, 150, seed = 83L), 1).withColumn("seg", lit(1000))
      .write.mode("overwrite").parquet(src)
    val commits = Seq(4, 8).map { n =>
      val (dir, _) = build(80L * n, n, 81L)
      val (ms, t) = JobProbe(spark)(
        IndexBuilder.buildPersistent(spark, spark.read.parquet(src).as[InputDoc], dir))
      assert(ms.map(m => (m.seg, m.docs)) == Seq((1000, 150L)), s"$n segments")
      assert(IndexBuilder.open(spark, dir).fieldStats.docCount == 80L * n + 150L)
      t.inputRecords
    }
    // the fingerprint job and the build job each read the new docs once
    assert(commits.head == 2 * 150L, commits)
    assert(commits.distinct.size == 1, s"input records with 4 and 8 segments: $commits")
  }

  test("opens sum the manifests with no job; a snapshot from before a merge keeps its stats") {
    val (dir, segs) = build(600, 6, 85L)
    val (live, t) = JobProbe(spark)(IndexBuilder.open(spark, dir))
    assert(t.jobs.isEmpty, t.jobs.flatten.map(_.name))
    val (n, tokens) = live.docmeta.agg(count(lit(1)), sum($"tokenCount".cast("long"))).as[(Long, Long)].head()
    assert(live.fieldStats == FieldStats(n, tokens))
    val terms = live.termStats.collect().sortBy(_.term).toSeq
    val id = IndexBuilder.commitSnapshot(dir)
    IndexMerger.mergeSegments(spark, dir, segs.take(4), maxPostingsPerRow = 64)
    val (snap, ts) = JobProbe(spark)(IndexBuilder.open(spark, dir, snapshot = Some(id)))
    assert(ts.jobs.isEmpty, ts.jobs.flatten.map(_.name))
    assert(snap.fieldStats == live.fieldStats)
    assert(snap.termStats.collect().sortBy(_.term).toSeq == terms)
    // the merge rewrote the rows (split at 64 postings), not the sums
    val merged = IndexBuilder.open(spark, dir)
    assert(merged.fieldStats == live.fieldStats)
    assert(merged.termStats.collect().sortBy(_.term).toSeq == terms)
  }

  test("a cold stats lookup sums split per-segment rows in one single-stage job, plain or serving") {
    val (dir, segs) = build(600, 4, 87L)
    IndexMerger.mergeSegments(spark, dir, segs, maxPostingsPerRow = 64)
    val plain = IndexBuilder.open(spark, dir)
    val rows = plain.postings.filter($"term" === "def").count()
    assert(rows > 1, "the merge must split the term's postings over several rows")
    val want = plain.termStats.filter($"term".isin("def", "class")).as[TermStats].collect()
    assert(want.length == 2)
    val q = BoolQ(should = Seq(TermQ("def"), TermQ("class"), TermQ("absent_term_zz")), minShouldMatch = 1)
    val serving = IndexBuilder.open(spark, dir, serving = true)
    Seq("plain" -> plain, "serving" -> serving).foreach { case (name, idx) =>
      val (_, t) = JobProbe(spark)(Searcher.plan(idx, q, doubleMode = false))
      assert(t.jobs.size == 1 && t.stages == 1, s"$name: ${t.jobs.map(_.map(_.name))}")
      assert(t.shuffleBytes == 0L, name)
      want.foreach(ts => assert(idx.termStatsCache.get(ts.term) == ts, s"$name ${ts.term}"))
      assert(idx.termStatsCache.get("absent_term_zz") == TermStats("absent_term_zz", 0L, 0L), name)
    }
  }

  test("CheckIndex reports a manifest whose docs figure was edited") {
    val docs = Datagen.toInputDocs(Datagen.corpus(spark, 300, seed = 89L), 3)
    val dir = tmp("graftstatscheck")
    val m = IndexBuilder.buildPersistent(spark, docs, dir).head
    assert(CheckIndex.run(IndexBuilder.open(spark, dir)).isEmpty)
    editManifest(dir, m.seg)(_.replace(s""""docs":${m.docs},""", s""""docs":${m.docs + 1},"""))
    val violations = CheckIndex.run(IndexBuilder.open(spark, dir))
    assert(violations.exists(_.contains("docCount")), violations)
  }

  test("an open meeting a manifest without the token figure fails naming the segment; resume rebuilds it") {
    val docs = Datagen.toInputDocs(Datagen.corpus(spark, 300, seed = 91L), 3)
    val dir = tmp("graftstatslayout")
    val built = IndexBuilder.buildPersistent(spark, docs, dir)
    val m = built.head
    editManifest(dir, m.seg)(_.replace(s""""sumTotalTermFreq":${m.sumTotalTermFreq},""", ""))
    val err = intercept[IllegalStateException](IndexBuilder.open(spark, dir))
    assert(err.getMessage.contains(s"segment ${m.seg}") && err.getMessage.contains("sumTotalTermFreq"),
      err.getMessage)
    assert(IndexBuilder.buildPersistent(spark, docs, dir).map(_.copy(dataDir = "")) ==
      built.map(_.copy(dataDir = "")))
    val idx = IndexBuilder.open(spark, dir)
    assert(idx.fieldStats.docCount == 300)
    assert(CheckIndex.run(idx).isEmpty)
  }

  test("a dir of the older layout with a snapshot and a merged segment: resume and purge run, opens fail naming a segment") {
    val docs = Datagen.toInputDocs(Datagen.corpus(spark, 400, seed = 93L), 4)
    val dir = tmp("graftstatsolder")
    val segs = IndexBuilder.buildPersistent(spark, docs, dir).map(_.seg)
    val id = IndexBuilder.commitSnapshot(dir)
    val merged = IndexMerger.mergeSegments(spark, dir, segs.take(2)).get.seg
    def gens = new java.io.File(s"$dir/segments").list().filter(_.startsWith("gen_")).toSet
    val before = gens
    val olderLayout = (json: String) => json.replaceAll("\"sumTotalTermFreq\":\\d+,", "")
    editManifests(dir)(olderLayout)
    editManifests(s"$dir/commits/commit_$id")(olderLayout)
    // resume rebuilds the input segments; the commit's generation marking
    // and a purge still see every generation the old manifests reference
    assert(IndexBuilder.buildPersistent(spark, docs, dir).map(_.seg) == segs)
    IndexBuilder.purgeGenerations(dir, graceMs = 0)
    assert(before.subsetOf(gens), s"$before -> $gens")
    val live = intercept[IllegalStateException](IndexBuilder.open(spark, dir))
    assert(live.getMessage.contains(s"segment $merged"), live.getMessage)
    val snap = intercept[IllegalStateException](IndexBuilder.open(spark, dir, snapshot = Some(id)))
    assert(snap.getMessage.contains("unreadable manifest of segment"), snap.getMessage)
  }
}
