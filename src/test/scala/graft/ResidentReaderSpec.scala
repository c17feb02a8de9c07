package graft

import graft.build.{Datagen, Index, IndexBuilder, LiveDocs, MapLiveDocs}
import graft.exec.Searcher
import graft.model.ScoredDocD
import graft.query._

/** The two per-segment sources of `Searcher` give identical results: one
  * persistent index opened plain (pushed-down postings scan) and with
  * `serving = true` (resident per-segment term maps), on every execution
  * path, for random query trees, over-cap wide expansions and live
  * deletes. Two more variants cover the shuffle-grouped forms of each
  * source (an unaligned scan, a reader grouped through a shuffle).
  */
class ResidentReaderSpec extends SparkTest {
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graftresident").toString
    val src = Datagen.corpus(spark, 900, seed = 23L, numPartitions = 3)
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 3), d)
    d
  }
  private lazy val plain = IndexBuilder.open(spark, dir)
  private lazy val serving = IndexBuilder.open(spark, dir, serving = true)

  private lazy val shuffledReader =
    Searcher.bySegment(plain.postings.rdd, aligned = false, partitions = 2).persist()

  /** (name, index) pairs: the plain open first, every other one must
    * equal it.
    */
  private def sources(live: LiveDocs): Seq[(String, Index)] = {
    def withLive(ix: Index, postings: org.apache.spark.sql.Dataset[graft.model.PostingList],
        aligned: Boolean, reader: Option[org.apache.spark.rdd.RDD[(Int, Map[String, graft.model.PostingList])]]) =
      new Index(postings, ix.docmeta, ix.termStats, ix.fieldStats, live, () => aligned, reader)
    Seq(
      "plain" -> withLive(plain, plain.postings, plain.segAligned, None),
      "serving" -> withLive(serving, serving.postings, serving.segAligned, serving.reader),
      "unaligned scan" -> withLive(plain, plain.postings.repartition(2), aligned = false, None),
      "shuffled reader" -> withLive(plain, plain.postings, aligned = false, Some(shuffledReader)))
  }

  private val collector = new Searcher.CollectorFactory[(Int, Long, Long, Double)] {
    def newLeaf(seg: Int): Searcher.LeafCollector[(Int, Long, Long, Double)] =
      new Searcher.LeafCollector[(Int, Long, Long, Double)] {
        private var n = 0L
        private var last = -1L
        private var sum = 0d
        def collect(docId: Long, score: Double): Unit = { n += 1; last = docId; sum += score }
        def finish(): Iterator[(Int, Long, Long, Double)] = Iterator.single((seg, n, last, sum))
      }
  }

  /** Every single-query execution path of `q` on `ix`, as comparable values. */
  private def runAll(ix: Index, q: Query): Seq[Any] = Seq(
    Searcher.topKQ(ix, q, 10).as[(Long, Float)].collect().toSeq,
    Searcher.topKQ(ix, q, 10, doubleMode = true).as[(Long, Double)].collect().toSeq,
    Searcher.countQ(ix, q),
    Searcher.matchingDocs(ix, q).collect().map(_.longValue).sorted.toSeq,
    Searcher.scoredMatches(ix, q).as[(Long, Float)].collect().sorted.toSeq,
    Searcher.collectQ(ix, q, collector).collect().sorted.toSeq)

  private def assertSame(live: LiveDocs, qs: Seq[Query]): Unit = {
    val srcs = sources(live)
    val (_, base) = srcs.head
    qs.foreach { q =>
      val want = runAll(base, q)
      srcs.tail.foreach { case (name, ix) =>
        val got = runAll(ix, q)
        want.zip(got).zipWithIndex.foreach { case ((w, g), path) =>
          assert(g == w, s"$name, path $path, query [$q]:\n got=$g\n exp=$w")
        }
      }
    }
    val named = qs.zipWithIndex.map { case (q, i) => s"q$i" -> q }
    val batch = Searcher.topKBatch(base, named, 10).collect().toSeq
    val docs = Searcher.docsBatch(base, named).as[(String, Long)].collect().sorted.toSeq
    assert(batch.nonEmpty && docs.nonEmpty)
    srcs.tail.foreach { case (name, ix) =>
      assert(Searcher.topKBatch(ix, named, 10).collect().toSeq == batch, s"$name: topKBatch")
      assert(Searcher.docsBatch(ix, named).as[(String, Long)].collect().sorted.toSeq == docs,
        s"$name: docsBatch")
    }
  }

  private val fixed: Seq[Query] = Seq(
    TermQ("def"), TermQ("needle_0"), TermQ("nonexistent_a"),
    BoolQ(must = Seq(TermQ("def"), TermQ("class"))),
    BoolQ(should = Seq(TermQ("val"), TermQ("needle_1")), minShouldMatch = 1),
    PhraseQ(Seq("def", "class"), slop = 1),
    BoolQ(must = Seq(TermQ("return")), filter = Seq(PrefixQ("ident_2"))))

  test("serving open == plain open on every execution path (random trees)") {
    val rnd = new scala.util.Random(5150)
    assertSame(graft.build.NoDeletes, fixed ++ Seq.fill(30)(RandomQueries.randomQuery(rnd, 2)))
  }

  test("serving open == plain open for over-cap wide expansions and live deletes") {
    val wide: Seq[Query] = Seq(
      PrefixQ("ident_1"), WildcardQ("i?ent_2*"), RegexpQ("ident_[0-9]+"),
      TermRangeQ("ident_1", "ident_3", incLo = true, incHi = false),
      BoolQ(must = Seq(TermQ("def")), filter = Seq(PrefixQ("camel"))),
      BoolQ(should = Seq(TermQ("class"), WildcardQ("*name1*")), minShouldMatch = 1))
    // a cap of 3 sends every pattern above to the executor-side wide match
    Query.withMaxClauseCount(3)(assertSame(graft.build.NoDeletes, wide))
    val ids = plain.docmeta.select($"docId").as[Long].collect()
    val rnd = new scala.util.Random(99)
    val live = MapLiveDocs(ids.filter(_ => rnd.nextDouble() < 0.1).toSeq
      .groupBy(IndexBuilder.segOf).map { case (s, d) => s -> d.sorted.toArray })
    assert(live.deletedCount > 0)
    Query.withMaxClauseCount(3)(assertSame(live, wide ++ fixed))
  }

  test("a warm serving topKQ runs one job of one stage; results are local") {
    assert(serving.reader.isDefined && serving.segAligned)
    val q = BoolQ(should = Seq(TermQ("def"), TermQ("class")), minShouldMatch = 1)
    Searcher.topKQ(serving, q, 10) // builds the reader, warms the stats cache
    val (rows, trace) = JobProbe(spark)(Searcher.topKQ(serving, q, 10).collect())
    assert(rows.length == 10)
    assert(trace.jobs.size == 1 && trace.stages == 1,
      s"expected one single-stage job, got ${trace.jobs.map(_.map(_.name))}")
    assert(trace.shuffleBytes == 0L)
    val r = serving.reader.get
    assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
      i.id == r.id && i.numCachedPartitions == i.numPartitions), "reader is not resident")
    // the fixed result schema is the one Dataset[ScoredDocD] gives
    val ds = Seq.empty[ScoredDocD].toDF()
    assert(Searcher.topKQ(serving, q, 10, doubleMode = true).schema == ds.schema)
    assert(Searcher.topKQ(serving, q, 10).schema ==
      ds.select($"docId", $"score".cast("float").as("score")).schema)
  }
}
