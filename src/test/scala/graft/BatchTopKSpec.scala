package graft

import graft.build.{Datagen, Index, IndexBuilder}
import graft.exec.Searcher
import graft.query._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** `Searcher.topKBatch` (one kernel job, at most k hits per query per
  * task, a driver merge per query) against its definition on one
  * persistent index opened plain, serving, and with a reader that packs
  * two segments into one task: each query's rows equal its own `topKQ`
  * rows ranked 1..k, rows come in `orderBy(qid, rank)` order, the schema
  * is fixed, and a warm call runs one single-stage job.
  */
class BatchTopKSpec extends SparkTest {
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graftbatch").toString
    val src = Datagen.corpus(spark, 900, seed = 31L, numPartitions = 3)
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 3), d)
    d
  }
  private lazy val plain = IndexBuilder.open(spark, dir)
  private lazy val serving = IndexBuilder.open(spark, dir, serving = true)
  // three segments in two reader partitions: one task merges two segments
  private lazy val packed = new Index(plain.postings, plain.docmeta,
    plain.fieldStats, plain.live, () => false,
    Some(Searcher.bySegment(plain.postings.rdd, aligned = false, partitions = 2).persist()))
  private lazy val opens = Seq("plain" -> plain, "serving" -> serving, "packed" -> packed)

  /** qid -> (docId, score) rows in rank order; ranks must run 1..n. */
  private def perQid(df: DataFrame): Map[String, Seq[(Long, Any)]] =
    df.collect().groupBy(_.getString(0)).map { case (qid, rs) =>
      assert(rs.map(_.getLong(3)).toSeq == (1L to rs.length.toLong), s"ranks of [$qid]")
      qid -> rs.toSeq.map(r => (r.getLong(1), r.get(2)))
    }

  private def single(ix: Index, q: Query, k: Int, doubleMode: Boolean): Seq[(Long, Any)] =
    Searcher.topKQ(ix, q, k, doubleMode = doubleMode).collect().toSeq.map(r => (r.getLong(0), r.get(1)))

  /** One batch per mode; every qid's rows equal the topKQ rows of its
    * first query, and no other qid appears.
    */
  private def assertPerQuery(ix: Index, named: Seq[(String, Query)], k: Int): Map[String, Seq[(Long, Any)]] = {
    val first = named.distinctBy(_._1)
    Seq(false, true).map { dm =>
      val got = perQid(Searcher.topKBatch(ix, named, k, doubleMode = dm))
      assert(got.keySet.subsetOf(first.map(_._1).toSet))
      first.foreach { case (qid, q) =>
        assert(got.getOrElse(qid, Nil) == single(ix, q, k, dm), s"doubleMode=$dm, [$qid: $q]")
      }
      got
    }.head
  }

  test("one topKBatch over random trees == each query's topKQ (float and double, every source)") {
    assert(packed.reader.get.getNumPartitions == 2 &&
      packed.reader.get.map(_._1).glom().collect().map(_.length).sorted.toSeq == Seq(1, 2))
    val rnd = new scala.util.Random(4242)
    val named = Seq.fill(30)(RandomQueries.randomQuery(rnd, 2)).zipWithIndex.map { case (q, i) => s"r$i" -> q }
    opens.foreach { case (_, ix) => assertPerQuery(ix, named, 10) }
  }

  test("topKBatch: fewer than k hits, no hits, ties at the k-th score, duplicate qids") {
    val k = 10
    val sparse = TermQ("needle_0")
    val n = Searcher.countQ(plain, sparse)
    assert(n > 0 && n < k, s"needle_0 matches $n docs")
    val tied = ConstScoreQ(TermQ("def"), 1f)
    val named: Seq[(String, Query)] = Seq(
      "sparse" -> sparse,
      "none" -> TermQ("nonexistent_a"),
      "none2" -> BoolQ(must = Seq(TermQ("def"), TermQ("nonexistent_b"))),
      "tied" -> tied,
      "tied2" -> ConstScoreQ(TermQ("class"), 2f),
      "dup" -> TermQ("def"),
      "dup" -> TermQ("class"))
    opens.foreach { case (name, ix) =>
      val got = assertPerQuery(ix, named, k)
      assert(got("sparse").size == n, name)
      assert(!got.contains("none") && !got.contains("none2"), name)
      // every match scores 1.0: the k smallest matching docIds win
      val want = Searcher.matchingDocs(ix, tied).collect().map(_.longValue).sorted.take(k)
      assert(want.length == k && got("tied") == want.toSeq.map(d => (d, 1f)), name)
      assert(got("dup") == single(ix, TermQ("def"), k, doubleMode = false), name)
    }
    Query.withMultiTermRewrite(Query.ScoringBooleanRewrite) {
      Query.withMaxClauseCount(3) {
        intercept[Query.TooManyClauses] {
          Searcher.topKBatch(plain, Seq("a" -> TermQ("def"), "w" -> PrefixQ("ident_")), k)
        }
      }
    }
  }

  test("topKBatch rows come in orderBy(qid, rank) order (UTF-8 qid order)") {
    val qids = Seq("😀", "｡", "z", "B", "b", "é", "", "a\u0000")
    // Java's UTF-16 order and Spark's UTF-8 byte order disagree on these two
    assert("😀".compareTo("｡") < 0)
    val terms = Seq("def", "class", "return", "val")
    val named = qids.zipWithIndex.map { case (q, i) => q -> (TermQ(terms(i % terms.size)): Query) }
    Seq(false, true).foreach { dm =>
      val df = Searcher.topKBatch(serving, named, 5, doubleMode = dm)
      val rows = df.collect().toSeq
      assert(rows.map(_.getString(0)).distinct.size == qids.size)
      assert(rows == df.orderBy($"qid", $"rank").collect().toSeq, s"doubleMode=$dm")
      assert(rows.map(_.getString(0)).indexOf("｡") < rows.map(_.getString(0)).indexOf("😀"))
    }
  }

  test("k < 1 is rejected on the driver by topK, topKQ and topKBatch before any job") {
    val ix = serving
    Searcher.topKQ(ix, TermQ("def"), 1) // open the reader outside the probe
    val calls: Seq[(String, Int => Any)] = Seq(
      "topK" -> (k => Searcher.topK(ix, "def OR class", k)),
      "topKQ" -> (k => Searcher.topKQ(ix, PrefixQ("needle_"), k)),
      "topKBatch" -> (k => Searcher.topKBatch(ix, Seq("a" -> TermQ("def"), "b" -> FuzzyQ("retrun", 1)), k)))
    for ((name, call) <- calls; k <- Seq(0, -3)) {
      val (e, trace) = JobProbe(spark)(intercept[IllegalArgumentException](call(k)))
      assert(e.getMessage == "k must be > 0", s"$name k=$k")
      assert(trace.jobs.isEmpty, s"$name k=$k started ${trace.jobs.size} job(s)")
    }
  }

  test("empty and non-empty topKBatch results share one schema in both modes") {
    Seq(false, true).foreach { dm =>
      val want = StructType(Seq(
        StructField("qid", StringType),
        StructField("docId", LongType, nullable = false),
        StructField("score", if (dm) DoubleType else FloatType, nullable = false),
        StructField("rank", LongType, nullable = false)))
      val full = Searcher.topKBatch(plain, Seq("a" -> TermQ("def")), 10, doubleMode = dm)
      val noQueries = Searcher.topKBatch(plain, Nil, 10, doubleMode = dm)
      val noHits = Searcher.topKBatch(plain, Seq("a" -> TermQ("nonexistent_a")), 10, doubleMode = dm)
      assert(full.count() == 10 && noQueries.count() == 0 && noHits.count() == 0)
      Seq(full, noQueries, noHits).foreach(df => assert(df.schema == want, s"doubleMode=$dm: ${df.schema}"))
    }
  }

  test("a warm topKBatch runs one job of one stage with no shuffle (serving and plain aligned opens)") {
    // no fuzzy clause: its dictionary expansion is a planning job of its own
    val named: Seq[(String, Query)] = Seq(
      TermQ("def"), TermQ("needle_1"),
      BoolQ(must = Seq(TermQ("def"), TermQ("class"))),
      BoolQ(should = Seq(TermQ("val"), TermQ("return")), minShouldMatch = 1),
      PhraseQ(Seq("def", "class"), slop = 1), PrefixQ("ident_2"),
      DisMaxQ(Seq(TermQ("def"), TermQ("return")), 0.5d),
      BoolQ(must = Seq(TermQ("return")), filter = Seq(TermQ("val")))
    ).zipWithIndex.map { case (q, i) => s"q$i" -> q }
    Seq("plain" -> plain, "serving" -> serving).foreach { case (name, ix) =>
      assert(ix.segAligned, name)
      Searcher.topKBatch(ix, named, 10) // builds the reader, warms the stats cache
      val (rows, trace) = JobProbe(spark)(Searcher.topKBatch(ix, named, 10).collect())
      assert(rows.nonEmpty, name)
      assert(trace.jobs.size == 1 && trace.stages == 1,
        s"$name: expected one single-stage job, got ${trace.jobs.map(_.map(_.name))}")
      assert(trace.shuffleBytes == 0L, name)
    }
  }
}
