package graft

import graft.build.{Datagen, IndexBuilder, InputDoc}
import graft.exec.Searcher
import graft.query.QueryParser
import graft.query.{Query, TermQ, PhraseQ, PrefixQ, BoolQ, BoostQ, SynonymQ,
  BlendedTermQ, CombinedFieldQ}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTest extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
}

/** Differential top-k tests — engine vs exhaustive in-memory oracle
  * (reference practice: CheckHits / QueryUtils, SURVEY.md §5.3).
  * Exercises every physical strategy: single-term impacts skipping,
  * block-max conjunction, WAND, generic cursors (not/phrase/prefix/
  * nested/minShouldMatch), across 1 and 4 segments.
  */
class SearchDifferentialSpec extends SparkTest {
  import spark.implicits._

  private val N = 1200
  private lazy val rows = (0L until N).map(i => Datagen.row(7L, i, 20, 300))

  // engine-visible corpus with deterministic docIds, 4 segments
  private def inputDocs(numSegments: Int): Seq[InputDoc] =
    rows.map { r =>
      val key = s"${r.repo}/${r.path}@${r.commit}"
      val seg = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), numSegments)
      InputDoc(seg, key, r.repo, r.path, r.commit, r.lang, r.content)
    }

  private def docIdsOf(docs: Seq[InputDoc]): Seq[(Long, String)] =
    docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
      ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
        ((seg.toLong << IndexBuilder.SegShift) | ord.toLong, d.content)
      }
    }

  private val queries = Seq(
    "def",
    "needle_1",
    "def AND class",
    "def AND class AND return AND val",
    "val OR needle_0",
    "def OR class OR return",
    "(def AND return) OR needle_1",
    "ident_17 AND NOT ident_23",
    "def AND NOT needle_0",
    "\"class camelCaseName7\"",
    "ident_2*",
    "camelCaseName1*",
    "nonexistent_term_xyz",
    "def AND nonexistent_term_xyz",
    "def OR nonexistent_term_xyz"
  )

  for (numSegments <- Seq(1, 4)) {
    test(s"engine == oracle on all fixture query shapes ($numSegments segment(s))") {
      val docs = inputDocs(numSegments)
      val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
      val oracle = NaiveOracle.fromContents(docIdsOf(docs))
      queries.foreach { qs =>
        val expected = NaiveOracle.search(oracle, QueryParser.parse(qs), 10)
        val got = Searcher.topK(index, qs, 10)
          .as[(Long, Float)].collect().toSeq
        assert(got == expected, s"query [$qs] segs=$numSegments:\n got=$got\n exp=$expected")
      }
    }
  }

  test("fuzzy / term-range / dismax == oracle") {
    import graft.query._
    val docs = inputDocs(3)
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val oracle = NaiveOracle.fromContents(docIdsOf(docs))
    val shapes: Seq[Query] = Seq(
      FuzzyQ("clasz", 1), // ~ class
      FuzzyQ("ident_17", 2),
      TermRangeQ("va", "var"), // val, var
      TermRangeQ("val", "var", incLo = false, incHi = true), // excl lower: var only
      TermRangeQ("val", "var", incLo = true, incHi = false), // excl upper: val only
      TermRangeQ("val", "var", incLo = false, incHi = false), // both excl: nothing between
      PhrasePrefixQ(Seq("def"), "cla"), // "def cla*"
      PhrasePrefixQ(Seq("val"), "ident_1"), // expansion cap binds (111 terms -> first 50)
      PhrasePrefixQ(Seq("class"), "zzz_nope"), // no expansion -> MatchNone
      DisMaxQ(Seq(TermQ("def"), TermQ("class")), 0d),
      DisMaxQ(Seq(TermQ("def"), TermQ("class"), TermQ("return")), 0.3d),
      BoolQ(must = Seq(DisMaxQ(Seq(TermQ("val"), TermQ("var")), 0d)), mustNot = Seq(TermQ("needle_0"))),
      SynonymQ(Seq("val", "var")),
      SynonymQ(Seq("def", "nonexistent_xyz")),
      BoolQ(must = Seq(SynonymQ(Seq("if", "else")), TermQ("class")))
    )
    shapes.foreach { q =>
      val expected = NaiveOracle.search(oracle, q, 10)
      val got = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"query [$q]:\n got=$got\n exp=$expected")
    }
  }

  test("scoredMatches == topKQ over the full corpus (set and scores)") {
    import graft.query._
    val docs = inputDocs(4)
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val shapes: Seq[Query] = Seq(
      TermQ("def"), TermQ("needle_1"),
      BoolQ(must = Seq(TermQ("def"), TermQ("class"))),
      BoolQ(should = Seq(TermQ("val"), TermQ("needle_0"))),
      TermQ("nonexistent_term_xyz"))
    for (q <- shapes; dm <- Seq(true, false)) {
      // k >= corpus size makes topKQ exhaustive: same match set, same
      // scores, only the global merge differs (scoredMatches has none);
      // float mode casts after the merge on both paths
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
        (if (dm) df.as[(Long, Double)].collect().toSeq
         else df.as[(Long, Float)].collect().toSeq.map { case (d, s) => (d, s.toDouble) }).sorted
      val viaTopK = rows(Searcher.topKQ(index, q, N * 2, doubleMode = dm))
      val viaAll = rows(Searcher.scoredMatches(index, q, doubleMode = dm))
      assert(viaAll == viaTopK, s"query [$q] doubleMode=$dm: all=${viaAll.size} topk=${viaTopK.size}")
    }
  }

  test("MoreLikeThis: thresholds, tf*idf ranking, and search == oracle") {
    import graft.exec.MoreLikeThis
    import graft.query.TermQ
    val docs = inputDocs(2)
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val withIds = docIdsOf(docs)
    // deterministic source doc with enough repeated terms to select from
    val (srcId, content) = withIds.find { case (_, c) =>
      graft.analysis.CodeAnalyzer.tokenize(c)
        .groupBy(_.term).count(_._2.length >= 2) >= 3
    }.get
    val p = MoreLikeThis.Params(minTermFreq = 2, minDocFreq = 5, maxQueryTerms = 8)
    val sel = MoreLikeThis.selectTerms(index, content, p)
    assert(sel.nonEmpty && sel.size <= 8)
    val tf = graft.analysis.CodeAnalyzer.tokenize(content)
      .groupBy(_.term).map { case (t, xs) => (t, xs.length) }
    val docTerms = withIds.map { case (_, c) =>
      graft.analysis.CodeAnalyzer.tokenize(c).map(_.term).toSet
    }
    sel.foreach { case (t, s) =>
      assert(tf(t) >= p.minTermFreq, s"tf threshold violated for $t")
      val df = docTerms.count(_.contains(t))
      assert(df >= p.minDocFreq, s"df threshold violated for $t (df=$df)")
      val expScore = tf(t) * (math.log((withIds.size + 1).toDouble / (df + 1).toDouble) + 1.0)
      assert(math.abs(s - expScore) < 1e-9, s"score mismatch for $t")
    }
    // ranking: quantised scores non-increasing; ties broken term asc
    val quant = sel.map { case (_, s) => math.floor(s * 10000d + 0.5d) }
    assert(quant == quant.sortBy(-_))
    // the formed query searches like any SHOULD disjunction
    val q = MoreLikeThis.likeQuery(index, content, p)
    val oracle = NaiveOracle.fromContents(withIds)
    val expected = NaiveOracle.search(oracle,
      BoolQ(should = sel.map { case (t, _) => TermQ(t) }), 10)
    val got = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
    assert(got == expected)
    // the reference MLT does not exclude the source doc: it must rank
    assert(got.exists(_._1 == srcId))
  }

  test("repeated-term sloppy phrases: rptGroups collision semantics == oracle") {
    import graft.query._
    // crafted corpus where repeat handling is decisive: a doc with fewer
    // occurrences of `alpha` than the phrase has alpha-slots must NOT match
    val contents = Seq(
      "alpha beta gamma",        // 1x alpha -> no match for "alpha beta alpha"
      "alpha beta alpha",        // exact -> weight 1
      "alpha beta alpha alpha",  // exact + length-2 window -> 1 + 1/3
      "alpha alpha beta",        // only the spread assignment -> 1/3
      "beta gamma beta delta"    // control for a different repeated term
    )
    val docs = contents.zipWithIndex.map { case (c, i) =>
      InputDoc(0, s"r/p$i@c", "r", s"p$i", "c", "x", c)
    }
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val withIds = docs.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
      (ord.toLong, d.content)
    }
    val oracle = NaiveOracle.fromContents(withIds)
    val oneAlpha = withIds.collectFirst { case (id, c) if c == contents(0) => id }.get
    val exactAba = withIds.collectFirst { case (id, c) if c == contents(1) => id }.get
    val shapes: Seq[Query] = Seq(
      PhraseQ(Seq("alpha", "beta", "alpha"), slop = 2),
      PhraseQ(Seq("alpha", "beta", "alpha"), slop = 1),
      PhraseQ(Seq("beta", "gamma", "beta"), slop = 2),
      PhraseQ(Seq("alpha", "alpha"), slop = 3)
    )
    shapes.foreach { q =>
      val expected = NaiveOracle.search(oracle, q, 10)
      val got = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"query [$q]:\n got=$got\n exp=$expected")
    }
    val aba = Searcher.topKQ(index, PhraseQ(Seq("alpha", "beta", "alpha"), slop = 2), 10)
      .as[(Long, Float)].collect().toSeq
    assert(!aba.exists(_._1 == oneAlpha),
      "doc with a single `alpha` must not match the two-alpha-slot phrase")
    assert(aba.exists(_._1 == exactAba))
  }

  test("sub-token analyzer index: camelCase parts searchable, == oracle") {
    val docs = inputDocs(3)
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs), "sub")
    val oracle = NaiveOracle.fromContents(docIdsOf(docs), graft.analysis.CodeAnalyzer.subTokenize)
    // `camel`, `name` now hit (the verdict's "searching camel gets nothing"
    // gap); the full compound token no longer exists as one term
    Seq("camel", "name", "camel AND case AND name",
      "\"camel case\"", "camelcasename7", "ident_17").foreach { qs =>
      val expected = NaiveOracle.search(oracle, QueryParser.parse(qs), 10)
      val got = Searcher.topK(index, qs, 10).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"subtoken query [$qs]:\n got=$got\n exp=$expected")
    }
    assert(Searcher.topK(index, "camel", 10).count() > 0)
  }

  test("k larger than hit count and k=1 behave") {
    val docs = inputDocs(2)
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val oracle = NaiveOracle.fromContents(docIdsOf(docs))
    Seq(1, 1000).foreach { k =>
      val qs = "needle_0 OR needle_1"
      val expected = NaiveOracle.search(oracle, QueryParser.parse(qs), k)
      val got = Searcher.topK(index, qs, k).as[(Long, Float)].collect().toSeq
      assert(got == expected)
    }
  }
}

/** Per-row invariant demanded by the driver: sha256(content) equality
  * between docmeta and the source table, plus norm-byte correctness.
  */
class InvariantSpec extends SparkTest {
  import spark.implicits._

  test("sha256(content) matches source for every doc; norms = intToByte4(tokenCount)") {
    val src = Datagen.corpus(spark, 500, seed = 11L)
    val index = IndexBuilder.buildInMemory(spark, Datagen.toInputDocs(src, 3))
    val joined = index.docmeta.join(src, Seq("repo", "path", "commit"))
      .select($"sha256", org.apache.spark.sql.functions.sha2($"content", 256).as("expected"),
        $"tokenCount", $"norm", $"content")
      .collect()
    assert(joined.length == 500)
    joined.foreach { r =>
      assert(r.getString(0) == r.getString(1), "sha256 mismatch")
      val tc = graft.analysis.CodeAnalyzer.tokenCount(r.getString(4))
      assert(r.getInt(2) == tc)
      assert(r.getByte(3) == graft.util.SmallFloat.intToByte4(tc))
    }
  }

  test("CheckIndex-style invariants: docIds strictly ascending, df == postings length, stats consistent") {
    val src = Datagen.corpus(spark, 400, seed = 12L)
    val index = IndexBuilder.buildInMemory(spark, Datagen.toInputDocs(src, 4))
    val posts = index.postings.collect()
    posts.foreach { pl =>
      val d = graft.codec.PostingCodec.decodeAll(pl)
      assert(d.docIds.length == pl.df)
      assert(d.freqs.map(_.toLong).sum == pl.ttf)
      assert(d.docIds.toSeq == d.docIds.toSeq.sorted)
      assert(d.docIds.distinct.length == d.docIds.length)
      assert(d.docIds.forall(id => IndexBuilder.segOf(id) == pl.seg))
    }
    // global term stats = sum of segment-local
    val byTerm = posts.groupBy(_.term).map { case (t, ps) => t -> (ps.map(_.df.toLong).sum, ps.map(_.ttf).sum) }
    index.termStats.collect().foreach { ts =>
      assert(byTerm(ts.term) == ((ts.df, ts.ttf)), s"stats mismatch for ${ts.term}")
    }
    val fs = index.fieldStats
    assert(fs.docCount == 400)
    assert(fs.sumTotalTermFreq == index.docmeta.agg(org.apache.spark.sql.functions.sum($"tokenCount")).as[Long].head())
  }
}

/** Shuffle-free partition-local build (input partition = segment, the
  * DWPT analogue) produces a searchable, invariant-clean index equal in
  * results to the hash-routed build.
  */
class PartitionLocalBuildSpec extends SparkTest {
  import spark.implicits._

  test("partition-local build: searchable, CheckIndex clean, manifests complete") {
    val dir = java.nio.file.Files.createTempDirectory("graftplocal").toString
    val src = Datagen.corpus(spark, 800, seed = 9L, numPartitions = 4)
    val manifests = IndexBuilder.buildPartitionLocal(spark, src, dir)
    assert(manifests.size == 4 && manifests.map(_.docs).sum == 800)
    assert(manifests.forall(m => m.postings > 0 && m.bytes > 0))
    val index = IndexBuilder.open(spark, dir)
    assert(graft.build.CheckIndex.run(index).isEmpty)
    assert(index.fieldStats.docCount == 800)
    // plain (non-serving) open: the alignment probe detects the build's
    // write layout and enables the no-shuffle kernel path WITHOUT the
    // up-front repartition job — a warm query runs one job of ONE stage
    // and moves no shuffle bytes
    assert(index.segAligned, "alignment probe should detect the build layout")
    Searcher.topK(index, "def AND class", 10) // warms the stats cache
    val (_, trace) = JobProbe(spark)(Searcher.topK(index, "def AND class", 10))
    assert(trace.jobs.size == 1 && trace.stages == 1,
      s"expected one single-stage job, got ${trace.jobs.map(_.map(_.name))}")
    assert(trace.shuffleBytes == 0L, s"query shuffled ${trace.shuffleBytes} bytes")
    // differential vs oracle with the same docId assignment (partition order)
    val perPart = src.mapPartitions { it =>
      val seg = org.apache.spark.TaskContext.getPartitionId()
      it.zipWithIndex.map { case (r, i) =>
        ((seg.toLong << IndexBuilder.SegShift) | i.toLong, r.content)
      }
    }.collect().toSeq
    val oracle = NaiveOracle.fromContents(perPart)
    Seq("def AND class", "needle_0", "val OR needle_0", "\"class camelCaseName7\"").foreach { qs =>
      val expected = NaiveOracle.search(oracle, QueryParser.parse(qs), 10)
      val got = Searcher.topK(index, qs, 10).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"query [$qs]")
    }
    // serving-mode open: the resident per-segment reader — results must
    // be identical
    val serving = IndexBuilder.open(spark, dir, serving = true)
    assert(serving.segAligned)
    Seq("def AND class", "needle_0", "val OR needle_0", "\"class camelCaseName7\"").foreach { qs =>
      val expected = NaiveOracle.search(oracle, QueryParser.parse(qs), 10)
      val got = Searcher.topK(serving, qs, 10).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"serving query [$qs]")
    }
  }
}

/** Edge-shaped corpus differential: empty docs, single-token docs,
  * exact duplicates, a very long doc (norm-byte saturation), and docs
  * with empty paths — the norm/field boundary cases a uniform synthetic
  * corpus never hits.
  */
class EdgeCorpusSpec extends SparkTest {
  import spark.implicits._

  test("edge corpus == oracle on term/phrase/fielded/combined shapes") {
    val contents = Seq(
      "",                                  // empty content (no norms row entry)
      "solo",                              // 1-token doc
      "dup dup dup",                       // repeated term
      "alpha beta gamma", "alpha beta gamma", // exact duplicate docs
      ("verylong " * 3000).trim,           // norm-byte saturation (3000 tokens)
      "alpha", "beta solo alpha",
      "the of to and a",                   // all-stopword-looking (kept: std mode has no stops)
      "x"
    )
    val docs = contents.zipWithIndex.map { case (c, i) =>
      // some docs share paths; one empty path (no path field)
      val path = if (i == 3) "" else s"p${i % 3}/f$i.x"
      InputDoc(i % 2, f"$i%04d", "r", path, i.toString, "en", c)
    }
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val oracleDocs = NaiveOracle.fromContentsWithPath(
      docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
        ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
          ((seg.toLong << IndexBuilder.SegShift) | ord.toLong, d.content, d.path)
        }
      })
    val queries: Seq[Query] = Seq(
      TermQ("solo"), TermQ("dup"), TermQ("verylong"), TermQ("alpha"),
      PhraseQ(Seq("alpha", "beta")), PhraseQ(Seq("dup", "dup")),
      PhraseQ(Seq("alpha", "beta", "alpha"), slop = 2),
      TermQ("@path:p1"), TermQ("@path:x"), PrefixQ("@path:f"),
      CombinedFieldQ("x", Seq(("content", 1f), ("path", 2f))),
      CombinedFieldQ("alpha", Seq(("content", 2f), ("path", 1f))),
      BoolQ(should = Seq(TermQ("solo"), TermQ("@path:p2")), minShouldMatch = 1),
      BoostQ(PhraseQ(Seq("beta", "gamma")), 2f),
      SynonymQ(Seq("alpha", "x")),
      BlendedTermQ(Seq("dup", "solo"))
    )
    queries.foreach { q =>
      val expected = NaiveOracle.search(oracleDocs, q, 10)
      val got = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"edge [$q]:\n got=$got\n exp=$expected")
    }
  }
}

/** Pluggable Similarity: ClassicSimilarity (TF-IDF) float-parity vs a
  * direct brute-force computation of the reference formula.
  */
class ClassicSimSpec extends SparkTest {
  import spark.implicits._

  test("ClassicSim top-k == brute-force TF-IDF (float op order)") {
    val rows = (0L until 400L).map(i => Datagen.row(21L, i, 9, 120))
    val docs = rows.map { r =>
      val key = s"${r.repo}/${r.path}@${r.commit}"
      InputDoc(math.floorMod(key.hashCode, 3), key, r.repo, r.path, r.commit, r.lang, r.content)
    }
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val oracleDocs = docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
      ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
        ((seg.toLong << IndexBuilder.SegShift) | ord.toLong,
          graft.analysis.CodeAnalyzer.tokenize(d.content))
      }
    }
    val n = oracleDocs.size.toLong
    def brute(terms: Seq[String], k: Int): Seq[(Long, Float)] = {
      // TFIDFSimilarity.TFIDFScorer.score: (sqrt(freq)*queryWeight)*normTable
      val table = Array.tabulate(256) { i =>
        if (i == 0) 0f
        else (1.0 / math.sqrt(graft.util.SmallFloat.LengthTable(i).toDouble)).toFloat
      }
      val hits = oracleDocs.flatMap { case (id, toks) =>
        val tf = toks.groupBy(_.term).map { case (t, xs) => t -> xs.length }
        val norm = graft.util.SmallFloat.intToByte4(toks.length)
        val scores = terms.flatMap { t =>
          tf.get(t).map { f =>
            val df = oracleDocs.count(_._2.exists(_.term == t)).toLong
            val w = (math.log((n + 1) / (df + 1).toDouble) + 1.0).toFloat
            ((math.sqrt(f.toDouble).toFloat * w) * table(norm & 0xff)).toDouble
          }
        }
        if (scores.isEmpty) None else Some((id, scores.sum.toFloat))
      }
      hits.sortBy { case (id, s) => (-s, id) }.take(k)
    }
    Seq(Seq("def"), Seq("needle_3"), Seq("def", "class"), Seq("val", "needle_2")).foreach { ts =>
      val q = graft.query.BoolQ(should = ts.map(graft.query.TermQ.apply), minShouldMatch = 1)
      val got = Searcher.topKQ(index, q, 10, sim = graft.exec.ClassicSim)
        .as[(Long, Float)].collect().toSeq
      assert(got == brute(ts, 10), s"classic [$ts]")
    }
  }
}

/** Over-cap multi-term expansion (> MaxClauseCount matching terms):
  * scoring rewrites throw TooManyClauses like the reference
  * (`core/search/IndexSearcher.java:873,891`); constant-score / FILTER /
  * count contexts route through the executor-side WideTermSetQ path
  * (CONSTANT_SCORE_REWRITE, `core/search/MultiTermQuery.java:103-110`) —
  * no driver collect of the term list, NO term ever silently dropped.
  * The corpus has 2400 distinct `w`-prefixed terms (> the 1024 cap).
  */
class WideExpansionSpec extends SparkTest {
  import spark.implicits._
  import graft.query._

  // 1100 docs: 4400 distinct w-terms AND 1100 distinct @path:f-terms —
  // both the unprefixed and the field-anchored namespaces exceed the cap
  private lazy val docs = (0 until 1100).map { i =>
    val toks = (0 until 4).map(j => f"w${4 * i + j}%05d").mkString(" ")
    InputDoc(i % 3, f"$i%04d", "r", s"p/f$i", i.toString, "en",
      s"$toks common${i % 7} anchor")
  }
  private lazy val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
  private lazy val oracle = NaiveOracle.fromContentsWithPath(
    docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
      ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
        ((seg.toLong << IndexBuilder.SegShift) | ord.toLong, d.content, d.path)
      }
    })

  test("explicit scoring-boolean rewrite past the cap throws TooManyClauses (engine and oracle agree)") {
    assert(Query.MaxClauseCount == 1024)
    Query.withMultiTermRewrite(Query.ScoringBooleanRewrite) {
      intercept[Query.TooManyClauses] { Searcher.topKQ(index, PrefixQ("w"), 10).collect() }
      intercept[Query.TooManyClauses] { NaiveOracle.search(oracle, PrefixQ("w"), 10) }
      intercept[Query.TooManyClauses] { Searcher.topKQ(index, WildcardQ("w*"), 10).collect() }
    }
  }

  test("default blended rewrite: over-cap SCORING expansion degrades to constant-score, == oracle") {
    assert(Query.MultiTermRewrite == Query.ConstantScoreBlendedRewrite)
    // bare over-cap pattern in scoring position: every match scores 1.0
    val shapes: Seq[Query] = Seq(
      PrefixQ("w"),
      WildcardQ("w*"),
      // over-cap pattern as a scored SHOULD clause next to a real term:
      // score = bm25(common1) + 1.0 for the docs the pattern matches
      BoolQ(must = Seq(TermQ("common1")), should = Seq(PrefixQ("w"))),
      BoolQ(should = Seq(TermQ("common2"), TermRangeQ("w00000", "w01199")),
        minShouldMatch = 1))
    shapes.foreach { q =>
      val expected = NaiveOracle.search(oracle, q, 15)
      val got = Searcher.topKQ(index, q, 15).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"blended [$q]:\n got=$got\n exp=$expected")
    }
  }

  test("constant-score wide expansion matches ALL terms, == oracle") {
    val shapes: Seq[Query] = Seq(
      ConstScoreQ(PrefixQ("w"), 1f),
      ConstScoreQ(WildcardQ("w*"), 2f),
      ConstScoreQ(TermRangeQ("w00000", "w01199"), 1f),
      // wide FILTER clause restricting a scored term (docs 0..299 only)
      BoolQ(must = Seq(TermQ("common1")),
        filter = Seq(TermRangeQ("w00000", "w01199"))),
      // wide MUST_NOT clause
      BoolQ(must = Seq(TermQ("common2")),
        mustNot = Seq(TermRangeQ("w00000", "w01199"))),
      // FIELD-ANCHORED wide expansion: the @path: namespace alone
      // exceeds the cap (1100 @path:f-terms); the pattern's own prefix
      // restricts the scan and the kernel match to that field
      ConstScoreQ(PrefixQ("@path:f"), 1f),
      BoolQ(must = Seq(TermQ("common3")), filter = Seq(PrefixQ("@path:f1")))
    )
    shapes.foreach { q =>
      val expected = NaiveOracle.search(oracle, q, 20)
      val got = Searcher.topKQ(index, q, 20).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"wide [$q]:\n got=$got\n exp=$expected")
    }
  }

  test("count / docs paths go wide (non-scoring), never throw, == oracle") {
    assert(Searcher.countQ(index, PrefixQ("w")) == 1100L)
    assert(Searcher.countQ(index, PrefixQ("@path:f")) == 1100L)
    assert(Searcher.countQ(index, BoolQ(must = Seq(TermQ("common1")),
      filter = Seq(TermRangeQ("w00000", "w01199")))) ==
      NaiveOracle.matchingDocs(oracle, BoolQ(must = Seq(TermQ("common1")),
        filter = Seq(TermRangeQ("w00000", "w01199")))).size.toLong)
    val got = Searcher.matchingDocs(index, WildcardQ("w*9"))
      .collect().map(_.toLong).toSeq.sorted
    assert(got == NaiveOracle.matchingDocs(oracle, WildcardQ("w*9")))
  }

  test("under-cap expansions keep the scoring boolean path") {
    val expected = NaiveOracle.search(oracle, PrefixQ("common"), 10)
    val got = Searcher.topKQ(index, PrefixQ("common"), 10).as[(Long, Float)].collect().toSeq
    assert(got == expected)
  }
}

/** Codec SPI: an index built with the vbyte posting format must be
  * rank- and score-identical to the PFOR default on every query shape,
  * pass CheckIndex, and merge cleanly (the merge re-encodes with the
  * requested codec; mixed-codec same-term rows re-encode on concat).
  */
class CodecSpiSpec extends SparkTest {
  import spark.implicits._

  test("vbyte index == pfor index on all fixture query shapes; CheckIndex clean") {
    val rows = (0L until 900L).map(i => Datagen.row(61L, i, 15, 400))
    val docs = rows.map { r =>
      val key = s"${r.repo}/${r.path}@${r.commit}"
      InputDoc(math.floorMod(key.hashCode, 4), key, r.repo, r.path, r.commit, r.lang, r.content)
    }
    val pfor = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val vbyte = IndexBuilder.buildInMemory(spark, spark.createDataset(docs), codec = "vbyte")
    assert(graft.build.CheckIndex.run(vbyte).isEmpty)
    // every persisted vbyte row self-describes as vbyte
    assert(vbyte.postings.collect().forall(pl => graft.codec.PostingFormats.of(pl).name == "vbyte"))
    Seq("def", "def AND class", "val OR needle_0", "\"class camelCaseName7\"",
      "ident_23*", "ident_17 AND NOT ident_23").foreach { qs =>
      val a = Searcher.topK(pfor, qs, 10).as[(Long, Float)].collect().toSeq
      val b = Searcher.topK(vbyte, qs, 10).as[(Long, Float)].collect().toSeq
      assert(a == b, s"codec divergence on [$qs]")
    }
    assert(Searcher.count(pfor, "def OR class") == Searcher.count(vbyte, "def OR class"))
  }

  test("persistent build records the codec; switching codecs invalidates resume") {
    val dir = java.nio.file.Files.createTempDirectory("graftcodecres").toString
    val docs = Datagen.toInputDocs(Datagen.corpus(spark, 300, seed = 63L), 3)
    IndexBuilder.buildPersistent(spark, docs, dir, codec = "vbyte")
    val idxV = IndexBuilder.open(spark, dir)
    assert(idxV.postings.collect().forall(pl => graft.codec.PostingFormats.of(pl).name == "vbyte"))
    val mpath = java.nio.file.Paths.get(s"$dir/manifest/seg_1.json")
    val t0 = java.nio.file.Files.getLastModifiedTime(mpath)
    // same codec: resume is a no-op
    IndexBuilder.buildPersistent(spark, docs, dir, codec = "vbyte")
    assert(t0 == java.nio.file.Files.getLastModifiedTime(mpath))
    // codec change: the lineage hash differs, so every segment rebuilds
    IndexBuilder.buildPersistent(spark, docs, dir, codec = "pfor")
    val idxP = IndexBuilder.open(spark, dir)
    assert(idxP.postings.collect().forall(pl => graft.codec.PostingFormats.of(pl).name == "pfor"))
    assert(graft.build.CheckIndex.run(idxP).isEmpty)
  }
}

/** Open Collector SPI (Collector/LeafCollector): custom per-segment
  * collection must see exactly the matching (docId, score) stream the
  * top-k path sees, and `competitive = false` must terminate a
  * segment's walk early.
  */
class CollectorSpec extends SparkTest {
  import spark.implicits._
  import graft.query._

  private lazy val docs = {
    val rows = (0L until 500L).map(i => Datagen.row(55L, i, 10, 150))
    rows.map { r =>
      val key = s"${r.repo}/${r.path}@${r.commit}"
      InputDoc(math.floorMod(key.hashCode, 4), key, r.repo, r.path, r.commit, r.lang, r.content)
    }
  }
  private lazy val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))

  test("stats collector == aggregate over the scored match set") {
    val q = BoolQ(should = Seq(TermQ("def"), TermQ("needle_0")), minShouldMatch = 1)
    val factory = new Searcher.CollectorFactory[(Long, Long)] {
      def newLeaf(seg: Int): Searcher.LeafCollector[(Long, Long)] =
        new Searcher.LeafCollector[(Long, Long)] {
          private var n = 0L
          private var sumQ = 0L
          def collect(docId: Long, score: Double): Unit = {
            n += 1; sumQ += math.floor(score * 10000d + 0.5d).toLong
          }
          def finish(): Iterator[(Long, Long)] = Iterator.single((n, sumQ))
        }
    }
    val parts = Searcher.collectQ(index, q, factory).collect()
    val all = Searcher.topKQ(index, q, 100000, doubleMode = true)
      .as[(Long, Double)].collect()
    assert(parts.map(_._1).sum == all.length.toLong)
    assert(parts.map(_._2).sum ==
      all.map(h => math.floor(h._2 * 10000d + 0.5d).toLong).sum)
  }

  test("competitive=false terminates the segment walk early") {
    val factory = new Searcher.CollectorFactory[Long] {
      def newLeaf(seg: Int): Searcher.LeafCollector[Long] =
        new Searcher.LeafCollector[Long] {
          private var n = 0L
          def collect(docId: Long, score: Double): Unit = n += 1
          override def competitive: Boolean = n < 3
          def finish(): Iterator[Long] = Iterator.single(n)
        }
    }
    val perSeg = Searcher.collectQ(index, TermQ("def"), factory).collect()
    assert(perSeg.nonEmpty && perSeg.forall(_ <= 3L))
  }

  test("a factory that does not serialize fails at the Dataset's first action") {
    val factory = new Searcher.CollectorFactory[Long] {
      private val lock = new Object // not Serializable
      def newLeaf(seg: Int): Searcher.LeafCollector[Long] = lock.synchronized {
        new Searcher.LeafCollector[Long] {
          private var n = 0L
          def collect(docId: Long, score: Double): Unit = n += 1
          def finish(): Iterator[Long] = Iterator.single(n)
        }
      }
    }
    // building the Dataset serializes nothing; its job's submission does
    val ds = Searcher.collectQ(index, TermQ("def"), factory)
    val e = intercept[org.apache.spark.SparkException](ds.collect())
    assert(e.getMessage.contains("Task not serializable"), e.getMessage)
  }
}

/** Executor-side hot-filter cache (LRUQueryCache +
  * UsageTrackingQueryCachingPolicy analogue): repeated FILTER /
  * ConstantScore subqueries are answered from cached per-segment docId
  * sets after the second sighting — results must be identical with the
  * cache cold, warming, and hot.
  */
class FilterCacheSpec extends SparkTest {
  import spark.implicits._
  import graft.query._

  test("repeated filtered queries hit the cache with unchanged results") {
    val rows = (0L until 800L).map(i => Datagen.row(33L, i, 12, 200))
    val docs = rows.map { r =>
      val key = s"${r.repo}/${r.path}@${r.commit}"
      InputDoc(math.floorMod(key.hashCode, 3), key, r.repo, r.path, r.commit, r.lang, r.content)
    }
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val shapes: Seq[Query] = Seq(
      BoolQ(must = Seq(TermQ("def")), filter = Seq(TermQ("class"))),
      BoolQ(must = Seq(TermQ("val")),
        filter = Seq(BoolQ(should = Seq(TermQ("if"), TermQ("else")), minShouldMatch = 1))),
      ConstScoreQ(PrefixQ("ident_1"), 1f)
    )
    shapes.foreach { q =>
      val first = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
      val h0 = graft.exec.FilterCache.hits.get()
      // sightings 2..4: the 2nd materialises+caches, the 3rd+ must hit
      (2 to 4).foreach { _ =>
        val again = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
        assert(again == first, s"cache changed results for [$q]")
      }
      assert(graft.exec.FilterCache.hits.get() > h0, s"no cache hits for [$q]")
    }
  }

  test("LRU eviction: a hot entry survives a wave of cold entries past the ceiling") {
    val hot = "spec-hot-" + System.nanoTime()
    graft.exec.FilterCache.put(hot, Array(1L, 2L, 3L))
    (0 until 600).foreach { i => // > the 512-entry ceiling
      assert(graft.exec.FilterCache.get(hot) != null,
        s"hot entry evicted after $i cold entries") // touch keeps it most-recent
      graft.exec.FilterCache.put(s"spec-cold-$i-$hot", Array(i.toLong))
    }
    assert(graft.exec.FilterCache.get(hot) != null,
      "hot filter must survive LRU eviction of cold filters (clear-all would thrash)")
  }
}

/** Resumable build: kill-and-resume semantics via the per-segment
  * manifest (north rule; reference analogue `SegmentInfos` generations).
  */
class ResumeSpec extends SparkTest {
  import spark.implicits._

  test("resume skips complete segments, rebuilds missing ones, results identical") {
    val dir = java.nio.file.Files.createTempDirectory("graftidx").toString
    val src = Datagen.corpus(spark, 600, seed = 5L)
    val docs = Datagen.toInputDocs(src, 4)

    val m1 = IndexBuilder.buildPersistent(spark, docs, dir)
    assert(m1.size == 4 && m1.forall(_.status == "complete"))
    assert(m1.map(_.docs).sum == 600)
    assert(m1.forall(_.postings > 0) && m1.forall(_.bytes > 0))
    val full = Searcher.topK(IndexBuilder.open(spark, dir), "def AND class", 10)
      .as[(Long, Float)].collect().toSeq

    // simulate a crash: destroy one segment's manifest + data
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/manifest/seg_2.json")).deleteRecursively()
    val resumed = IndexBuilder.buildPersistent(spark, docs, dir)
    assert(resumed.size == 4 && resumed.forall(_.status == "complete"))
    val after = Searcher.topK(IndexBuilder.open(spark, dir), "def AND class", 10)
      .as[(Long, Float)].collect().toSeq
    assert(after == full)

    // full resume with nothing to do must be a no-op (manifests unchanged)
    val t0 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/manifest/seg_1.json"))
    IndexBuilder.buildPersistent(spark, docs, dir)
    val t1 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/manifest/seg_1.json"))
    assert(t0 == t1, "complete segment was rebuilt on resume")
  }
}

/** Source-table ingestion (the Iceberg-shaped input contract): building
  * from a parquet table with the (repo, path, commit, lang, content)
  * schema must equal building from the in-memory corpus directly.
  */
class SourceReaderSpec extends SparkTest {
  import spark.implicits._

  test("buildfrom a contract-schema parquet table == direct build") {
    val srcDir = java.nio.file.Files.createTempDirectory("graftsrc").toString
    Datagen.corpus(spark, 400, seed = 77L).write.mode("overwrite").parquet(srcDir)
    val read = graft.build.SourceReader.read(spark, srcDir)
    assert(read.count() == 400)
    val idxDir = java.nio.file.Files.createTempDirectory("graftsrcidx").toString
    IndexBuilder.buildPersistent(spark,
      graft.build.SourceReader.readDocs(spark, srcDir, 4), idxDir)
    val idx = IndexBuilder.open(spark, idxDir)
    assert(graft.build.CheckIndex.run(idx).isEmpty)
    val direct = IndexBuilder.buildInMemory(spark,
      Datagen.toInputDocs(Datagen.corpus(spark, 400, seed = 77L), 4))
    Seq("def AND class", "needle_0", "val OR needle_0").foreach { q =>
      val a = Searcher.topK(idx, q, 10).as[(Long, Float)].collect().toSeq
      val b = Searcher.topK(direct, q, 10).as[(Long, Float)].collect().toSeq
      assert(a == b, s"source-table build diverges on [$q]")
    }
  }
}

/** Batch top-k (one scan + one kernel pass for N queries): per-query
  * results must be IDENTICAL to the single-query path across shapes.
  */
class BatchSearchSpec extends SparkTest {
  import spark.implicits._
  import graft.query._

  test("topKBatch == per-query topKQ for every query in the batch") {
    val rows = (0L until 900L).map(i => Datagen.row(44L, i, 12, 250))
    val docs = rows.map { r =>
      val key = s"${r.repo}/${r.path}@${r.commit}"
      InputDoc(math.floorMod(key.hashCode, 4), key, r.repo, r.path, r.commit, r.lang, r.content)
    }
    val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val batch: Seq[(String, Query)] = Seq(
      "t1" -> TermQ("def"),
      "t2" -> BoolQ(must = Seq(TermQ("def"), TermQ("class"))),
      "t3" -> BoolQ(should = Seq(TermQ("val"), TermQ("needle_0")), minShouldMatch = 1),
      "t4" -> PhraseQ(Seq("class", "camelcasename7")),
      "t5" -> PrefixQ("ident_2"),
      "t6" -> DisMaxQ(Seq(TermQ("def"), TermQ("return")), 0.5d),
      "t7" -> BoolQ(must = Seq(TermQ("return")), filter = Seq(TermQ("val"))),
      "t8" -> TermQ("zzz_absent")
    )
    val got = Searcher.topKBatch(index, batch, 10)
      .select($"qid", $"docId", $"score").as[(String, Long, Float)].collect()
      .groupBy(_._1).map { case (q, hs) => q -> hs.map(h => (h._2, h._3)).toSeq }
    batch.foreach { case (qid, q) =>
      val single = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
      assert(got.getOrElse(qid, Seq.empty) == single, s"batch diverges on [$qid: $q]")
    }
  }
}
