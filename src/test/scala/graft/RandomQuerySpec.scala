package graft

import graft.build.{Datagen, IndexBuilder, InputDoc}
import graft.exec.Searcher
import graft.query._

/** The random query-tree generator of [[RandomQuerySpec]]: every query
  * family over the fixture vocabulary (`Datagen.Keywords`, `ident_N`,
  * `camelcasenameN`, needles, absent terms) and `@path:` field terms.
  */
object RandomQueries {
  val vocab = Datagen.Keywords ++
    (0 until 40).map(i => s"ident_$i") ++
    (0 until 10).map(i => s"camelcasename$i") ++
    Seq("needle_0", "needle_1", "nonexistent_a", "nonexistent_b")

  def randomQuery(rnd: scala.util.Random, depth: Int): Query = {
    def term() = TermQ(vocab(rnd.nextInt(vocab.length)))
    def distinctTerms(n: Int): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      while (out.size < n) out += vocab(rnd.nextInt(vocab.length))
      out.toSeq
    }
    val pathVocab = Seq("@path:d3", "@path:d5", "@path:x", "@path:f7_7",
      "@path:f11_astq", "@path:zzz_nothere")
    if (depth == 0) term()
    else rnd.nextInt(16) match {
      case 0 => term()
      case 1 => PhraseQ(Seq.fill(1 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length))))
      case 2 => PrefixQ(Seq("ident_1", "camel", "nee", "zzz")(rnd.nextInt(4)))
      case 3 => SynonymQ(Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length))))
      case 4 => DisMaxQ(Seq.fill(1 + rnd.nextInt(3))(randomQuery(rnd, depth - 1)),
        Seq(0d, 0.5d)(rnd.nextInt(2)))
      // small maxExpansions half the time: the distributed top-N selection
      // boundary (float boost desc, term asc) must match the oracle's
      case 5 => FuzzyQ(vocab(rnd.nextInt(vocab.length)).dropRight(rnd.nextInt(2)),
        1 + rnd.nextInt(2), maxExpansions = Seq(3, 50)(rnd.nextInt(2)))
      // sloppy phrase — half the time with a REPEATED term ("foo bar foo"
      // shapes), exercising the duplicated-stream greedy matcher
      case 6 =>
        val base = distinctTerms(2 + rnd.nextInt(2))
        val ts = if (rnd.nextBoolean()) base :+ base(rnd.nextInt(base.size)) else base
        PhraseQ(ts, slop = 1 + rnd.nextInt(3))
      case 7 => WildcardQ(Seq("ident_?", "*name1", "c?mel*", "i?ent_2*", "zz*q")(rnd.nextInt(5)))
      case 8 => ConstScoreQ(randomQuery(rnd, depth - 1),
        Seq(1f, 0.5f, 2f)(rnd.nextInt(3)))
      case 9 => MultiPhraseQ(Seq.fill(1 + rnd.nextInt(2))(
        Seq.fill(1 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length)))))
      // fielded scored shapes: path-field term / prefix / fuzzy — per-field
      // stats (df, docCount, avgdl) and per-posting PATH norms
      case 10 => TermQ(pathVocab(rnd.nextInt(pathVocab.length)))
      case 11 => rnd.nextInt(3) match {
        case 0 => PrefixQ(Seq("@path:d", "@path:f1", "@path:zz")(rnd.nextInt(3)))
        case 1 => WildcardQ(Seq("@path:d?", "@path:f1*", "@path:*7")(rnd.nextInt(3)))
        case _ => FuzzyQ(pathVocab(rnd.nextInt(3)), 1 + rnd.nextInt(2))
      }
      // query-time weighted BM25F across content+path (weights >= 1 per
      // the reference; repeated term across both fields half the time)
      case 12 =>
        val t = if (rnd.nextBoolean()) Seq("x", "d3", "f7_7")(rnd.nextInt(3))
          else vocab(rnd.nextInt(vocab.length))
        val wc = Seq(1f, 2f)(rnd.nextInt(2))
        val wp = Seq(1f, 2f, 3f)(rnd.nextInt(3))
        CombinedFieldQ(t, Seq(("content", wc), ("path", wp)))
      // parser-style boost: folds into term weights via rewrite where
      // possible, post-hoc multiply on phrase-like clauses
      case 13 => rnd.nextInt(2) match {
        case 0 => BoostQ(randomQuery(rnd, depth - 1), Seq(2f, 0.5f, 3f)(rnd.nextInt(3)))
        // standalone blended-term query (max-df blending + DisMax 0.01)
        case _ => BlendedTermQ(distinctTerms(2 + rnd.nextInt(2)),
          if (rnd.nextBoolean()) Seq(1f, 2f, 1.5f) else Nil)
      }
      // interval query: ordered/unordered over 2-3 distinct terms with an
      // optional maxgaps/maxwidth/containedBy wrapper (saturation-scored)
      case 14 =>
        val leaves = distinctTerms(2 + rnd.nextInt(2)).map(t => ITermS(t): ISrc)
        val base: ISrc =
          if (rnd.nextBoolean()) IOrderedS(leaves) else IUnorderedS(leaves)
        val src = rnd.nextInt(4) match {
          case 0 => base
          case 1 => IMaxGapsS(rnd.nextInt(5), base)
          case 2 => IMaxWidthS(2 + rnd.nextInt(8), base)
          case _ => IContainedByS(ITermS(vocab(rnd.nextInt(vocab.length))),
            IMaxWidthS(6 + rnd.nextInt(10), base))
        }
        IntervalQ(src, pivot = Seq(1f, 0.5f)(rnd.nextInt(2)))
      case _ =>
        val must = Seq.fill(rnd.nextInt(3))(randomQuery(rnd, depth - 1))
        val should = Seq.fill(rnd.nextInt(3))(randomQuery(rnd, depth - 1))
        val mustNot = Seq.fill(rnd.nextInt(2))(term())
        val filter = Seq.fill(rnd.nextInt(2))(randomQuery(rnd, depth - 1))
        val anchored = must.nonEmpty || filter.nonEmpty
        val msm = if (!anchored && should.nonEmpty) 1 + rnd.nextInt(should.size) else 0
        BoolQ(must, should, mustNot, msm, filter)
    }
  }
}

/** Randomized differential testing — the reference's core test strategy
  * (`tf/util/LuceneTestCase.java:269` seeded randomness;
  * `tf/search/CheckHits.java` brute-force oracle): generate random query
  * trees over the fixture vocabulary and assert the engine's top-k
  * (docIds AND float scores) equals the exhaustive oracle, across
  * segment counts. Seed is fixed for reproducibility.
  */
class RandomQuerySpec extends SparkTest {
  import spark.implicits._
  import RandomQueries.randomQuery

  for (numSegments <- Seq(1, 3)) {
    test(s"60 random query trees == oracle ($numSegments segment(s))") {
      // custom paths with real df variety for the path-field shapes:
      // dK groups of ~114, f<M>_<i> near-unique, x on every doc
      val rows = (0L until 800L).map(i => Datagen.row(13L, i, 15, 200))
      val docs = rows.zipWithIndex.map { case (r, i) =>
        val path = s"d${i % 7}/f${i % 53}_$i.x"
        val key = s"${r.repo}/$path@${r.commit}"
        val seg = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), numSegments)
        InputDoc(seg, key, r.repo, path, r.commit, r.lang, r.content)
      }
      val index = IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
      val oracleDocs = NaiveOracle.fromContentsWithPath(
        docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
          ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
            ((seg.toLong << IndexBuilder.SegShift) | ord.toLong, d.content, d.path)
          }
        })
      // fixed default seed for reproducibility; GRAFT_SEED/GRAFT_DEPTH
      // override for fuzzing sweeps (r5 generator adds interval shapes —
      // seeds 777/31337 at depth 2 and 90210/13 at depth 3 verified green
      // against the widened generator; earlier-round seed notes predate it)
      val rnd = new scala.util.Random(sys.env.getOrElse("GRAFT_SEED", "4242").toInt + numSegments)
      val depth = sys.env.getOrElse("GRAFT_DEPTH", "2").toInt
      (1 to 60).foreach { i =>
        val q = randomQuery(rnd, depth)
        val expected = NaiveOracle.search(oracleDocs, q, 10)
        val got = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
        assert(got == expected, s"random #$i query [$q]:\n got=$got\n exp=$expected")
        if (i % 7 == 0) {
          // cross-partition min-competitive priming must be rank-identical
          val primed = Searcher.topKQ(index, q, 10, primeThreshold = true)
            .as[(Long, Float)].collect().toSeq
          assert(primed == expected, s"primed #$i [$q]:\n got=$primed\n exp=$expected")
        }
        if (i % 5 == 0) {
          // the unscored count/docs kernel paths must agree with the
          // scored path's match set (TotalHitCountCollector analogue)
          val expectedDocs = NaiveOracle.matchingDocs(oracleDocs, q)
          assert(Searcher.countQ(index, q) == expectedDocs.size, s"count #$i [$q]")
          val gotDocs = Searcher.matchingDocs(index, q).collect().map(_.longValue).sorted.toSeq
          assert(gotDocs == expectedDocs, s"docs #$i [$q]")
        }
      }
    }
  }
}

/** Deletes x random queries differential: a live filter must EXCLUDE
  * tombstoned docs from every execution path while collection/term
  * statistics still count them (the reference's semantics — deleted
  * docs affect idf/norms until a merge purges them).
  */
class DeleteDifferentialSpec extends SparkTest {
  import spark.implicits._
  import graft.query._

  test("random trees over an index with live deletes == filtered oracle") {
    val rows = (0L until 800L).map(i => Datagen.row(91L, i, 15, 200))
    val docs = rows.map { r =>
      val key = s"${r.repo}/${r.path}@${r.commit}"
      val seg = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), 3)
      graft.build.InputDoc(seg, key, r.repo, r.path, r.commit, r.lang, r.content)
    }
    val base = graft.build.IndexBuilder.buildInMemory(spark, spark.createDataset(docs))
    val oracleDocs = NaiveOracle.fromContents(
      docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
        ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
          ((seg.toLong << graft.build.IndexBuilder.SegShift) | ord.toLong, d.content)
        }
      })
    val rnd = new scala.util.Random(777)
    // tombstone ~12% of docs
    val deletedIds = oracleDocs.map(_.docId).filter(_ => rnd.nextDouble() < 0.12).toSet
    val live = graft.build.MapLiveDocs(
      deletedIds.toSeq.groupBy(graft.build.IndexBuilder.segOf)
        .map { case (s, ids) => s -> ids.sorted.toArray })
    val aligned = base.segAligned
    val index = new graft.build.Index(base.postings, base.docmeta, base.termStats,
      base.fieldStats, live, () => aligned)

    // filtered-oracle expectation: stats over the FULL corpus (deleted
    // docs still counted), results excluding tombstoned docIds
    def expectTop(q: Query, k: Int): Seq[(Long, Float)] =
      NaiveOracle.search(oracleDocs, q, Int.MaxValue)
        .filterNot(h => deletedIds.contains(h._1)).take(k)

    val shapes: Seq[Query] = Seq(
      TermQ("def"), TermQ("needle_0"),
      BoolQ(must = Seq(TermQ("def"), TermQ("class"))),
      BoolQ(should = Seq(TermQ("val"), TermQ("needle_1")), minShouldMatch = 1),
      PhraseQ(Seq("class", "camelcasename7")),
      BoolQ(must = Seq(TermQ("def")), mustNot = Seq(TermQ("ident_3"))),
      PrefixQ("ident_1"),
      DisMaxQ(Seq(TermQ("def"), TermQ("return")), 0.3d),
      BoolQ(must = Seq(TermQ("return")), filter = Seq(TermQ("val"))),
      ConstScoreQ(PrefixQ("camel"), 1f),
      PhraseQ(Seq("def", "class"), slop = 2)
    ) ++ (1 to 25).map(_ => randomTree(rnd, 2))

    shapes.foreach { q =>
      val expected = expectTop(q, 10)
      val got = Searcher.topKQ(index, q, 10).as[(Long, Float)].collect().toSeq
      assert(got == expected, s"deleted-diff [$q]:\n got=$got\n exp=$expected")
    }
    // count/docs paths exclude deletes too
    val allDef = NaiveOracle.matchingDocs(oracleDocs, TermQ("def"))
      .filterNot(deletedIds.contains)
    assert(Searcher.countQ(index, TermQ("def")) == allDef.size.toLong)
    assert(Searcher.matchingDocs(index, TermQ("def"))
      .collect().map(_.longValue).sorted.toSeq == allDef)
  }

  private val vocab = Datagen.Keywords ++
    (0 until 40).map(i => s"ident_$i") ++ (0 until 10).map(i => s"camelcasename$i") ++
    Seq("needle_0", "needle_1")

  private def randomTree(rnd: scala.util.Random, depth: Int): Query = {
    def term() = TermQ(vocab(rnd.nextInt(vocab.length)))
    if (depth == 0) term()
    else rnd.nextInt(6) match {
      case 0 => term()
      case 1 => PhraseQ(Seq.fill(1 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length))))
      case 2 => DisMaxQ(Seq.fill(1 + rnd.nextInt(3))(randomTree(rnd, depth - 1)), 0.5d)
      case 3 => ConstScoreQ(randomTree(rnd, depth - 1), 1f)
      case _ =>
        val must = Seq.fill(rnd.nextInt(2))(randomTree(rnd, depth - 1))
        val should = Seq.fill(rnd.nextInt(3))(randomTree(rnd, depth - 1))
        val mustNot = Seq.fill(rnd.nextInt(2))(term())
        val anchored = must.nonEmpty
        val msm = if (!anchored && should.nonEmpty) 1 else 0
        BoolQ(must, should, mustNot, msm)
    }
  }
}
