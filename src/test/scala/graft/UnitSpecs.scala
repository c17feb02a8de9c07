package graft

import graft.analysis.{CodeAnalyzer, Token}
import graft.codec.PostingCodec
import graft.exec.BM25
import graft.model.{FieldStats, TermStats}
import graft.query._
import graft.util.SmallFloat
import org.scalatest.funsuite.AnyFunSuite

class SmallFloatSpec extends AnyFunSuite {
  test("low values exact (NUM_FREE_VALUES = 24)") {
    assert(SmallFloat.NumFreeValues == 24)
    (0 until 24).foreach(i => assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(i)) == i))
  }
  test("round-trip is lower bound, monotone, 4 significant bits") {
    var prev = -1
    (0 to 2000000 by 17).foreach { i =>
      val d = SmallFloat.byte4ToInt(SmallFloat.intToByte4(i))
      assert(d <= i, s"decode($i) = $d must be <= original")
      assert(d >= prev, "monotone")
      prev = d
    }
    assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(Int.MaxValue)) <= Int.MaxValue)
  }
  test("known buckets") {
    // 0..39 are exact (24 free values + 4-bit mantissa values 0..15);
    // first quantisation at offset value 16: lengths 40 and 41 collide
    (0 to 39).foreach(i => assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(i)) == i))
    assert(SmallFloat.intToByte4(41) == SmallFloat.intToByte4(40))
    assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(41)) == 40)
  }
}

class AnalyzerSpec extends AnyFunSuite {
  test("golden token stream with positions") {
    val toks = CodeAnalyzer.tokenize("def foo(bar_1, Baz2); return FOO")
    assert(toks.toSeq == Seq(
      Token("def", 0), Token("foo", 1), Token("bar_1", 2), Token("baz2", 3),
      Token("return", 4), Token("foo", 5)))
  }
  test("punctuation separates; empty and null safe") {
    assert(CodeAnalyzer.terms("a.b,c;d(e)f=g").toSeq == Seq("a", "b", "c", "d", "e", "f", "g"))
    assert(CodeAnalyzer.tokenize("").isEmpty)
    assert(CodeAnalyzer.tokenize(null).isEmpty)
    assert(CodeAnalyzer.tokenize("  \n\t ").isEmpty)
  }
  test("tokens longer than 255 chars are dropped without consuming a position") {
    val long = "x" * 256
    val toks = CodeAnalyzer.tokenize(s"a $long b")
    assert(toks.toSeq == Seq(Token("a", 0), Token("b", 1)))
    assert(CodeAnalyzer.tokenize("y" * 255).length == 1)
  }
  test("sub-token analyzer goldens (WordDelimiterGraphFilter semantics)") {
    // camelCase + digit boundaries: each part at its OWN position
    assert(CodeAnalyzer.subTokenize("class camelCaseName7").toSeq == Seq(
      Token("class", 0), Token("camel", 1), Token("case", 2), Token("name", 3), Token("7", 4)))
    // acronym boundary: ABCDef -> ABC + Def
    assert(CodeAnalyzer.subTokenize("ABCDef").map(_.term).toSeq == Seq("abc", "def"))
    // underscores are delimiters (unlike the standard analyzer)
    assert(CodeAnalyzer.subTokenize("foo_bar2x __lead_ trail_").map(_.term).toSeq ==
      Seq("foo", "bar", "2", "x", "lead", "trail"))
    // plain lowercase words are unchanged vs the standard analyzer
    assert(CodeAnalyzer.subTokenize("key agg row").toSeq ==
      CodeAnalyzer.tokenize("key agg row").toSeq)
    // compound-then-split inverts: a_b c_d tokenizes like "a b c d"
    assert(CodeAnalyzer.subTokenize("key_agg row_scan").map(_.term).toSeq ==
      Seq("key", "agg", "row", "scan"))
  }
}

class CodecSpec extends AnyFunSuite {
  private def gen(rnd: scala.util.Random): (Array[Long], Array[Int], Array[Byte], Array[Array[Int]]) = {
    val n = 1 + rnd.nextInt(700)
    val base = math.abs(rnd.nextLong()) % (1L << 41)
    val ids = new Array[Long](n)
    var cur = base
    val freqs = new Array[Int](n)
    val norms = new Array[Byte](n)
    val ps = new Array[Array[Int]](n)
    (0 until n).foreach { i =>
      cur += 1 + rnd.nextInt(5000)
      ids(i) = cur
      freqs(i) = 1 + rnd.nextInt(40)
      norms(i) = rnd.nextInt(256).toByte
      var p = rnd.nextInt(3)
      ps(i) = Array.fill(freqs(i)) { p += 1 + rnd.nextInt(5); p }
    }
    (ids, freqs, norms, ps)
  }

  test("encode/decode round-trip incl. positions and block metadata (seeded property run)") {
    val rnd = new scala.util.Random(42)
    (1 to 100).foreach { _ =>
      val (ids, freqs, norms, ps) = gen(rnd)
      val pl = PostingCodec.encode(7, "t", ids, freqs, norms, ps)
      // block structure
      assert(pl.counts.sum == ids.length)
      assert(pl.df == ids.length)
      assert(pl.ttf == freqs.map(_.toLong).sum)
      pl.counts.foreach(c => assert(c <= PostingCodec.BlockSize))
      val d = PostingCodec.decodeAll(pl, withPositions = true)
      assert(d.docIds.toSeq == ids.toSeq)
      assert(d.freqs.toSeq == freqs.toSeq)
      assert(d.norms.toSeq == norms.toSeq)
      assert(d.positions.map(_.toSeq).toSeq == ps.map(_.toSeq).toSeq)
      // impacts: per-block maxima are true maxima
      var off = 0
      (0 until pl.numBlocks).foreach { b =>
        val n = pl.counts(b)
        assert(pl.maxDocIds(b) == ids(off + n - 1))
        assert(pl.maxFreqs(b) == freqs.slice(off, off + n).max)
        val minLen = norms.slice(off, off + n).map(SmallFloat.byte4ToInt).min
        assert(SmallFloat.byte4ToInt(pl.minNorms(b)) == minLen)
        off += n
      }
      // concat of split halves round-trips identically
      if (pl.numBlocks >= 2) {
        val mid = ids.length / 2
        val a = PostingCodec.encode(7, "t", ids.take(mid), freqs.take(mid), norms.take(mid), ps.take(mid))
        val b2 = PostingCodec.encode(7, "t", ids.drop(mid), freqs.drop(mid), norms.drop(mid), ps.drop(mid))
        val cat = PostingCodec.concat(Seq(a, b2))
        val dc = PostingCodec.decodeAll(cat, withPositions = true)
        assert(dc.docIds.toSeq == ids.toSeq)
        assert(dc.freqs.toSeq == freqs.toSeq)
      }
    }
  }
}

/** Codec SPI: the vbyte format must round-trip identically to PFOR and
  * self-describe its payload so mixed-format rows decode correctly
  * through the shared dispatch (PostingFormats.of).
  */
class VByteFormatSpec extends AnyFunSuite {
  private def gen(rnd: scala.util.Random): (Array[Long], Array[Int], Array[Byte], Array[Array[Int]]) = {
    val n = 1 + rnd.nextInt(700)
    val base = math.abs(rnd.nextLong()) % (1L << 41)
    val ids = new Array[Long](n)
    var cur = base
    val freqs = new Array[Int](n)
    val norms = new Array[Byte](n)
    val ps = new Array[Array[Int]](n)
    (0 until n).foreach { i =>
      cur += 1 + rnd.nextInt(5000)
      ids(i) = cur
      freqs(i) = 1 + rnd.nextInt(40)
      norms(i) = rnd.nextInt(256).toByte
      var p = rnd.nextInt(3)
      ps(i) = Array.fill(freqs(i)) { p += 1 + rnd.nextInt(5); p }
    }
    (ids, freqs, norms, ps)
  }

  test("byId returns each format by its own id; unknown and negative ids throw") {
    Seq(graft.codec.PForFormat, graft.codec.VByteFormat).foreach { f =>
      assert(graft.codec.PostingFormats.byId(f.id) eq f)
      assert(graft.codec.PostingFormats.byName(f.name) eq f)
    }
    Seq[Byte](2, 7, Byte.MaxValue, -1, Byte.MinValue).foreach { id =>
      val e = intercept[IllegalArgumentException](graft.codec.PostingFormats.byId(id))
      assert(e.getMessage.contains(s"unknown posting format id $id"))
    }
  }

  test("vbyte round-trip == input == pfor decode, dispatch by payload id byte") {
    val rnd = new scala.util.Random(7)
    (1 to 60).foreach { _ =>
      val (ids, freqs, norms, ps) = gen(rnd)
      val vb = graft.codec.VByteFormat.encode(3, "t", ids, freqs, norms, ps)
      val pf = graft.codec.PForFormat.encode(3, "t", ids, freqs, norms, ps)
      assert(vb.payload(0) == graft.codec.VByteFormat.id && vb.offsets(0) == 1)
      assert(pf.payload(0) == graft.codec.PForFormat.id && pf.offsets(0) == 1)
      assert(graft.codec.PostingFormats.of(vb).name == "vbyte")
      assert(graft.codec.PostingFormats.of(pf).name == "pfor")
      // both decode through the SAME dispatching entry point
      val dv = PostingCodec.decodeAll(vb, withPositions = true)
      val dp = PostingCodec.decodeAll(pf, withPositions = true)
      assert(dv.docIds.toSeq == ids.toSeq && dp.docIds.toSeq == ids.toSeq)
      assert(dv.freqs.toSeq == freqs.toSeq && dv.norms.toSeq == norms.toSeq)
      assert(dv.positions.map(_.toSeq).toSeq == ps.map(_.toSeq).toSeq)
      assert(vb.counts.toSeq == pf.counts.toSeq)
      assert(vb.maxDocIds.toSeq == pf.maxDocIds.toSeq)
      assert(vb.maxFreqs.toSeq == pf.maxFreqs.toSeq) // impacts codec-independent
    }
  }

  test("unknown format id rejected") {
    intercept[IllegalArgumentException] { graft.codec.PostingFormats.byName("nope") }
  }
}

class PForSpec extends AnyFunSuite {
  /** Outlier-heavy streams: a handful of huge deltas per block must not
    * widen the whole block (PForUtil.java exception patching).
    */
  test("outlier deltas round-trip and are patched, not widened") {
    val rnd = new scala.util.Random(777)
    (1 to 50).foreach { _ =>
      val n = 64 + rnd.nextInt(400)
      val ids = new Array[Long](n)
      val freqs = new Array[Int](n)
      val norms = new Array[Byte](n)
      val ps = new Array[Array[Int]](n)
      var cur = math.abs(rnd.nextLong()) % (1L << 41)
      (0 until n).foreach { i =>
        // mostly tiny gaps; ~2% huge outlier gaps (up to 2^30)
        cur += (if (rnd.nextInt(50) == 0) (1L << 20) + rnd.nextInt(1 << 30) else 1L + rnd.nextInt(14))
        ids(i) = cur
        // mostly freq 1-3; rare spikes to ~5000
        freqs(i) = if (rnd.nextInt(60) == 0) 1000 + rnd.nextInt(4000) else 1 + rnd.nextInt(3)
        norms(i) = rnd.nextInt(256).toByte
        var p = rnd.nextInt(3)
        ps(i) = Array.fill(freqs(i)) { p += (if (rnd.nextInt(100) == 0) 1 << 16 else 1 + rnd.nextInt(4)); p }
      }
      val pl = PostingCodec.encode(7, "t", ids, freqs, norms, ps)
      val d = PostingCodec.decodeAll(pl, withPositions = true)
      assert(d.docIds.toSeq == ids.toSeq)
      assert(d.freqs.toSeq == freqs.toSeq)
      assert(d.norms.toSeq == norms.toSeq)
      assert(d.positions.map(_.toSeq).toSeq == ps.map(_.toSeq).toSeq)
    }
    // a single 2^30 outlier among 127 4-bit deltas: the docId run must
    // cost ~5 bits/value + one exception pair, nowhere near 31 bits/value
    val n = 128
    val ids = new Array[Long](n)
    var cur = 0L
    (0 until n).foreach { i =>
      cur += (if (i == 77) 1L << 30 else 1L + (i % 15))
      ids(i) = cur
    }
    val freqs = Array.fill(n)(1)
    val norms = Array.fill(n)(0.toByte)
    val pl = PostingCodec.encode(0, "t", ids, freqs, norms,
      Array.fill(n)(Array(0)))
    val plainDocBits = 127 * 31 / 8 // what unpatched FOR would pay for the doc run
    assert(pl.payload.length < plainDocBits,
      s"payload ${pl.payload.length} should be far below the unpatched doc-run cost $plainDocBits")
    val d = PostingCodec.decodeAll(pl)
    assert(d.docIds.toSeq == ids.toSeq)
  }
}

class BM25Spec extends AnyFunSuite {
  test("hand-computed single-term score (reference float op order)") {
    // N=3 docs, df=2, lengths 3 and 5, avgdl = (3+5+4)/3
    val fs = FieldStats(3, 12)
    val sc = BM25.termScorer(TermStats("t", 2, 0), fs)
    val idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5)).toFloat
    assert(sc.weight == idf)
    val norm3 = SmallFloat.intToByte4(3)
    val avgdl = (12 / 3.0).toFloat
    val cacheV = 1f / (1.2f * ((1 - 0.75f) + 0.75f * SmallFloat.LengthTable(norm3 & 0xff) / avgdl))
    val expected = idf - idf / (1f + 2 * cacheV)
    assert(sc.score(2, norm3) == expected)
  }
  test("monotone in freq, anti-monotone in length (reference contract, BaseSimilarityTestCase)") {
    val fs = FieldStats(1000, 100000)
    val sc = BM25.termScorer(TermStats("t", 10, 0), fs)
    var prev = -1f
    (1 to 100).foreach { f =>
      val s = sc.score(f, SmallFloat.intToByte4(50))
      assert(s >= prev && s >= 0 && !s.isNaN && s <= sc.globalMaxScore)
      prev = s
    }
    val s1 = sc.score(5, SmallFloat.intToByte4(10))
    val s2 = sc.score(5, SmallFloat.intToByte4(1000))
    assert(s1 > s2)
  }
  test("scorers on the field's shared norm table score bit-identically to own-table scorers") {
    val fs = FieldStats(1234, 98765)
    // scorer-private tables computed with the same expressions
    val avgdl = fs.avgdl
    val ownF = new Array[Float](256)
    val avgdlD = fs.avgdlDouble
    val ownD = new Array[Double](256)
    (0 until 256).foreach { i =>
      ownF(i) = 1f / (1.2f * ((1 - 0.75f) + 0.75f * SmallFloat.LengthTable(i) / avgdl))
      ownD(i) = 1d / (1.2d * (0.25d + 0.75d * SmallFloat.byte4ToInt(i.toByte) / avgdlD))
    }
    assert(BM25.cacheF(fs) eq BM25.cacheF(FieldStats(1234, 98765)))
    assert(BM25.cacheD(fs) eq BM25.cacheD(FieldStats(1234, 98765)))
    Seq(1L, 17L, 1234L).foreach { df =>
      val stats = TermStats("t", df, 0L)
      val f = BM25.termScorer(stats, fs, 1.5f)
      val fOwn = new BM25.TermScorer(1.5f * BM25.idf(df, fs.docCount), ownF)
      val d = BM25.termScorerD(stats, fs, 1.5d)
      val dOwn = new BM25.TermScorerD(1.5d * BM25.idfDouble(df, fs.docCount), ownD)
      for (freq <- 1 to 40; n <- 0 until 256) {
        val norm = n.toByte
        assert(java.lang.Float.floatToRawIntBits(f.score(freq, norm)) ==
          java.lang.Float.floatToRawIntBits(fOwn.score(freq, norm)), s"float df=$df freq=$freq norm=$n")
        assert(java.lang.Double.doubleToRawLongBits(d.score(freq, norm)) ==
          java.lang.Double.doubleToRawLongBits(dOwn.score(freq, norm)), s"double df=$df freq=$freq norm=$n")
      }
    }
  }
}

class QueryParserSpec extends AnyFunSuite {
  test("shapes of the reference query classes") {
    assert(QueryParser.parse("def") == TermQ("def"))
    assert(QueryParser.parse("def AND class") == BoolQ(must = Seq(TermQ("def"), TermQ("class"))))
    assert(QueryParser.parse("val OR needle_2") ==
      BoolQ(should = Seq(TermQ("val"), TermQ("needle_2")), minShouldMatch = 1))
    assert(QueryParser.parse("(def AND return) OR needle_3") ==
      BoolQ(should = Seq(BoolQ(must = Seq(TermQ("def"), TermQ("return"))), TermQ("needle_3")),
        minShouldMatch = 1))
    assert(QueryParser.parse("ident_17 AND NOT py_only") ==
      BoolQ(must = Seq(TermQ("ident_17")), mustNot = Seq(TermQ("py_only"))))
    assert(QueryParser.parse("\"class camelCaseName7\"") ==
      PhraseQ(Seq("class", "camelcasename7")))
    assert(QueryParser.parse("ident_1*") == PrefixQ("ident_1"))
    assert(QueryParser.parse("merge~1") == FuzzyQ("merge", 1))
    assert(QueryParser.parse("merge~") == FuzzyQ("merge", 2))
    assert(QueryParser.parse("def class") ==
      BoolQ(should = Seq(TermQ("def"), TermQ("class")), minShouldMatch = 1))
  }
  test("field-scoped groups: field:(...) pushes the field to every leaf") {
    assert(QueryParser.parse("path:(src3 OR src7)") ==
      BoolQ(should = Seq(TermQ("@path:src3"), TermQ("@path:src7")), minShouldMatch = 1))
    assert(QueryParser.parse("path:(a1 AND b2*)") ==
      BoolQ(must = Seq(TermQ("@path:a1"), PrefixQ("@path:b2"))))
    assert(QueryParser.parse("lang:(en fr)") ==
      BoolQ(should = Seq(ConstScoreQ(TermQ("#lang:en"), 0f),
        ConstScoreQ(TermQ("#lang:fr"), 0f)), minShouldMatch = 1))
    assert(QueryParser.parse("merge AND path:(src3 OR src7)") ==
      BoolQ(must = Seq(TermQ("merge"),
        BoolQ(should = Seq(TermQ("@path:src3"), TermQ("@path:src7")), minShouldMatch = 1))))
    // implicit-OR juxtaposition continues across a field group
    assert(QueryParser.parse("merge path:(src3 src7)") ==
      BoolQ(should = Seq(TermQ("merge"),
        BoolQ(should = Seq(TermQ("@path:src3"), TermQ("@path:src7")), minShouldMatch = 1)),
        minShouldMatch = 1))
  }
  test("phrase prefix: trailing star inside quotes") {
    assert(QueryParser.parse("\"merge str*\"") == PhrasePrefixQ(Seq("merge"), "str"))
    assert(QueryParser.parse("\"fast table x*\"") == PhrasePrefixQ(Seq("fast", "table"), "x"))
    // single-token phrase prefix degenerates to a plain prefix
    assert(QueryParser.parse("\"abc*\"") == PrefixQ("abc"))
    // a slop makes the star's binding ambiguous -> analyzed literally
    assert(QueryParser.parse("\"merge str*\"~2") == PhraseQ(Seq("merge", "str"), 2))
  }
  test("occur modifiers: +required, -prohibited, mixed with unmarked") {
    assert(QueryParser.parse("+merge stream") ==
      BoolQ(must = Seq(TermQ("merge")), should = Seq(TermQ("stream"))))
    assert(QueryParser.parse("+merge +stream") ==
      BoolQ(must = Seq(TermQ("merge"), TermQ("stream"))))
    assert(QueryParser.parse("merge -vector") ==
      BoolQ(should = Seq(TermQ("merge")), mustNot = Seq(TermQ("vector")),
        minShouldMatch = 1))
    assert(QueryParser.parse("+merge stream -vector") ==
      BoolQ(must = Seq(TermQ("merge")), should = Seq(TermQ("stream")),
        mustNot = Seq(TermQ("vector"))))
    assert(QueryParser.parse("+merge") == TermQ("merge")) // rewrite unwraps
    assert(QueryParser.parse("-merge") ==
      BoolQ(must = Seq(MatchAll), mustNot = Seq(TermQ("merge"))))
    // modifiers bind to groups and phrases too
    assert(QueryParser.parse("+(a1 b2) -\"fast table\"") ==
      BoolQ(must = Seq(BoolQ(should = Seq(TermQ("a1"), TermQ("b2")), minShouldMatch = 1)),
        mustNot = Seq(PhraseQ(Seq("fast", "table")))))
    // mid-conjunction modifiers: + is the default, - behaves like NOT
    assert(QueryParser.parse("merge AND +stream") ==
      BoolQ(must = Seq(TermQ("merge"), TermQ("stream"))))
    assert(QueryParser.parse("merge AND -vector") ==
      QueryParser.parse("merge AND NOT vector"))
  }
  test("range syntax: inclusivity, open bounds, fields, composition") {
    assert(QueryParser.parse("[aa TO bb]") == TermRangeQ("aa", "bb"))
    assert(QueryParser.parse("{aa TO bb}") == TermRangeQ("aa", "bb", incLo = false, incHi = false))
    assert(QueryParser.parse("[aa TO bb}") == TermRangeQ("aa", "bb", incHi = false))
    assert(QueryParser.parse("{aa TO bb]") == TermRangeQ("aa", "bb", incLo = false))
    assert(QueryParser.parse("[AA TO BB]") == TermRangeQ("aa", "bb")) // bounds lowercased
    assert(QueryParser.parse("[aa TO *]") == TermRangeQ("aa", "￿"))
    assert(QueryParser.parse("[* TO bb]") == TermRangeQ("", "bb"))
    assert(QueryParser.parse("path:[f1 TO f2]") == TermRangeQ("@path:f1", "@path:f2"))
    assert(QueryParser.parse("path:[f1 TO *]") == TermRangeQ("@path:f1", "@path:￿"))
    assert(QueryParser.parse("merge AND [aa TO bb}") ==
      BoolQ(must = Seq(TermQ("merge"), TermRangeQ("aa", "bb", incHi = false))))
  }
  test("rewrites: empty, single-clause unwrap, must-not-all") {
    assert(Query.rewrite(BoolQ()) == MatchNone)
    assert(Query.rewrite(BoolQ(must = Seq(TermQ("a")))) == TermQ("a"))
    assert(Query.rewrite(BoolQ(should = Seq(TermQ("a")), minShouldMatch = 1)) == TermQ("a"))
    assert(Query.rewrite(BoolQ(must = Seq(TermQ("a")), mustNot = Seq(MatchAll))) == MatchNone)
    assert(Query.rewrite(BoolQ(must = Seq(TermQ("a"), MatchNone))) == MatchNone)
    assert(Query.rewrite(BoolQ(must = Seq(TermQ("a")), mustNot = Seq(TermQ("a")))) == MatchNone)
    assert(Query.rewrite(PhraseQ(Seq("x"))) == TermQ("x"))
  }
}

/** Sloppy phrase + new node semantics pinned to reference examples. */
class SloppyAndNewNodeSpec extends AnyFunSuite {
  test("sloppy freq matches the SloppyPhraseMatcher javadoc example") {
    // doc "x a b a y", query "a b"~2: matched twice — "a b" (distance 0)
    // and "b a" (distance 2) -> freq = 1 + 1/3
    // (`core/search/SloppyPhraseMatcher.java:43-46`, sloppyWeight `:185`)
    val a = Array(1, 3)
    val b = Array(2)
    val f = NaiveOracle.sloppyFreq(Seq(a, b), slop = 2)
    assert(math.abs(f - (1d + 1d / 3d)) < 1e-12, s"freq=$f")
    // slop 0: only the exact match
    assert(NaiveOracle.sloppyFreq(Seq(a, b), slop = 0) == 1d)
    // reversed-only adjacency needs slop >= 2
    assert(NaiveOracle.sloppyFreq(Seq(Array(5), Array(4)), slop = 1) == 0d)
    assert(NaiveOracle.sloppyFreq(Seq(Array(5), Array(4)), slop = 2) == 1d / 3d)
  }
  test("repeated-term sloppy phrases follow the reference rptGroups algorithm") {
    // query "a b a"~2 — slots 0 and 2 form a repetition group and must
    // consume DISTINCT occurrences of `a`
    // (`core/search/SloppyPhraseMatcher.java:296-338,449-481`)
    val abaSlots = (a: Array[Int], b: Array[Int]) => Seq(a, b, a)
    // doc "a b": only one `a` for two slots -> no match (the pre-round-5
    // greedy walk wrongly scored this 1/3)
    assert(NaiveOracle.sloppyFreq(abaSlots(Array(0), Array(1)), slop = 2) == 0d)
    // doc "a b a": one exact match, weight 1
    assert(NaiveOracle.sloppyFreq(abaSlots(Array(0, 2), Array(1)), slop = 2) == 1d)
    // doc "a b a a": exact match + the (a@3,b@1,a@2)-window match at
    // length 2 — the collision on a@2 advances the lesser slot, exactly
    // the reference's advanceRpts walk -> 1 + 1/3
    val f = NaiveOracle.sloppyFreq(abaSlots(Array(0, 2, 3), Array(1)), slop = 2)
    assert(math.abs(f - 4d / 3d) < 1e-12, s"freq=$f")
    // doc "a a b": only the spread assignment (a@0, b@2, a@1), length 2
    assert(NaiveOracle.sloppyFreq(abaSlots(Array(0, 1), Array(2)), slop = 2) == 1d / 3d)
    assert(NaiveOracle.sloppyFreq(abaSlots(Array(0, 1), Array(2)), slop = 1) == 0d)
  }
  test("parser: sloppy phrase, wildcard, filter rewrites") {
    assert(QueryParser.parse("\"fast table\"~2") == PhraseQ(Seq("fast", "table"), 2))
    assert(QueryParser.parse("m?rge") == WildcardQ("m?rge"))
    assert(QueryParser.parse("st*eam") == WildcardQ("st*eam"))
    assert(QueryParser.parse("tail*") == PrefixQ("tail")) // trailing-* stays a prefix
    // FILTER dedup + MatchNone filter kills the query
    assert(Query.rewrite(BoolQ(must = Seq(TermQ("a")), filter = Seq(MatchNone))) == MatchNone)
    assert(Query.rewrite(BoolQ(must = Seq(TermQ("a")), filter = Seq(TermQ("f"), TermQ("f")))) ==
      BoolQ(must = Seq(TermQ("a")), filter = Seq(TermQ("f"))))
    // filter-only boolean matches with score 0 (non-scoring context)
    assert(Query.rewrite(BoolQ(filter = Seq(TermQ("f")))) == ConstScoreQ(TermQ("f"), 0f))
  }
  test("OSA edit distance: transpositions count 1") {
    import graft.util.EditDistance.osa
    assert(osa("merge", "merge", 2) == 0)
    assert(osa("mrege", "merge", 2) == 1) // adjacent transposition
    assert(osa("merg", "merge", 2) == 1)
    assert(osa("mxrgx", "merge", 2) == 2)
    assert(osa("abcd", "acbd", 1) == 1)
    assert(osa("zzzz", "merge", 2) > 2) // capped
  }
}

/** Goldens for the auxiliary tokenizers and filters (SURVEY §2.7). */
class AuxAnalysisSpec extends AnyFunSuite {
  import graft.analysis.CodeAnalyzer._
  test("position-preserving stop filter") {
    // "the" consumes position 1; phrase adjacency across it must not hold
    val toks = tokenizeStops("fast the table", Set("the", "a", "of", "to", "and"))
    assert(toks.toSeq == Seq(Token("fast", 0), Token("table", 2)))
    assert(tokenizeStops("fast table", DefaultStops).toSeq ==
      Seq(Token("fast", 0), Token("table", 1)))
  }
  test("whitespace / letter / keyword tokenizers") {
    assert(whitespaceTokenize("Foo bar.baz  qux").map(_.term).toSeq ==
      Seq("foo", "bar.baz", "qux"))
    assert(letterTokenize("foo2bar baz_9").map(_.term).toSeq == Seq("foo", "bar", "baz"))
    assert(keywordTokenize("Foo Bar").toSeq == Seq(Token("foo bar", 0)))
    assert(keywordTokenize("").isEmpty)
  }
  test("ASCII folding (Latin-1 table + NFD decomposition beyond)") {
    assert(foldAscii("café Überraschung São") == "cafe Uberraschung Sao")
    assert(foldAscii("straße") == "strasse")
    assert(foldAscii("Æon þing") == "AEon thing")
    assert(foldAscii("plain ascii") == "plain ascii")
    // Latin Extended-A via NFD mark-stripping
    assert(foldAscii("Čeština žluťoučký") == "Cestina zlutoucky")
    assert(foldAscii("Ārmath Şehir") == "Arath Sehir".replace("Arath", "Armath")) // Ā->A, Ş->S
    assert(foldAscii("İstanbul") == "Istanbul")
    // non-decomposable Extended-A multigraphs
    assert(foldAscii("Łódź đông Ħello ĳ Œuvre ſtreet") == "Lodz dong Hello ij OEuvre street")
    // Vietnamese (Extended Additional, decomposes fully)
    assert(foldAscii("Việt Nam") == "Viet Nam")
    // characters with no ASCII fold pass through
    assert(foldAscii("日本語") == "日本語")
  }
}

/** BM25F combined-field norm combination pinned to the reference formula
  * (`MultiNormsLeafSimScorer.java:165-175`).
  */
class CombinedNormSpec extends AnyFunSuite {
  import graft.util.SmallFloat
  test("quantise-then-sum-then-requantise") {
    // small lengths are exact: q(5)+q(1)=6 -> q(6)=6
    assert(graft.build.IndexBuilder.combinedNorm(Seq(5, 1)) == SmallFloat.intToByte4(6))
    // larger lengths quantise first: q(1000) != 1000
    val q1000 = SmallFloat.byte4ToInt(SmallFloat.intToByte4(1000))
    assert(graft.build.IndexBuilder.combinedNorm(Seq(1000, 1)) ==
      SmallFloat.intToByte4(q1000 + 1))
    assert(graft.build.IndexBuilder.combinedNorm(Seq(0, 0)) == SmallFloat.intToByte4(0))
  }
}

class FieldedSyntaxSpec extends AnyFunSuite {
  test("lang:x parses to a non-scoring keyword-field clause") {
    assert(QueryParser.parse("lang:EN") == ConstScoreQ(TermQ("#lang:en"), 0f))
    assert(QueryParser.parse("merge AND lang:en") ==
      BoolQ(must = Seq(TermQ("merge"), ConstScoreQ(TermQ("#lang:en"), 0f))))
  }

  test("field:value parses to scored per-field queries") {
    // scored field term / prefix / wildcard / fuzzy in the @field: namespace
    assert(QueryParser.parse("path:foo") == TermQ("@path:foo"))
    assert(QueryParser.parse("path:Analyzer*") == PrefixQ("@path:analyzer"))
    assert(QueryParser.parse("path:f?le*") == WildcardQ("@path:f?le*"))
    assert(QueryParser.parse("path:merg~1") == FuzzyQ("@path:merg", 1))
    // content: is the default (unprefixed) namespace
    assert(QueryParser.parse("content:merge") == TermQ("merge"))
    // mixed-field conjunction
    assert(QueryParser.parse("path:Analyzer* AND merge") ==
      BoolQ(must = Seq(PrefixQ("@path:analyzer"), TermQ("merge"))))
    // multi-token fielded value behaves like a fielded phrase
    assert(QueryParser.parse("path:foo.bar") == PhraseQ(Seq("@path:foo", "@path:bar")))
  }

  test("^boost parses and folds into leaf weights") {
    // term boost -> BoostTermQ with real-df sentinel
    assert(QueryParser.parse("merge^2") == BoostTermQ("merge", 2f, -1L))
    assert(QueryParser.parse("path:src3^2") == BoostTermQ("@path:src3", 2f, -1L))
    // group boost distributes into the scoring clauses
    assert(QueryParser.parse("(merge OR fast)^2") ==
      BoolQ(should = Seq(BoostTermQ("merge", 2f, -1L), BoostTermQ("fast", 2f, -1L)),
        minShouldMatch = 1))
    // phrase boost survives as a post-hoc BoostQ wrapper
    assert(QueryParser.parse("\"merge fast\"^1.5") ==
      BoostQ(PhraseQ(Seq("merge", "fast")), 1.5f))
    // nested boosts multiply; ^1 is identity
    assert(QueryParser.parse("(merge^2)^3") == BoostTermQ("merge", 6f, -1L))
    assert(QueryParser.parse("merge^1") == TermQ("merge"))
  }
}

/** Alternative analyzer modes build searchable indexes end-to-end. */
class AnalyzerModesSpec extends AnyFunSuite {
  test("analyze() dispatch covers every mode") {
    import graft.build.IndexBuilder.analyze
    assert(analyze("ws", "Foo bar.baz").map(_.term).toSeq == Seq("foo", "bar.baz"))
    assert(analyze("letter", "foo2bar").map(_.term).toSeq == Seq("foo", "bar"))
    assert(analyze("keyword", "Foo Bar").map(_.term).toSeq == Seq("foo bar"))
    assert(analyze("fold", "café au lait").map(_.term).toSeq == Seq("cafe", "au", "lait"))
    assert(analyze("stop", "fast the table").map(_.term).toSeq == Seq("fast", "table"))
    // ShingleFilter: unigrams + 2-shingles, shingle at its first token's pos
    assert(analyze("shingle", "a b c").map(t => (t.term, t.pos)).toSeq ==
      Seq(("a", 0), ("a b", 0), ("b", 1), ("b c", 1), ("c", 2)))
    // NGramTokenizer: char trigrams over word runs, start-major
    assert(analyze("ngram", "merge ab").map(_.term).toSeq == Seq("mer", "erg", "rge"))
    assert(graft.analysis.CodeAnalyzer.ngramTokenize("abcd", 2, 3).map(_.term).toSeq ==
      Seq("ab", "abc", "bc", "bcd", "cd"))
    assert(graft.analysis.CodeAnalyzer.shingles(Vector("x", "y", "z"), 3).toSeq == Seq("x y z"))
    assert(analyze("sub", "camelCase").map(_.term).toSeq == Seq("camel", "case"))
    assert(analyze("std", "camelCase").map(_.term).toSeq == Seq("camelcase"))
  }
}

/** Disjunction kernels — rank identity of block-max WAND and of the
  * windowed term-at-a-time accumulator vs brute-force evaluation over
  * random encoded postings (pure-JVM differential, no Spark): same hits,
  * same float scores, same tie order.
  */
class DisjunctionKernelSpec extends AnyFunSuite {
  import graft.exec.{Kernel, SegmentKernel}
  import graft.exec.Searcher.Scorers

  private val numDocs = 1500

  /** Random postings for `numTerms(rnd)` terms named t0, t1, ... and a
    * brute-force (docId, float-cast score) list of the docs at least
    * `msm` of them match. `skewed`: one random third of the docId range
    * holds docs a tenth as long, with freqs up to 40 instead of 12, so
    * block bounds differ widely from block to block and a wrong block
    * bound shows as a wrong top-k.
    */
  private final class Postings(seed: Int, numTerms: scala.util.Random => Int,
      skewed: Boolean = false) {
    private val rnd = new scala.util.Random(seed)
    private val n = numTerms(rnd)
    private val hot = if (skewed) rnd.nextInt(3) else -1
    private val lens = Array.tabulate(numDocs) { id =>
      val len = 5 + rnd.nextInt(400)
      if (id / 500 == hot) 1 + len / 10 else len
    }
    private val norms = lens.map(SmallFloat.intToByte4)
    private val fs = FieldStats(numDocs.toLong, lens.map(_.toLong).sum)
    private val terms = (0 until n).map { _ =>
      val density = 0.02 + rnd.nextDouble() * 0.4
      val ids = (0 until numDocs).filter(_ => rnd.nextDouble() < density)
      val freqs = ids.map(id => 1 + rnd.nextInt(if (id / 500 == hot) 40 else 12))
      (ids.toArray.map(_.toLong), freqs.toArray)
    }
    val names: IndexedSeq[String] = terms.indices.map(t => s"t$t")
    private val scorers = terms.map { case (ids, _) =>
      Kernel.FloatScorer(BM25.termScorer(TermStats("t", ids.length.toLong, 0L), fs))
    }
    private val pls = terms.indices.map { t =>
      val (ids, freqs) = terms(t)
      PostingCodec.encode(0, names(t), ids, freqs, ids.map(id => norms(id.toInt)), null)
    }
    def cursors(): Array[Kernel.TermCursor] =
      pls.indices.map(t => new Kernel.TermCursor(pls(t), scorers(t))).toArray
    def byTerm: Map[String, graft.model.PostingList] = names.zip(pls).toMap
    def scorerMap: Scorers = Scorers(names.zip(scorers).toMap, Map.empty, Map.empty, Map.empty)

    // brute-force baseline with the collector-boundary float cast
    def brute(msm: Int): Seq[(Long, Double)] = {
      val acc = new Array[Double](numDocs)
      val hits = new Array[Int](numDocs)
      terms.indices.foreach { t =>
        val (ids, freqs) = terms(t)
        ids.indices.foreach { i =>
          val d = ids(i).toInt
          acc(d) += scorers(t).score(freqs(i), norms(d))
          hits(d) += 1
        }
      }
      (0 until numDocs).filter(d => hits(d) >= math.max(msm, 1))
        .map(d => (d.toLong, acc(d).toFloat.toDouble))
    }
  }

  private def topOf(hits: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    hits.sortBy { case (d, s) => (-s, d) }.take(k)

  test("conjunction == brute force over random and block-skewed postings (20 seeds)") {
    for (seed <- 1 to 20; skewed <- Seq(false, true)) {
      val p = new Postings(seed * 7919, rnd => 2 + rnd.nextInt(3), skewed)
      val exp = p.brute(p.names.size) // every term must match
      Seq(3, 10, 64).foreach { k =>
        // rarest lead, as SegmentKernel.run orders them
        val cs = p.cursors()
        val byCost = p.names.indices.sortBy(t => p.byTerm(p.names(t)).df).map(cs).toArray
        val conj = Kernel.conjunctionTopK(byCost, k, floatMode = true)
        assert(conj.toSeq == topOf(exp, k), s"conjunction k=$k seed=$seed skewed=$skewed terms=${p.names.size}")
      }
    }
  }

  test("term == brute force over random and block-skewed postings (20 seeds)") {
    for (seed <- 1 to 20; skewed <- Seq(false, true)) {
      val p = new Postings(seed * 7919, _ => 1, skewed)
      Seq(3, 10, 64).foreach { k =>
        val term = Kernel.termTopK(p.cursors()(0), k, floatMode = true)
        assert(term.toSeq == topOf(p.brute(1), k), s"term k=$k seed=$seed skewed=$skewed")
      }
    }
  }

  test("wand == brute force over block-skewed postings (20 seeds)") {
    (1 to 20).foreach { seed =>
      val p = new Postings(seed * 7919, rnd => 2 + rnd.nextInt(8), skewed = true)
      Seq(3, 10, 64).foreach { k =>
        val wand = Kernel.wandTopK(p.cursors(), k, floatMode = true)
        assert(wand.toSeq == topOf(p.brute(1), k), s"wand k=$k seed=$seed")
      }
    }
  }

  /** A random term-only BoolQ over `names`: a single term, a conjunction,
    * a disjunction, or either one with a required or excluded clause.
    */
  private def randomTermQuery(rnd: scala.util.Random, names: IndexedSeq[String]): Query = {
    def some(n: Int): Seq[Query] = rnd.shuffle(names).take(n).map(TermQ(_))
    val n = names.size
    rnd.nextInt(5) match {
      case 0 => some(1).head
      case 1 => BoolQ(must = some(1 + rnd.nextInt(n)))
      case 2 => BoolQ(should = some(1 + rnd.nextInt(n)), minShouldMatch = rnd.nextInt(2))
      case 3 => BoolQ(must = some(1), should = some(1 + rnd.nextInt(n)))
      case _ => BoolQ(should = some(1 + rnd.nextInt(n)), mustNot = some(1), minShouldMatch = 1)
    }
  }

  test("one BlockCache shared by 40 random term queries == runs without a cache") {
    (1 to 5).foreach { seed =>
      val p = new Postings(seed * 104729, rnd => 3 + rnd.nextInt(6))
      val rnd = new scala.util.Random(seed)
      val blocks = new Kernel.BlockCache()
      (1 to 40).foreach { i =>
        val q = randomTermQuery(rnd, p.names)
        val k = Seq(3, 10, 64)(i % 3)
        val plain = SegmentKernel.run(q, p.byTerm, p.scorerMap, k, floatMode = true)
        val cached = SegmentKernel.run(q, p.byTerm, p.scorerMap, k, floatMode = true, blocks = blocks)
        assert(cached.toSeq == plain.toSeq, s"seed=$seed query $i: $q")
      }
      assert(blocks.size > 0, s"seed=$seed: nothing was cached")
    }
  }

  test("a BlockCache past its bound decodes directly and gives the same results") {
    val p = new Postings(31337, _ => 8)
    val rnd = new scala.util.Random(5)
    val queries = Seq.fill(40)(randomTermQuery(rnd, p.names))
    // 200 postings: the cache stops inserting after its second block
    val tiny = new Kernel.BlockCache(200)
    queries.zipWithIndex.foreach { case (q, i) =>
      val plain = SegmentKernel.run(q, p.byTerm, p.scorerMap, 10, floatMode = true)
      val cached = SegmentKernel.run(q, p.byTerm, p.scorerMap, 10, floatMode = true, blocks = tiny)
      assert(cached.toSeq == plain.toSeq, s"query $i: $q")
    }
    assert(tiny.size > 0 && tiny.size <= 200 + 128, s"cached ${tiny.size} postings")
  }

  test("an unplanned BlendedTermQ matches nothing in the segment kernel") {
    // planning rewrites a BlendedTermQ away; the kernel treats one that
    // reaches it like the other unexpanded multi-term shapes
    val p = new Postings(17, _ => 3)
    val blended = BlendedTermQ(p.names.take(2))
    def run(q: Query) = SegmentKernel.run(q, p.byTerm, p.scorerMap, 10, floatMode = true).toSeq
    assert(run(blended).isEmpty)
    assert(run(BoolQ(should = Seq(blended, TermQ(p.names(2))), minShouldMatch = 1)) == run(TermQ(p.names(2))))
  }

  test("a top-k heap rejects k < 1") {
    Seq(0, -1).foreach { k =>
      val e = intercept[IllegalArgumentException](new Kernel.HitHeap(k))
      assert(e.getMessage.contains("k must be > 0"))
    }
  }

  test("wand == brute force over random postings (20 seeds)") {
    (1 to 20).foreach { seed =>
      val p = new Postings(seed * 7919, rnd => 2 + rnd.nextInt(8))
      Seq(3, 10, 64).foreach { k =>
        val wand = Kernel.wandTopK(p.cursors(), k, floatMode = true)
        assert(wand.toSeq == topOf(p.brute(1), k), s"wand k=$k seed=$seed")
      }
    }
  }

  test("taat == brute force with minShouldMatch 1 and 2, up to 24 terms (20 seeds)") {
    val counts = (1 to 20).map { seed =>
      val p = new Postings(seed * 7919, rnd => 1 + rnd.nextInt(24))
      Seq(1, 2).foreach { msm =>
        val exp = p.brute(msm)
        // k = numDocs keeps every match, so the match-count filter shows
        // even where the top hits all match many terms
        Seq(3, 10, 64, numDocs).foreach { k =>
          val taat = Kernel.taatTopK(p.cursors(), k, msm, floatMode = true)
          assert(taat.toSeq == topOf(exp, k), s"taat msm=$msm k=$k seed=$seed")
          // the segment kernel's own pick on either side of the 16-clause
          // cut-over: WAND or generic cursors below it, TAAT above it
          val q = BoolQ(Nil, p.names.map(TermQ(_)), Nil, msm, Nil)
          val run = SegmentKernel.run(q, p.byTerm, p.scorerMap, k, floatMode = true)
          assert(run.toSeq == topOf(exp, k), s"run msm=$msm k=$k seed=$seed terms=${p.names.size}")
        }
      }
      p.names.size
    }
    assert(counts.exists(_ <= 16) && counts.exists(_ > 16), s"term counts $counts")
  }
}

/** LiveFieldValues double-buffer protocol (`core/search/LiveFieldValues
  * .java`): pending writes and deletes mask the fallthrough, refresh
  * start rolls current to old without losing visibility, refresh end
  * hands ids back to the (now-refreshed) lookup.
  */
class LiveFieldValuesSpec extends AnyFunSuite {
  test("read-your-writes across the refresh cycle") {
    var store = Map("a" -> 1, "b" -> 2, "c" -> 3)
    val lfv = new graft.streaming.LiveFieldValues[Int](id => store.get(id))
    // pending write/delete win over the store
    lfv.add("a", 10)
    lfv.delete("b")
    assert(lfv.get("a").contains(10))
    assert(lfv.get("b").isEmpty)
    assert(lfv.get("c").contains(3)) // untouched -> fallthrough
    assert(lfv.pending == 2)

    // refresh starts: snapshot will contain a=10 and the b delete
    lfv.beforeRefresh()
    assert(lfv.get("a").contains(10), "old buffer still serves during refresh")
    assert(lfv.get("b").isEmpty)
    // a write DURING the refresh lands in the new current and wins
    lfv.add("a", 100)
    assert(lfv.get("a").contains(100))

    // refresh done: the store now reflects the snapshot; old drops
    store = Map("a" -> 10, "c" -> 3)
    lfv.afterRefresh()
    assert(lfv.get("a").contains(100), "during-refresh write still pending")
    assert(lfv.get("b").isEmpty, "store lost b via the applied delete")
    assert(lfv.get("c").contains(3))
    assert(lfv.pending == 1)

    // second cycle flushes the last write
    lfv.beforeRefresh()
    store = Map("a" -> 100, "c" -> 3)
    lfv.afterRefresh()
    assert(lfv.get("a").contains(10 + 90))
    assert(lfv.pending == 0)
  }
}

/** BenchExtra's rep loop: a rep that throws is reported as an error and
  * yields no timing sample; error messages are JSON-escaped.
  */
class BenchExtraSpec extends AnyFunSuite {
  test("failed reps are errors, not samples; errors render as escaped JSON") {
    var n = 0
    val (failed, samples) = BenchExtra.timeReps(4) {
      n += 1
      if (n % 2 == 0) throw new IllegalStateException(s"rep \"$n\"\nfailed")
    }
    assert(n == 4)
    assert(samples.size == 2 && samples.forall(_ >= 0d))
    assert(failed == Seq(2, 4).map(i => s"java.lang.IllegalStateException: rep \"$i\"\nfailed"))
    assert(BenchExtra.errorsJson(Seq("q1" -> failed.take(1), "q2" -> Nil)) ==
      """{"q1":["java.lang.IllegalStateException: rep \"2\"\nfailed"],"q2":[]}""")
    assert(BenchExtra.errorsJson(Nil) == "{}")
  }
}
