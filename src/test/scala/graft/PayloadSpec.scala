package graft

import graft.analysis.{Payloads, Token}
import graft.build.{Datagen, IndexBuilder, InputDoc}
import graft.codec.{PForFormat, PostingCodec, VByteFormat}

/** Payload lane (round 6 — the PAYLOADS IndexOptions analogue):
  * codec round-trip in BOTH formats, concat, header back-compat,
  * delimited/length payload filters, PayloadScore functions vs a naive
  * evaluation, merge survival, and scoring-path neutrality.
  */
class PayloadSpec extends SparkTest {

  private def randPostings(rnd: scala.util.Random, n: Int) = {
    val ids = Array.iterate(rnd.nextInt(5).toLong, n)(x => x + 1 + rnd.nextInt(40))
    val freqs = Array.fill(n)(1 + rnd.nextInt(4))
    val norms = Array.fill(n)(rnd.nextInt(256).toByte)
    val ps = freqs.map { f =>
      val arr = new Array[Int](f)
      var p = -1
      for (j <- 0 until f) { p += 1 + rnd.nextInt(6); arr(j) = p }
      arr
    }
    // payloads: mix of float payloads, empty (null) slots, and whole
    // postings without any payload
    val pays = freqs.zipWithIndex.map { case (f, i) =>
      if (i % 7 == 3) null
      else Array.tabulate[Array[Byte]](f) { j =>
        if ((i + j) % 5 == 4) null
        else Payloads.encodeFloat(rnd.nextInt(1000) / 8f)
      }
    }
    (ids, freqs, norms, ps, pays)
  }

  private def flatten(pays: Array[Array[Array[Byte]]], freqs: Array[Int]): Seq[Seq[Option[Float]]] =
    pays.zip(freqs).map { case (pa, f) =>
      (0 until f).map(j =>
        if (pa == null || pa(j) == null) None else Some(Payloads.decodeFloat(pa(j))))
    }.toSeq

  test("round-trip with payloads in both codecs, multi-block; lane flagged") {
    val rnd = new scala.util.Random(7)
    for (fmt <- Seq(PForFormat, VByteFormat); n <- Seq(3, 128, 391)) {
      val (ids, freqs, norms, ps, pays) = randPostings(rnd, n)
      val pl = fmt.encode(5, "t", ids, freqs, norms, ps, pays)
      assert(PostingCodec.hasPayloads(pl) && pl.offsets(0) == 2 && pl.payload(0) == fmt.id)
      val d = PostingCodec.decodeAll(pl, withPositions = true, withPayloads = true)
      assert(d.docIds.toSeq == ids.toSeq && d.freqs.toSeq == freqs.toSeq)
      assert(d.positions.map(_.toSeq).toSeq == ps.map(_.toSeq).toSeq)
      assert(flatten(d.payloads, freqs) == flatten(pays, freqs), s"fmt=${fmt.name} n=$n")
      // a reader that doesn't ask for payloads sees the same postings
      val plain = PostingCodec.decodeAll(pl, withPositions = true)
      assert(plain.docIds.toSeq == ids.toSeq && plain.payloads == null)
      assert(plain.positions.map(_.toSeq).toSeq == ps.map(_.toSeq).toSeq)
    }
  }

  test("payload-less rows keep the 1-byte header (byte-identical back-compat)") {
    val rnd = new scala.util.Random(11)
    val (ids, freqs, norms, ps, _) = randPostings(rnd, 100)
    for (fmt <- Seq(PForFormat, VByteFormat)) {
      val without = fmt.encode(2, "t", ids, freqs, norms, ps)
      assert(without.offsets(0) == 1 && !PostingCodec.hasPayloads(without))
      // decoding with withPayloads on a lane-less row is a no-op, not an error
      val d = PostingCodec.decodeAll(without, withPositions = true, withPayloads = true)
      assert(d.payloads == null && d.docIds.toSeq == ids.toSeq)
    }
  }

  test("concat of split halves preserves the payload lane") {
    val rnd = new scala.util.Random(13)
    for (fmt <- Seq(PForFormat, VByteFormat)) {
      val (ids, freqs, norms, ps, pays) = randPostings(rnd, 260)
      val mid = 130
      val a = fmt.encode(1, "t", ids.take(mid), freqs.take(mid), norms.take(mid),
        ps.take(mid), pays.take(mid))
      val b = fmt.encode(1, "t", ids.drop(mid), freqs.drop(mid), norms.drop(mid),
        ps.drop(mid), pays.drop(mid))
      val cat = PostingCodec.concat(Seq(a, b))
      val d = PostingCodec.decodeAll(cat, withPositions = true, withPayloads = true)
      assert(d.docIds.toSeq == ids.toSeq)
      assert(flatten(d.payloads, freqs) == flatten(pays, freqs), fmt.name)
      // mixed lane presence falls back to decode+re-encode and keeps it
      val c = fmt.encode(1, "t",
        ids.drop(mid).map(_ + 100000), freqs.drop(mid), norms.drop(mid), ps.drop(mid))
      val mixed = PostingCodec.concat(Seq(a, c))
      assert(PostingCodec.hasPayloads(mixed))
      val dm = PostingCodec.decodeAll(mixed, withPositions = true, withPayloads = true)
      assert(dm.docIds.length == 260)
      assert(flatten(dm.payloads.take(mid), freqs.take(mid)) ==
        flatten(pays.take(mid), freqs.take(mid)))
      assert(flatten(dm.payloads.drop(mid), freqs.drop(mid)).flatten.forall(_.isEmpty))
    }
  }

  test("delimited float filter: split at last delimiter, unparsable passes through") {
    val toks = Array(Token("boost|2.5", 0), Token("plain", 1),
      Token("a|b|1.25", 2), Token("bad|x2", 3))
    val out = Payloads.delimitedFloat(toks)
    assert(out(0).term == "boost" && Payloads.decodeFloat(out(0).payload) == 2.5f)
    assert(out(1).term == "plain" && out(1).payload == null)
    assert(out(2).term == "a|b" && Payloads.decodeFloat(out(2).payload) == 1.25f)
    assert(out(3).term == "bad|x2" && out(3).payload == null)
  }

  // ---- engine-level: lenpayload index + PayloadScore -----------------------

  private val N = 400
  private lazy val docs: Seq[InputDoc] = (0L until N).map { i =>
    val r = Datagen.row(19L, i, 20, 200)
    val key = s"${r.repo}/${r.path}@${r.commit}"
    InputDoc(math.floorMod(key.hashCode, 3), key, r.repo, r.path, r.commit, r.lang, r.content)
  }
  private lazy val index = IndexBuilder.buildInMemory(
    spark, spark.createDataset(docs)(org.apache.spark.sql.Encoders.product[InputDoc]),
    analyzerMode = "lenpayload")
  private lazy val stdIndex = IndexBuilder.buildInMemory(
    spark, spark.createDataset(docs)(org.apache.spark.sql.Encoders.product[InputDoc]))

  private def naiveScores(terms: Set[String], fn: String): Map[Long, Double] = {
    val byDoc = docs.groupBy(_.seg).toSeq.flatMap { case (seg, ds) =>
      ds.sortBy(_.sortKey).zipWithIndex.map { case (d, ord) =>
        ((seg.toLong << IndexBuilder.SegShift) | ord.toLong, d.content)
      }
    }
    byDoc.flatMap { case (id, content) =>
      val vs = graft.analysis.CodeAnalyzer.tokenize(content)
        .filter(t => terms(t.term)).map(_.term.length.toDouble).toSeq
      if (vs.isEmpty) None
      else Some(id -> (fn match {
        case "sum" => vs.sum
        case "max" => vs.max
        case "min" => vs.min
        case "avg" => vs.sum / vs.length
      }))
    }.toMap
  }

  test("PayloadScore.topK == naive for sum/max/min/avg") {
    import spark.implicits._
    val terms = Seq("stream", "scan", "spark")
    for (fn <- Seq("sum", "max", "min", "avg")) {
      val exp = naiveScores(terms.toSet, fn).toSeq
        .sortBy { case (id, s) => (-s, id) }.take(10)
      val got = graft.exec.PayloadScore.topK(index, terms, fn, 10)
        .as[(Long, Double)].collect().toSeq
      assert(got == exp, s"fn=$fn\n got=$got\n exp=$exp")
    }
    intercept[IllegalArgumentException] {
      graft.exec.PayloadScore.topK(index, terms, "nope", 10)
    }
  }

  test("payload lane is invisible to the scoring kernels (BM25 identical to std)") {
    import spark.implicits._
    for (q <- Seq("stream", "stream AND scan", "\"merge stream\"")) {
      val a = graft.exec.Searcher.topK(index, q, 10).as[(Long, Float)].collect().toSeq
      val b = graft.exec.Searcher.topK(stdIndex, q, 10).as[(Long, Float)].collect().toSeq
      assert(a == b, s"query [$q]")
    }
  }

  test("CheckIndex validates the payload lane (healthy index reports nothing)") {
    assert(graft.build.CheckIndex.run(index).isEmpty)
  }

  test("payload lane round-trips through parquet (persistent-index storage)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-paytest").toString
    try {
      index.postings.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir).as[graft.model.PostingList]
        .collect().map(pl => (pl.seg, pl.term) -> pl).toMap
      val orig = index.postings.collect()
      assert(orig.nonEmpty && orig.exists(PostingCodec.hasPayloads))
      orig.foreach { pl =>
        val rt = back((pl.seg, pl.term))
        assert(PostingCodec.hasPayloads(rt) == PostingCodec.hasPayloads(pl))
        assert(java.util.Arrays.equals(rt.payload, pl.payload) &&
          rt.offsets.toSeq == pl.offsets.toSeq, s"${pl.term}")
        if (PostingCodec.hasPayloads(pl)) {
          val a = PostingCodec.decodeAll(pl, withPayloads = true)
          val b = PostingCodec.decodeAll(rt, withPayloads = true)
          assert(b.docIds.toSeq == a.docIds.toSeq)
          assert(flatten(b.payloads, b.freqs) == flatten(a.payloads, a.freqs), pl.term)
        }
      }
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
      ()
    }
  }

  test("payloads survive mergeSegments over every segment") {
    import spark.implicits._
    // `index`'s rows committed as a persistent generation, then merged
    val dir = java.nio.file.Files.createTempDirectory("graft-paymerge").toString
    val rows = spark.createDataset(docs).groupByKey(_.seg)
      .flatMapGroups((seg, it) => IndexBuilder.buildSegment(seg, it, analyzerMode = "lenpayload"))
    val segs = IndexBuilder.commitGeneration(spark, dir, Seq(rows), _ => "lenpayload",
      graft.codec.PostingFormats.Default).map(_.seg)
    graft.build.IndexMerger.mergeSegments(spark, dir, segs)
    val merged = IndexBuilder.open(spark, dir)
    val before = graft.exec.PayloadScore.topK(index, Seq("stream", "scan"), "sum", 10)
      .as[(Long, Double)].collect().map(_._2).toSeq
    val after = graft.exec.PayloadScore.topK(merged, Seq("stream", "scan"), "sum", 10)
      .as[(Long, Double)].collect().map(_._2).toSeq
    // docIds are remapped by the merge; the score multiset must survive
    assert(after == before)
  }
}
