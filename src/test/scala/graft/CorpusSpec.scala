package graft

import graft.driverapi.{Corpus, Queries}
import graft.query.TermQ

class CorpusSpec extends SparkTest {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("one shared artifact per (session, dir, name); unknown variants throw") {
    val (std, mapping) = Corpus.index(spark, dir)
    assert(Corpus.index(spark, dir, "std")._1 eq std)
    assert(Corpus.index(spark, dir)._2 eq mapping)
    assert(Corpus.docTokens(spark, dir) eq Corpus.docTokens(spark, dir))
    val other = spark.newSession()
    val (otherStd, _) = Corpus.index(other, dir)
    assert(!(otherStd eq std))
    assert(Corpus.index(other, dir)._1 eq otherStd)
    val e = intercept[IllegalArgumentException](Corpus.index(spark, dir, "nope"))
    assert(e.getMessage.contains("nope"))
  }

  test("prep steps are the variant table's rows then the other shared artifacts") {
    assert(Queries.prepSteps.map(_._1) == Seq(
      "idx_std", "idx_sub", "idx_all", "idx_stop", "idx_shingle", "idx_ngram",
      "idx_vbyte", "idx_porter", "idx_lenpayload", "idx_enmin", "idx_frmin",
      "idx_demin", "idx_denorm", "doc_tokens", "minhash_bands", "simhash60",
      "ivf_train", "nb_model", "infix_grams", "unigram_top"))
  }

  test("ft_batch_topk == each query's rounded top 10, ranked 1..10") {
    val (index, mapping) = Corpus.index(spark, dir)
    val docIds = mapping.as[(Long, Long)].collect().toMap
    val got = Queries.all("ft_batch_topk")._1(spark, dir)
    assert(got.columns.toSeq == Seq("qid", "doc_id", "score", "rank"))
    val expected = Seq("merge", "stream", "table").flatMap { t =>
      Queries.topRoundedHits(index, TermQ(t), 10).zipWithIndex.map { case ((d, s), i) =>
        (t, docIds(d), s, (i + 1).toLong)
      }
    }
    assert(expected.map(_._1).distinct.length == 3)
    assert(got.as[(String, Long, Double, Long)].collect().toSeq == expected)
  }
}
