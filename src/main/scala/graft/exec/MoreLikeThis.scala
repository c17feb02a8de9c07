package graft.exec

import graft.analysis.CodeAnalyzer
import graft.build.Index
import graft.query.{BoolQ, Query, TermQ}

/** More-like-this query former — a re-expression of the reference's
  * `lucene/queries/src/java/org/apache/lucene/queries/mlt/MoreLikeThis.java`
  * (term selection loop `:629-678`): analyze the source content, keep
  * terms with tf >= minTermFreq and minDocFreq <= df <= maxDocFreq,
  * score each candidate tf * idf with the ClassicSimilarity idf
  * (`ln((numDocs+1)/(df+1)) + 1`,
  * `core/search/similarities/ClassicSimilarity.java`), and build a pure
  * SHOULD disjunction of the top maxQueryTerms terms (the reference's
  * default non-boosting mode).
  *
  * Spark shape: the source doc's term frequencies are a driver-side map
  * of ONE analyzed document (bounded); df lookups are a single filtered
  * read of the term stats whose `In(term, ...)` predicate pushes to the
  * postings scan — no full-vocabulary pass.
  *
  * Selection ranks on the 1e-4-quantised score (desc, then term asc) so
  * a cross-engine oracle computing the same `ln` agrees on the cutoff
  * regardless of last-ulp differences.
  */
object MoreLikeThis {
  /** Reference defaults: DEFAULT_MIN_TERM_FREQ = 2,
    * DEFAULT_MIN_DOC_FREQ = 5, DEFAULT_MAX_DOC_FREQ = MAX_VALUE,
    * DEFAULT_MAX_QUERY_TERMS = 25 (`MoreLikeThis.java:209-265`).
    */
  final case class Params(
      minTermFreq: Int = 2,
      minDocFreq: Int = 5,
      maxDocFreq: Long = Long.MaxValue,
      maxQueryTerms: Int = 25)

  /** Selected (term, tf*idf) pairs, ranked by (quantised score desc,
    * term asc), capped at maxQueryTerms.
    */
  def selectTerms(index: Index, content: String, p: Params): Seq[(String, Double)] =
    selectTermsBatch(index, Seq("" -> content), p)("")

  private def candidateTf(content: String, p: Params): Map[String, Int] =
    CodeAnalyzer.tokenize(content)
      .groupBy(_.term).map { case (t, xs) => (t, xs.length) }
      .filter { case (_, f) => f >= p.minTermFreq }

  private def rank(cands: Map[String, Int], dfs: Map[String, Long], n: Long,
      p: Params): Seq[(String, Double)] =
    cands.toSeq
      .flatMap { case (t, f) =>
        dfs.get(t) match {
          case Some(df) if df > 0 && df >= p.minDocFreq && df <= p.maxDocFreq =>
            Some((t, f * (math.log((n + 1).toDouble / (df + 1).toDouble) + 1.0)))
          case _ => None
        }
      }
      .sortBy { case (t, s) => (-math.floor(s * 10000d + 0.5d), t) }
      .take(p.maxQueryTerms)

  /** Batched term selection: ONE pushed `In(term, ...)` stats lookup for
    * the UNION of all source docs' candidate terms, then each doc's
    * ranking — the corpus-scale labeling shape (N source docs, one stats
    * job instead of N). [[selectTerms]] is a batch of one; per-id results
    * are IDENTICAL to it (KnnBatchSpec).
    */
  def selectTermsBatch(index: Index, contents: Seq[(String, String)],
      p: Params = Params()): Map[String, Seq[(String, Double)]] = {
    val perDoc = contents.map { case (id, c) => (id, candidateTf(c, p)) }
    val all = perDoc.flatMap(_._2.keys).distinct
    if (all.isEmpty) return contents.map(_._1 -> Seq.empty[(String, Double)]).toMap
    val spark = index.postings.sparkSession
    import spark.implicits._
    val dfs = index.termStats
      .filter($"term".isin(all: _*))
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val n = index.fieldStats.docCount
    perDoc.map { case (id, cands) => id -> rank(cands, dfs, n, p) }.toMap
  }

  /** The MLT query: a plain SHOULD disjunction of the selected terms. */
  def likeQuery(index: Index, content: String, p: Params = Params()): Query =
    BoolQ(should = selectTerms(index, content, p).map { case (t, _) => TermQ(t) })

  /** Boosted MLT (`mlt.setBoost(true)`, `MoreLikeThis.java` createQuery
    * boost path — the mode KNearestNeighborClassifier forces with the
    * comment "terms boost actually helps in MLT queries"): each selected
    * term boosted by score/bestScore. The ratio is 1e-4-quantised then
    * FLOAT-cast so a cross-engine oracle reproduces the widened value
    * exactly.
    */
  def likeQueryBoosted(index: Index, content: String, p: Params = Params()): Query =
    boosted(selectTerms(index, content, p))

  /** Batched [[likeQueryBoosted]]: one stats job for all source docs. */
  def likeQueryBoostedBatch(index: Index, contents: Seq[(String, String)],
      p: Params = Params()): Seq[(String, Query)] = {
    val sels = selectTermsBatch(index, contents, p)
    contents.map { case (id, _) => id -> boosted(sels(id)) }
  }

  private def boosted(sel: Seq[(String, Double)]): Query =
    if (sel.isEmpty) graft.query.MatchNone
    else {
      val best = sel.map(_._2).max
      BoolQ(should = sel.map { case (t, s) =>
        graft.query.BoostQ(TermQ(t),
          (math.floor(s / best * 10000d + 0.5d) / 10000d).toFloat)
      })
    }
}
