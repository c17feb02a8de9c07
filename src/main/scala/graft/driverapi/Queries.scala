package graft.driverapi

import graft.exec.Searcher
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver-facing operator catalog: every entry has a Spark implementation
  * and (where ANSI-SQL-expressible) a DuckDB oracle in [[oracleSql]] with
  * IDENTICAL column names and arithmetic. Fulltext entries run through
  * the real engine (Corpus -> IndexBuilder -> Searcher kernels) in
  * double-precision mode; relational and pipeline entries are plain
  * Catalyst plans (broadcast joins for dims, partial aggs, window
  * functions) — SURVEY.md §2 inventory coverage.
  */
object Queries {
  type QFn = (SparkSession, String) => DataFrame

  /** Half-up rounding written as explicit double arithmetic so the DuckDB
    * oracle can reproduce it TEXTUALLY (round() rounding modes differ
    * between engines on exact .xxxx5 rationals).
    */
  private def r4(c: org.apache.spark.sql.Column) = floor(c * 10000d + 0.5d) / 10000d
  private def r2(c: org.apache.spark.sql.Column) = floor(c * 100d + 0.5d) / 100d

  // ---------- shared SQL fragments (DuckDB) ----------

  /** Tokenizer CTEs — must equal CodeAnalyzer on the documents alphabet. */
  private val tokCte =
    """tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term FROM documents)"""

  private val posCte =
    """pos AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term,
      |            generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS p
      |     FROM documents)""".stripMargin

  /** Byte-quantised doc length — exact SmallFloat.intToByte4 semantics
    * (validated bit-for-bit over 0..200000).
    */
  private val qlenExpr =
    "CASE WHEN len < 32 THEN len ELSE 24 + (((len-24) >> (length(bin(len-24))-4)) << (length(bin(len-24))-4)) END"

  /** BM25 top-k oracle over terms (OR = any term, AND = all terms),
    * double precision, quantised norms, identical formula to
    * BM25.TermScorerD: score = sum_t [ idf_t - idf_t/(1 + tf*normInv) ].
    */
  private def bm25Sql(terms: Seq[String], requireAll: Boolean, k: Int): String =
    bm25SqlPred(s"term IN (${terms.map(t => s"'$t'").mkString(", ")})",
      if (requireAll) terms.length else 0, "sum", k)

  /** Generalised BM25 oracle: term predicate (IN / levenshtein / range),
    * required distinct-match count (0 = any), and score combiner
    * (sum = boolean SHOULD, max = DisjunctionMax with tieBreak 0).
    */
  private def bm25SqlPred(termPred: String, requireDistinct: Int, agg: String, k: Int): String = {
    val having = if (requireDistinct > 0) s"HAVING count(DISTINCT tf.term) = $requireDistinct" else ""
    s"""WITH $tokCte,
       |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
       |st AS (SELECT (SELECT count(*) FROM documents) AS n,
       |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
       |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE $termPred GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
       |sc AS (SELECT tf.doc_id,
       |              $agg(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
       |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
       |       GROUP BY tf.doc_id $having)
       |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
       |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
       |FROM sc ORDER BY rank LIMIT $k""".stripMargin
  }

  /** More-like-this oracle: mirrors `exec/MoreLikeThis.selectTerms` —
    * candidate terms of the source doc with tf >= minTermFreq and
    * df >= minDocFreq, scored tf * (ln((n+1)/(df+1)) + 1) (ClassicSim
    * idf), top maxQueryTerms by (1e-4-quantised score desc, term asc) —
    * then the standard BM25 disjunction top-k over the selected terms.
    */
  private def mltSql(srcDocId: Long, minTermFreq: Int, minDocFreq: Int,
      maxQueryTerms: Int, k: Int): String =
    s"""WITH $tokCte,
       |mtf AS (SELECT term, count(*) AS tf FROM tok WHERE doc_id = $srcDocId
       |        GROUP BY term HAVING count(*) >= $minTermFreq),
       |mdf AS (SELECT t.term, count(DISTINCT t.doc_id) AS df FROM tok t
       |        JOIN mtf m ON t.term = m.term GROUP BY t.term),
       |mn AS (SELECT count(*) AS n FROM documents),
       |mcand AS (SELECT m.term, m.tf * (ln((mn.n + 1.0)/(d.df + 1.0)) + 1.0) AS msc
       |          FROM mtf m JOIN mdf d ON m.term = d.term, mn WHERE d.df >= $minDocFreq),
       |msel AS (SELECT term FROM (SELECT term,
       |           row_number() OVER (ORDER BY floor(msc*10000+0.5) DESC, term) AS rn
       |         FROM mcand) WHERE rn <= $maxQueryTerms),
       |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
       |st AS (SELECT (SELECT count(*) FROM documents) AS n,
       |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
       |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       WHERE term IN (SELECT term FROM msel) GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
       |sc AS (SELECT tf.doc_id,
       |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
       |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
       |       GROUP BY tf.doc_id)
       |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
       |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
       |FROM sc ORDER BY rank LIMIT $k""".stripMargin

  /** Engine-side BM25 top-k with the same rounded re-rank. */
  private def ftScored(q: String, k: Int): QFn = (spark, dir) =>
    ftScoredQ(graft.query.QueryParser.parse(q), k)(spark, dir)

  private def r4d(s: Double) = math.floor(s * 10000d + 0.5d) / 10000d

  /** Exactly the top-k hits by (ROUNDED score desc, docId asc), scores
    * rounded: [[topRoundedHitsBatch]] of one query.
    */
  private[graft] def topRoundedHits(index: graft.build.Index, q0: graft.query.Query,
      k: Int, sim: graft.exec.SimilarityFactory = graft.exec.BM25Sim): Array[(Long, Double)] =
    topRoundedHitsBatch(index, Seq("" -> q0), k, sim)("")

  /** ALL queries' rounded top-k through [[Searcher.topKBatch]] — one
    * postings scan + one kernel pass per segment per escalation round for
    * the whole query set, the shape a corpus-scale labeling pass needs
    * (N queries, O(1) jobs, not N jobs). Each round fetches k+40 (then
    * x4) hits and reruns only the qids whose last fetched hit can still
    * tie the kth rounded score (a fixed buffer could drop lower-doc_id
    * ties just outside the window). Per-qid results are IDENTICAL to
    * batches of one (KnnBatchSpec).
    */
  private[graft] def topRoundedHitsBatch(index: graft.build.Index,
      queries: Seq[(String, graft.query.Query)], k: Int,
      sim: graft.exec.SimilarityFactory = graft.exec.BM25Sim)
      : Map[String, Array[(Long, Double)]] = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val done = scala.collection.mutable.Map.empty[String, Array[(Long, Double)]]
    var pending = queries
    var kk = k + 40
    while (pending.nonEmpty) {
      val byQid = Searcher.topKBatch(index, pending, kk, doubleMode = true, sim = sim)
        .select($"qid", $"docId", $"score")
        .as[(String, Long, Double)].collect() // rank order within each qid
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
      val next = Seq.newBuilder[(String, graft.query.Query)]
      pending.foreach { case (qid, q0) =>
        val hits = byQid.getOrElse(qid, Array.empty[(Long, Double)])
        val constScore =
          graft.query.Query.rewrite(q0).isInstanceOf[graft.query.ConstScoreQ]
        if (!constScore && hits.length == kk && hits.length >= k &&
            r4d(hits.last._2) >= r4d(hits(k - 1)._2)) next += (qid -> q0)
        else done(qid) = hits.map { case (d, s) => (d, r4d(s)) }
          .sortBy { case (d, s) => (-s, d) }.take(k)
      }
      pending = next.result()
      kk *= 4
    }
    done.toMap
  }

  private def ftScoredQ(q0: graft.query.Query, k: Int, variant: String = "std",
      sim: graft.exec.SimilarityFactory = graft.exec.BM25Sim): QFn = (spark, dir) => {
    import spark.implicits._
    val (index, mapping) = variant match {
      case "sub" => Corpus.getSubtoken(spark, dir)
      case "all" => Corpus.getCombinedField(spark, dir)
      case "shingle" => Corpus.getShingled(spark, dir)
      case "ngram" => Corpus.getNgram(spark, dir)
      case "vbyte" => Corpus.getVByte(spark, dir)
      case "porter" => Corpus.getPorter(spark, dir)
      case "enmin" => Corpus.getStemmed(spark, dir)
      case "frmin" => Corpus.getFrench(spark, dir)
      case "demin" => Corpus.getGerman(spark, dir)
      case "denorm" => Corpus.getGermanNorm(spark, dir)
      case _ => Corpus.get(spark, dir)
    }
    spark.createDataset(topRoundedHits(index, q0, k, sim).toSeq).toDF("docId", "score")
      .join(mapping, "docId")
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
      .select($"doc_id", $"score", $"rank")
      .orderBy($"rank")
  }

  // ============================================================
  // §A fulltext engine queries (documents table)
  // ============================================================

  val fulltext: Map[String, (QFn, Option[String])] = Map(
    "ft_term_topk" -> ((ftScored("merge", 10), Some(bm25Sql(Seq("merge"), requireAll = false, 10)))),

    "ft_and_topk" -> ((ftScored("merge AND stream", 10),
      Some(bm25Sql(Seq("merge", "stream"), requireAll = true, 10)))),

    "ft_or_topk" -> ((ftScored("merge OR stream OR vector", 10),
      Some(bm25Sql(Seq("merge", "stream", "vector"), requireAll = false, 10)))),

    // blended top-n fuzzy (FuzzyQuery default rewrite): Damerau-Levenshtein
    // candidates, boost = 1 - ed/min(len), top-50 by (float boost desc,
    // term asc), scored with df blended to the max over picked terms
    "ft_fuzzy_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.FuzzyQ("merg", 1), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |cand AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |                damerau_levenshtein(term, 'merg') AS ed
         |         FROM tok WHERE abs(length(term) - 4) <= 1 GROUP BY term
         |         HAVING damerau_levenshtein(term, 'merg') <= 1),
         |top AS (SELECT term, df,
         |          CASE WHEN ed = 0 THEN 1.0 ELSE 1.0 - ed / CAST(least(length(term), 4) AS DOUBLE) END AS boost
         |        FROM cand
         |        ORDER BY CASE WHEN ed = 0 THEN CAST(1.0 AS FLOAT)
         |                      ELSE CAST(1.0 - CAST(ed AS FLOAT) / CAST(least(length(term), 4) AS FLOAT) AS FLOAT) END DESC,
         |                 term LIMIT 50),
         |bdf AS (SELECT max(df) AS df FROM top),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN (SELECT term FROM top) GROUP BY doc_id, term),
         |sc AS (SELECT tf.doc_id,
         |         sum(top.boost * (ln(1 + (st.n - bdf.df + 0.5)/(bdf.df + 0.5))
         |             - ln(1 + (st.n - bdf.df + 0.5)/(bdf.df + 0.5))
         |               /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n))))))) AS s
         |       FROM tf JOIN top ON tf.term = top.term
         |            JOIN qd ON tf.doc_id = qd.doc_id, st, bdf
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // BATCH search: three queries in ONE job (one kernel pass per
    // segment, per-query top-k merged on the driver) — the
    // training-data-mining shape ("run 10k queries over the corpus");
    // per-query results identical to the single-query path
    "ft_batch_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      val batch = Seq("merge", "stream", "table").map(t => t -> (graft.query.TermQ(t): graft.query.Query))
      // all hits per query (fixture-small), then the same rounded
      // re-rank discipline as the single-query catalog entries
      val hits = Searcher.topKBatch(index, batch, 100000, doubleMode = true)
        .select($"qid", $"docId", $"score").as[(String, Long, Double)].collect()
      val reranked = hits.groupBy(_._1).toSeq.flatMap { case (qid, hs) =>
        hs.map { case (_, d, s) => (qid, d, r4d(s)) }
          .sortBy { case (_, d, s) => (-s, d) }
          .take(10).zipWithIndex
          .map { case ((q, d, s), i) => (q, d, s, (i + 1).toLong) }
      }
      spark.createDataset(reranked).toDF("qid", "docId", "score", "rank")
        .join(mapping, "docId")
        .select($"qid", $"doc_id", $"score", $"rank")
        .orderBy($"qid", $"rank")
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream', 'table') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |sc AS (SELECT tf.term AS qid, tf.doc_id,
         |              (idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st)
         |SELECT qid, doc_id, score, rank FROM (
         |  SELECT qid, doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |  FROM sc)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin))),

    "ft_range_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.TermRangeQ("va", "var"), 10)(spark, dir)
    }, Some(bm25SqlPred("term >= 'va' AND term <= 'var'", 0, "sum", 10)))),

    // classic occur modifiers end-to-end: `+merge stream -vector` =
    // merge required (gates), stream optional (boosts only, msm 0),
    // vector prohibited — ReqOptSum + exclusion in one kernel pass
    "ft_occur_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.QueryParser.parse("+merge stream -vector"), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |ok AS (SELECT doc_id FROM tok GROUP BY doc_id
         |       HAVING sum(CASE WHEN term = 'merge' THEN 1 ELSE 0 END) > 0
         |          AND sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) = 0),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |sc AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       WHERE tf.doc_id IN (SELECT doc_id FROM ok)
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // exclusive-bound range through the classic parser syntax
    // (`{a TO b}`, TermRangeQuery includeLower/Upper=false): both bound
    // TERMS are excluded — a real differential vs the inclusive entry
    "ft_range_excl_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.QueryParser.parse("{merge TO stream}"), 10)(spark, dir)
    }, Some(bm25SqlPred("term > 'merge' AND term < 'stream'", 0, "sum", 10)))),

    "ft_dismax_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.DisMaxQ(Seq(
        graft.query.TermQ("merge"), graft.query.TermQ("stream")), 0d), 10)(spark, dir)
    }, Some(bm25SqlPred("term IN ('merge', 'stream')", 0, "max", 10)))),

    // synonym pseudo-term: freq = sum over members, df = max of member dfs
    "ft_synonym_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.SynonymQ(Seq("fast", "slow")), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, sum(CASE WHEN term IN ('fast','slow') THEN 1 ELSE 0 END) AS tf
         |       FROM tok GROUP BY doc_id HAVING tf > 0),
         |df AS (SELECT greatest(
         |         (SELECT count(DISTINCT doc_id) FROM tok WHERE term = 'fast'),
         |         (SELECT count(DISTINCT doc_id) FROM tok WHERE term = 'slow')) AS df),
         |sc AS (SELECT tf.doc_id,
         |         (ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |          - ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |            /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN qd ON tf.doc_id = qd.doc_id, st, df)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // kernel count path: one partial count per segment, partial/final agg —
    // no heap, no scoring, no global sort (TotalHitCountCollector analogue)
    "ft_not_count" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      Seq(Searcher.count(index, "table AND NOT vector")).toDF("n")
    }, Some(
      s"""WITH $tokCte
         |SELECT CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT doc_id FROM tok GROUP BY doc_id
         |  HAVING sum(CASE WHEN term = 'table' THEN 1 ELSE 0 END) > 0
         |     AND sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) = 0)""".stripMargin))),

    // kernel docs path: matching docIds stream out unscored, the only
    // sort is the tiny result's output ordering
    "ft_phrase_docs" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      Searcher.matchingDocs(index, graft.query.QueryParser.parse("\"fast table\""))
        .toDF("docId")
        .join(mapping, "docId").select($"doc_id").orderBy($"doc_id")
    }, Some(
      s"""WITH $posCte
         |SELECT DISTINCT a.doc_id AS doc_id FROM pos a JOIN pos b
         |  ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |WHERE a.term = 'fast' AND b.term = 'table' ORDER BY 1""".stripMargin))),

    // phrase ending in a prefix (`"fast ta*"`): the MultiPhraseQuery
    // javadoc use-case — last slot = first-50-in-term-order expansion
    // (the 31-word fixture vocabulary never reaches the cap)
    "ft_phrase_prefix_docs" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      Searcher.matchingDocs(index, graft.query.QueryParser.parse("\"fast ta*\""))
        .toDF("docId")
        .join(mapping, "docId").select($"doc_id").orderBy($"doc_id")
    }, Some(
      s"""WITH $posCte
         |SELECT DISTINCT a.doc_id AS doc_id FROM pos a JOIN pos b
         |  ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |WHERE a.term = 'fast' AND b.term LIKE 'ta%' ORDER BY 1""".stripMargin))),

    "ft_prefix_terms" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      index.termStats.filter($"term".startsWith("w"))
        .select($"term", $"df", $"ttf").orderBy($"term")
    }, Some(
      s"""WITH $tokCte
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       CAST(count(*) AS BIGINT) AS ttf
         |FROM tok WHERE term LIKE 'w%' GROUP BY term ORDER BY term""".stripMargin))),

    "ft_term_stats" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      index.termStats.filter($"term".isin("spark", "merge", "window", "zzz_absent"))
        .select($"term", $"df", $"ttf").orderBy($"term")
    }, Some(
      s"""WITH $tokCte
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       CAST(count(*) AS BIGINT) AS ttf
         |FROM tok WHERE term IN ('spark','merge','window','zzz_absent')
         |GROUP BY term ORDER BY term""".stripMargin))),

    // MoreLikeThis (queries/mlt/MoreLikeThis.java): source doc 42's
    // terms with tf>=2 and df>=5 scored tf*ClassicSim-idf, top 10 by
    // quantised score, searched as a SHOULD disjunction — the source
    // doc itself ranks (the reference does not exclude it)
    "mlt_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      val src = spark.read.parquet(s"$dir/documents.parquet")
        .filter($"doc_id" === 42L).select($"text").as[String].head()
      val q = graft.exec.MoreLikeThis.likeQuery(index, src,
        graft.exec.MoreLikeThis.Params(minTermFreq = 2, minDocFreq = 5,
          maxQueryTerms = 10))
      ftScoredQ(q, 10)(spark, dir)
    }, Some(mltSql(42L, 2, 5, 10, 10)))),

    // Monitor / percolator (monitor/Monitor.java:42): five standing
    // queries (term / AND / phrase / prefix / absent-term) matched
    // against the corpus in ONE batch kernel pass (Searcher.docsBatch);
    // the absent-term query is Presearcher-pruned driver-side and
    // contributes no rows
    "monitor_percolate" -> (((spark, dir) => {
      import spark.implicits._
      import graft.streaming.Percolator
      val (index, mapping) = Corpus.get(spark, dir)
      val standing = Seq(
        Percolator.Standing("sq_term", "merge"),
        Percolator.Standing("sq_and", "fast AND table"),
        Percolator.Standing("sq_phrase", "\"fast table\""),
        Percolator.Standing("sq_prefix", "ident_17*"),
        Percolator.Standing("sq_absent", "zzz_absent_term"))
      Percolator.percolate(index, standing)
        .join(mapping, "docId")
        .select($"query_id", $"doc_id")
        .orderBy($"query_id", $"doc_id")
    }, Some(
      s"""WITH $tokCte,
         |$posCte,
         |m AS (
         |  SELECT 'sq_term' AS query_id, doc_id FROM tok WHERE term = 'merge' GROUP BY doc_id
         |  UNION ALL
         |  SELECT 'sq_and', doc_id FROM tok WHERE term IN ('fast','table')
         |    GROUP BY doc_id HAVING count(DISTINCT term) = 2
         |  UNION ALL
         |  SELECT DISTINCT 'sq_phrase', a.doc_id FROM pos a JOIN pos b
         |    ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |    WHERE a.term = 'fast' AND b.term = 'table'
         |  UNION ALL
         |  SELECT 'sq_prefix', doc_id FROM tok WHERE term LIKE 'ident!_17%' ESCAPE '!'
         |    GROUP BY doc_id
         |)
         |SELECT query_id, doc_id FROM m ORDER BY query_id, doc_id""".stripMargin))),

    // OPEN Collector SPI (Collector/LeafCollector pair): a user-defined
    // per-segment stats collector — match count, integer-quantised score
    // sum (order-independent, so the cross-engine compare is exact), and
    // quantised max — reduced by a plain partial/final aggregation, the
    // CollectorManager.reduce analogue
    "ft_collector_stats" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      val factory = new Searcher.CollectorFactory[(Long, Long, Long)] {
        def newLeaf(seg: Int): Searcher.LeafCollector[(Long, Long, Long)] =
          new Searcher.LeafCollector[(Long, Long, Long)] {
            private var n = 0L
            private var sumQ = 0L
            private var maxQ = Long.MinValue
            def collect(docId: Long, score: Double): Unit = {
              val q = math.floor(score * 10000d + 0.5d).toLong
              n += 1; sumQ += q; if (q > maxQ) maxQ = q
            }
            def finish(): Iterator[(Long, Long, Long)] =
              if (n == 0L) Iterator.empty else Iterator.single((n, sumQ, maxQ))
          }
      }
      Searcher.collectQ(index,
          graft.query.QueryParser.parse("merge OR stream"), factory)
        .toDF("n0", "sum0", "max0")
        .agg(coalesce(sum($"n0"), lit(0L)).as("n"),
          coalesce(sum($"sum0"), lit(0L)).as("sum_q"),
          coalesce(max($"max0"), lit(0L)).as("max_q"))
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |sc AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(floor(s * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q,
         |       CAST(max(CAST(floor(s * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS max_q
         |FROM sc""".stripMargin))),

    "ft_collection_stats" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      // content-field terms only ('#' keyword and '@' field/norms
      // pseudo-terms are separate fields — per-field stats like the
      // reference's)
      val nTerms = index.termStats
        .filter(!$"term".startsWith(graft.build.IndexBuilder.KeywordPrefix))
        .filter(!$"term".startsWith(graft.build.IndexBuilder.FieldPrefix)).count()
      val fs = index.fieldStats
      Seq((fs.docCount, fs.sumTotalTermFreq, nTerms))
        .toDF("doc_count", "sum_ttf", "n_terms")
    }, Some(
      s"""WITH $tokCte
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS doc_count,
         |       CAST(count(*) AS BIGINT) AS sum_ttf,
         |       CAST(count(DISTINCT term) AS BIGINT) AS n_terms FROM tok""".stripMargin))),

    // non-scoring FILTER clause: required but contributes no score —
    // ranks identical to plain `merge`, doc set restricted to docs
    // containing `fast` (Occur.FILTER, BooleanQuery.java:40)
    "ft_filter_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(
        must = Seq(graft.query.TermQ("merge")),
        filter = Seq(graft.query.TermQ("fast"))), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'merge' GROUP BY doc_id),
         |df AS (SELECT count(*) AS df FROM tf),
         |sc AS (SELECT tf.doc_id,
         |         (ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |          - ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |            /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN qd ON tf.doc_id = qd.doc_id, st, df
         |       WHERE tf.doc_id IN (SELECT doc_id FROM tok WHERE term = 'fast'))
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // keyword-field FILTER pushed into the kernel as a non-scoring
    // conjunct: BM25 on `merge` over docs whose lang = min(lang)
    "ft_lang_filter_topk" -> (((spark, dir) => {
      import spark.implicits._
      val lv = spark.read.parquet(s"$dir/documents.parquet")
        .agg(min($"lang")).head().getString(0)
      ftScoredQ(graft.query.BoolQ(
        must = Seq(graft.query.TermQ("merge")),
        filter = Seq(graft.query.TermQ(graft.build.IndexBuilder.langTerm(lv)))), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'merge' GROUP BY doc_id),
         |df AS (SELECT count(*) AS df FROM tf),
         |sc AS (SELECT tf.doc_id,
         |         (ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |          - ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |            /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN qd ON tf.doc_id = qd.doc_id, st, df
         |       WHERE tf.doc_id IN (SELECT doc_id FROM documents
         |                           WHERE lang = (SELECT min(lang) FROM documents)))
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // ConstantScoreQuery over an expanded prefix: every match scores the
    // boost; ties resolve by docId asc (ConstantScoreQuery.java:28)
    "ft_constscore_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.ConstScoreQ(graft.query.PrefixQ("w"), 1f), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte
         |SELECT doc_id, CAST(1.0 AS DOUBLE) AS score,
         |       CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rank
         |FROM (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'w%')
         |ORDER BY rank LIMIT 10""".stripMargin))),

    // OVER-CAP (wide) constant-score expansion: the pattern matches more
    // terms than MaxClauseCount, so the expansion never reaches the
    // driver — the postings scan is widened by the pushed pattern
    // predicate and each segment kernel unions its locally matching
    // terms' docIds (WideTermSetQ — the CONSTANT_SCORE_REWRITE analogue,
    // MultiTermQuery.java:103-110; NO term is silently dropped). Fixture
    // vocabularies are small, so the cap is lowered through the
    // reference's own knob (IndexSearcher.setMaxClauseCount, :881-889)
    // to put the pattern over it; '*e*' matches 12 > 8 terms.
    "ft_wildcard_wide_count" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      graft.query.Query.withMaxClauseCount(8) {
        Seq(Searcher.countQ(index, graft.query.WildcardQ("*e*"))).toDF("n")
      }
    }, Some(
      s"""WITH $tokCte
         |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
         |FROM tok WHERE term LIKE '%e%'""".stripMargin))),

    // same wide path under an explicit ConstantScoreQuery in a SCORING
    // top-k: every match scores the boost, ties by docId asc
    "ft_constscore_wide_topk" -> (((spark, dir) => {
      graft.query.Query.withMaxClauseCount(8) {
        ftScoredQ(graft.query.ConstScoreQ(
          graft.query.WildcardQ("*e*"), 1f), 10)(spark, dir)
      }
    }, Some(
      s"""WITH $tokCte
         |SELECT doc_id, CAST(1.0 AS DOUBLE) AS score,
         |       CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rank
         |FROM (SELECT DISTINCT doc_id FROM tok WHERE term LIKE '%e%')
         |ORDER BY rank LIMIT 10""".stripMargin))),

    // over-cap expansion in a SCORING position — the reference's DEFAULT
    // CONSTANT_SCORE_BLENDED_REWRITE (MultiTermQuery.java:103,133;
    // PrefixQuery.java:29): instead of throwing TooManyClauses, the wide
    // pattern degrades to a constant-score (1.0) match over ALL its terms
    // and joins the boolean as an ordinary scored SHOULD clause:
    // score = bm25(merge) + 1.0 when '*e*' also matches the doc
    "ft_wildcard_wide_topk" -> (((spark, dir) => {
      graft.query.Query.withMaxClauseCount(8) {
        ftScoredQ(graft.query.BoolQ(
          must = Seq(graft.query.TermQ("merge")),
          should = Seq(graft.query.WildcardQ("*e*"))), 10)(spark, dir)
      }
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term = 'merge' GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |bm AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id),
         |wide AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE '%e%'),
         |sc AS (SELECT bm.doc_id, bm.s + CASE WHEN wide.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS s
         |       FROM bm LEFT JOIN wide ON bm.doc_id = wide.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // Codec SPI: the SAME query over an index whose postings are encoded
    // with the vbyte format (PostingFormats registry, self-describing
    // payloads) — scores must be identical to the PFOR default, and the
    // oracle is the ordinary BM25 SQL (codecs are semantics-transparent)
    "ft_vbyte_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(should = Seq(
        graft.query.TermQ("table"), graft.query.TermQ("batch")), minShouldMatch = 1),
        10, variant = "vbyte")(spark, dir)
    }, Some(bm25Sql(Seq("table", "batch"), requireAll = false, 10)))),

    // general wildcard (not just trailing-*): dictionary expansion over
    // the term stats (WildcardQuery.java:38)
    "ft_wildcard_topk" -> ((ftScored("m?rge OR st*eam", 10), Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE regexp_matches(term, '^m.rge$$') OR regexp_matches(term, '^st.*eam$$')
         |       GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |sc AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // regexp term expansion (RegexpQuery.java:44), whole-term anchored
    "ft_regexp_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.RegexpQ("(fast|slow)e?r?"), 10)(spark, dir)
    }, Some(bm25SqlPred("regexp_matches(term, '^(?:(fast|slow)e?r?)$')", 0, "sum", 10)))),

    // WordDelimiterGraphFilter path: the corpus is deterministically
    // compounded (adjacent word pairs joined by '_'), the index is built
    // with the sub-token analyzer, and the query must score EXACTLY like
    // the plain-term query over the original text — proving sub-token
    // splitting inverts the compounding (positions, norms, df included)
    "ft_subtoken_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(must = Seq(
        graft.query.TermQ("agg"), graft.query.TermQ("window"))), 10, variant = "sub")(spark, dir)
    }, Some(bm25Sql(Seq("agg", "window"), requireAll = true, 10)))),

    // LiveFieldValues (core/search/LiveFieldValues.java): read-your-writes
    // field cache in front of the index — pending writes win over the
    // table, a pending delete masks it, a write after refresh-start wins
    // over the rolled OLD buffer, untouched ids fall through to a
    // point-read with a pushed doc_id predicate
    "live_field_values" -> (((spark, dir) => {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val lookup: String => Option[Long] = id =>
        docs.filter($"doc_id" === id.toLong).select($"n_chars")
          .as[Long].collect().headOption
      val lfv = new graft.streaming.LiveFieldValues[Long](lookup)
      (1L to 5L).foreach(i => lfv.add(i.toString, i * 1000L))
      lfv.delete("6")
      lfv.beforeRefresh()
      lfv.add("2", 2222L)
      (1L to 8L).map(i => (i, lfv.get(i.toString).getOrElse(-1L)))
        .toDF("doc_id", "value").orderBy($"doc_id")
    }, Some(
      """SELECT doc_id, CAST(CASE WHEN doc_id = 2 THEN 2222
        |  WHEN doc_id <= 5 THEN doc_id * 1000
        |  WHEN doc_id = 6 THEN -1 ELSE n_chars END AS BIGINT) AS value
        |FROM documents WHERE doc_id BETWEEN 1 AND 8 ORDER BY doc_id""".stripMargin))),

    // CommonTermsQuery (queries/CommonTermsQuery.java): df-split at 0.4 —
    // `dup` (~5% of docs) is the required low-frequency gate, the ~78%-df
    // terms score optionally; total score = BM25 sum over present query
    // terms, match condition = at least one low-frequency term present.
    // The oracle recomputes the SAME df split from data, so a silent
    // split divergence (not just a score bug) fails the hash.
    "common_terms_topk" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      ftScoredQ(graft.exec.CommonTerms.form(index,
        Seq("the", "a", "merge", "dup"), maxTermFrequency = 0.4), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('the', 'a', 'merge', 'dup') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |lowt AS (SELECT df.term FROM df, st WHERE df.df <= 0.4 * st.n),
         |sc AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id
         |       HAVING max(CASE WHEN tf.term IN (SELECT term FROM lowt) THEN 1 ELSE 0 END) = 1)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // Porter-stemmed index (PorterStemFilter.java:51): querying the STEMS
    // (query -> queri, merge -> merg) must reproduce the unstemmed BM25
    // result for the source terms — stemming is 1:1 here (no conflation
    // on this vocabulary), so df/tf/norms carry over exactly; a match at
    // all proves the stemmer ran (the stems exist only post-Porter)
    "ft_porter_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(must = Seq(
        graft.query.TermQ("queri"), graft.query.TermQ("merg"))), 10,
        variant = "porter")(spark, dir)
    }, Some(bm25Sql(Seq("query", "merge"), requireAll = true, 10)))),

    // Minimal English s-stemmer (EnglishMinimalStemFilter.java) over the
    // pluralized derivation (see Corpus.getStemmed): stemming restores
    // the original token stream, so the plain BM25 oracle applies — and
    // `stream` can only match through the stemmer (the derived text
    // contains only `streams`)
    "ft_stem_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(must = Seq(
        graft.query.TermQ("stream"), graft.query.TermQ("merge"))), 10,
        variant = "enmin")(spark, dir)
    }, Some(bm25Sql(Seq("stream", "merge"), requireAll = true, 10)))),

    // Minimal FRENCH stemmer (Savoy; FrenchMinimalStemFilter.java) over
    // the French-pluralized derivation (Corpus.getFrench): frmin restores
    // the original token stream on this vocabulary, so the plain BM25
    // oracle applies — `stream` only matches through the stemmer (the
    // derived text contains only `streams`)
    "ft_french_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(must = Seq(
        graft.query.TermQ("stream"), graft.query.TermQ("query"))), 10,
        variant = "frmin")(spark, dir)
    }, Some(bm25Sql(Seq("stream", "query"), requireAll = true, 10)))),

    // Minimal GERMAN stemmer (Savoy; GermanMinimalStemFilter.java) over
    // the German-infinitive derivation (Corpus.getGerman): the -nen rule
    // restores `scannen` -> `scan` exactly (same proof shape)
    "ft_german_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(must = Seq(
        graft.query.TermQ("scan"), graft.query.TermQ("spark"))), 10,
        variant = "demin")(spark, dir)
    }, Some(bm25Sql(Seq("scan", "spark"), requireAll = true, 10)))),

    // German NORMALIZATION (german2 folding, GermanNormalizationFilter
    // .java) over the umlauted derivation (Corpus.getGermanNorm): the
    // state machine folds `gröup` back to `group` exactly, so the plain
    // BM25 oracle applies — `group` only matches through the filter
    "ft_denorm_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(must = Seq(
        graft.query.TermQ("group"), graft.query.TermQ("stream"))), 10,
        variant = "denorm")(spark, dir)
    }, Some(bm25Sql(Seq("group", "stream"), requireAll = true, 10)))),

    // sloppy phrase (slop=1): docs where `fast` is followed by `table`
    // within one displacement (SloppyPhraseMatcher.java:54); docs-only —
    // sloppy-freq scoring is covered by the differential suite
    "ft_phrase_sloppy" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      Searcher.matchingDocs(index, graft.query.PhraseQ(Seq("fast", "table"), slop = 1))
        .toDF("docId")
        .join(mapping, "docId").select($"doc_id").orderBy($"doc_id")
    }, Some(
      s"""WITH $posCte
         |SELECT DISTINCT a.doc_id AS doc_id FROM pos a JOIN pos b
         |  ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 2
         |WHERE a.term = 'fast' AND b.term = 'table' ORDER BY 1""".stripMargin))),

    // rescoring (QueryRescorer shape): cheap first pass (top-100 for
    // `merge`), costly second query scored ONLY over those 100 docIds
    // (DocSetQ filter window), combined = first + 2*second
    "ft_rescore_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      // selection and combination on ROUNDED scores: the top-100 cutoff on
      // raw doubles would be sensitive to cross-engine ulp differences
      val first = topRoundedHits(index, graft.query.TermQ("merge"), 100)
      val second = Searcher.topKQ(index, graft.query.BoolQ(
          should = Seq(graft.query.TermQ("stream")),
          filter = Seq(graft.query.DocSetQ(first.map(_._1).toSeq))),
        first.length max 1, doubleMode = true)
        .as[(Long, Double)].collect().toMap
      val combined = first.map { case (d, s1) => (d, s1 + 2.0 * r4d(second.getOrElse(d, 0.0))) }
      spark.createDataset(combined.toSeq).toDF("docId", "s")
        .join(mapping, "docId")
        .select($"doc_id", r4($"s").as("score"))
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .filter($"rank" <= 10)
        .orderBy($"rank")
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf1 AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'merge' GROUP BY doc_id),
         |df1 AS (SELECT count(*) AS df FROM tf1),
         |s1 AS (SELECT tf1.doc_id,
         |         floor((ln(1 + (st.n - df1.df + 0.5)/(df1.df + 0.5))
         |          - ln(1 + (st.n - df1.df + 0.5)/(df1.df + 0.5))
         |            /(1 + tf1.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) * 10000 + 0.5)/10000 AS s
         |       FROM tf1 JOIN qd ON tf1.doc_id = qd.doc_id, st, df1),
         |first AS (SELECT doc_id, s FROM (
         |   SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM s1) WHERE rn <= 100),
         |tf2 AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'stream' GROUP BY doc_id),
         |df2 AS (SELECT count(*) AS df FROM tf2),
         |s2 AS (SELECT tf2.doc_id,
         |         floor((ln(1 + (st.n - df2.df + 0.5)/(df2.df + 0.5))
         |          - ln(1 + (st.n - df2.df + 0.5)/(df2.df + 0.5))
         |            /(1 + tf2.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) * 10000 + 0.5)/10000 AS s
         |       FROM tf2 JOIN qd ON tf2.doc_id = qd.doc_id, st, df2),
         |comb AS (SELECT f.doc_id, f.s + 2.0*coalesce(s2.s, 0) AS s
         |         FROM first f LEFT JOIN s2 ON f.doc_id = s2.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM comb ORDER BY rank LIMIT 10""".stripMargin))),

    // engine-side sort-by-field top-k over matching docs (TopFieldCollector
    // analogue): docs matching both terms ranked by token count desc —
    // matchingDocs streams unscored docIds, the only ordering is the
    // distributed TakeOrderedAndProject on the sort field
    "ft_sortfield_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      Searcher.matchingDocs(index, graft.query.BoolQ(
          must = Seq(graft.query.TermQ("merge"), graft.query.TermQ("fast"))))
        .toDF("docId")
        .join(index.docmeta.select($"docId", $"tokenCount"), "docId")
        .join(mapping, "docId")
        .select($"doc_id", $"tokenCount".cast("long").as("n_tokens"))
        .orderBy(desc("n_tokens"), asc("doc_id")).limit(10)
    }, Some(
      s"""WITH $tokCte,
         |have AS (SELECT doc_id FROM tok GROUP BY doc_id
         |         HAVING sum(CASE WHEN term = 'merge' THEN 1 ELSE 0 END) > 0
         |            AND sum(CASE WHEN term = 'fast' THEN 1 ELSE 0 END) > 0),
         |cnt AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id)
         |SELECT h.doc_id AS doc_id, CAST(cnt.n_tokens AS BIGINT) AS n_tokens
         |FROM have h JOIN cnt ON h.doc_id = cnt.doc_id
         |ORDER BY n_tokens DESC, h.doc_id LIMIT 10""".stripMargin))),

    // searchAfter over BM25 hits: page 2 (ranks 11..20) of the scored
    // result — keyset continuation after page 1's last (score, doc_id)
    "ft_search_after_score" -> (((spark, dir) => {
      import spark.implicits._
      ftScoredQ(graft.query.QueryParser.parse("merge OR stream"), 20)(spark, dir)
        .filter($"rank" > 10)
        .orderBy($"rank")
    }, Some(
      s"""SELECT * FROM (${bm25Sql(Seq("merge", "stream"), requireAll = false, 20)})
         |WHERE rank > 10 ORDER BY rank""".stripMargin))),

    // BM25F / CombinedFieldQuery (CombinedFieldQuery.java:79) as an
    // index-time combined content+path field (weights 1.0): freq sums
    // across fields, the norm byte uses the reference's quantise-sum-
    // requantise combination (MultiNormsLeafSimScorer.java:165-175);
    // `src3` only exists in the path field (the source column), `merge`
    // in content — one query ranks across both fields
    "ft_bm25f_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(should = Seq(
          graft.query.TermQ("merge"), graft.query.TermQ("src3")), minShouldMatch = 1),
        10, variant = "all")(spark, dir)
    }, Some(
      s"""WITH tokc AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
         |              FROM documents),
         |toka AS (SELECT doc_id, term FROM tokc
         |         UNION ALL SELECT doc_id, lower(source) FROM documents),
         |dl AS (SELECT doc_id, count(*) AS len FROM tokc GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM toka) AS DOUBLE) AS sttf),
         |q1 AS (SELECT doc_id, $qlenExpr AS qc FROM dl),
         |q2 AS (SELECT doc_id, qc + 1 AS len FROM q1),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM q2),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toka
         |       WHERE term IN ('merge', 'src3') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |sc AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // pluggable Similarity (the Similarity SPI): the same engine path
    // scored with ClassicSimilarity — TF-IDF vector space model
    // (ClassicSimilarity.java:45-71): idf = ln((n+1)/(df+1)) + 1,
    // tf = sqrt(freq), norm = 1/sqrt(quantised length),
    // score = (tf * (boost*idf)) * norm, summed over clauses
    "ft_classic_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(should = Seq(
          graft.query.TermQ("merge"), graft.query.TermQ("stream")), minShouldMatch = 1),
        10, sim = graft.exec.ClassicSim)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT count(*) AS n FROM documents),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |w AS (SELECT term, ln((st.n + 1)/CAST(df + 1 AS DOUBLE)) + 1.0 AS w FROM df, st),
         |sc AS (SELECT tf.doc_id,
         |         sum((sqrt(tf.tf) * w.w) * (1.0/sqrt(qd.qlen))) AS s
         |       FROM tf JOIN w ON tf.term = w.term JOIN qd ON tf.doc_id = qd.doc_id
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // standalone BlendedTermQuery (BlendedTermQuery.java:270-300, default
    // DisjunctionMaxRewrite 0.01f): both terms scored as if they had the
    // group's MAX df, combined as max + 0.01*(sum - max)
    "ft_blended_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BlendedTermQ(Seq("merge", "stream")), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |bdf AS (SELECT max(df) AS df FROM
         |        (SELECT term, count(*) AS df FROM tf GROUP BY term)),
         |ts AS (SELECT tf.doc_id, tf.term,
         |         (ln(1 + (st.n - bdf.df + 0.5)/(bdf.df + 0.5))
         |          - ln(1 + (st.n - bdf.df + 0.5)/(bdf.df + 0.5))
         |            /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN qd ON tf.doc_id = qd.doc_id, st, bdf),
         |sc AS (SELECT doc_id, max(s) + CAST(0.01 AS REAL)*(sum(s) - max(s)) AS s
         |       FROM ts GROUP BY doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // parser clause boost (BoostQuery.java:28 via `term^2` syntax): the
    // boost folds into the term WEIGHT (weight = boost * idf) before the
    // tf saturation — reference float op order, mirrored literally in SQL
    "ft_boost_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.QueryParser.parse("merge^2 OR fast"), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'fast') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |w AS (SELECT term, (CASE WHEN term = 'merge' THEN 2.0 ELSE 1.0 END)
         |                   * ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS w FROM df, st),
         |sc AS (SELECT tf.doc_id,
         |         sum(w.w - w.w/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN w ON tf.term = w.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // general per-field scored search (IndexingChain per-field postings +
    // norms; BM25Similarity consumes the FIELD's stats,
    // `BM25Similarity.java:172-181`): `path:src3` is a real scored clause
    // over the path field (its own df/docCount/avgdl/norms), summed with a
    // content clause — parsed from the classic `field:term` syntax
    "ft_path_field_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.QueryParser.parse("merge OR path:src3"), 10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tfc AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'merge' GROUP BY doc_id),
         |dfc AS (SELECT count(*) AS df FROM tfc),
         |sc1 AS (SELECT tfc.doc_id,
         |         (ln(1 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
         |          - ln(1 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
         |            /(1 + tfc.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tfc JOIN qd ON tfc.doc_id = qd.doc_id, st, dfc),
         |ptok AS (SELECT doc_id, unnest(regexp_extract_all(lower(source), '[a-z0-9_]+')) AS term
         |         FROM documents),
         |pdl AS (SELECT doc_id, count(*) AS len FROM ptok GROUP BY doc_id),
         |pst AS (SELECT (SELECT count(*) FROM pdl) AS n,
         |               CAST((SELECT count(*) FROM ptok) AS DOUBLE) AS sttf),
         |pqd AS (SELECT doc_id, $qlenExpr AS qlen FROM pdl),
         |tfp AS (SELECT doc_id, count(*) AS tf FROM ptok WHERE term = 'src3' GROUP BY doc_id),
         |dfp AS (SELECT count(*) AS df FROM tfp),
         |sc2 AS (SELECT tfp.doc_id,
         |         (ln(1 + (pst.n - dfp.df + 0.5)/(dfp.df + 0.5))
         |          - ln(1 + (pst.n - dfp.df + 0.5)/(dfp.df + 0.5))
         |            /(1 + tfp.tf * (1.0/(1.2*(0.25 + 0.75*pqd.qlen/(pst.sttf/pst.n)))))) AS s
         |       FROM tfp JOIN pqd ON tfp.doc_id = pqd.doc_id, pst, dfp),
         |comb AS (SELECT coalesce(sc1.doc_id, sc2.doc_id) AS doc_id,
         |                coalesce(sc1.s, 0) + coalesce(sc2.s, 0) AS s
         |         FROM sc1 FULL OUTER JOIN sc2 ON sc1.doc_id = sc2.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM comb ORDER BY rank LIMIT 10""".stripMargin))),

    // field-scoped group (`path:(src3 OR src7)`, classic parser field
    // state across parens): both terms scored with the PATH field's own
    // collection stats; every doc carries exactly one source token
    "ft_field_group_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.QueryParser.parse("path:(src3 OR src7)"), 10)(spark, dir)
    }, Some(
      s"""WITH ptok AS (SELECT doc_id, unnest(regexp_extract_all(lower(source), '[a-z0-9_]+')) AS term
         |         FROM documents),
         |pdl AS (SELECT doc_id, count(*) AS len FROM ptok GROUP BY doc_id),
         |pst AS (SELECT (SELECT count(*) FROM pdl) AS n,
         |               CAST((SELECT count(*) FROM ptok) AS DOUBLE) AS sttf),
         |pqd AS (SELECT doc_id, $qlenExpr AS qlen FROM pdl),
         |tfp AS (SELECT doc_id, term, count(*) AS tf FROM ptok
         |        WHERE term IN ('src3', 'src7') GROUP BY doc_id, term),
         |dfp AS (SELECT term, count(*) AS df FROM tfp GROUP BY term),
         |sc AS (SELECT tfp.doc_id,
         |         sum(ln(1 + (pst.n - dfp.df + 0.5)/(dfp.df + 0.5))
         |          - ln(1 + (pst.n - dfp.df + 0.5)/(dfp.df + 0.5))
         |            /(1 + tfp.tf * (1.0/(1.2*(0.25 + 0.75*pqd.qlen/(pst.sttf/pst.n)))))) AS s
         |       FROM tfp JOIN dfp ON tfp.term = dfp.term
         |            JOIN pqd ON tfp.doc_id = pqd.doc_id, pst
         |       GROUP BY tfp.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // query-time WEIGHTED BM25F (CombinedFieldQuery.java:79, weights
    // content=1, path=2): pseudo-stats df=max / weighted sums
    // (:274-317), freq = sum of weight*tf (:430-437), per-doc norm =
    // requantised weighted sum of PRESENT fields' quantised lengths
    // (MultiNormsLeafSimScorer.java:163-175) read from the @norms:F
    // sidecars — weights finally off 1.0
    "ft_bm25f_weighted_topk" -> (((spark, dir) => {
      val fw = Seq(("content", 1f), ("path", 2f))
      ftScoredQ(graft.query.BoolQ(should = Seq(
          graft.query.CombinedFieldQ("merge", fw),
          graft.query.CombinedFieldQ("src3", fw)), minShouldMatch = 1),
        10)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |q1 AS (SELECT doc_id, $qlenExpr AS qc FROM dl),
         |ptok AS (SELECT doc_id, unnest(regexp_extract_all(lower(source), '[a-z0-9_]+')) AS term
         |         FROM documents),
         |pdl AS (SELECT doc_id, count(*) AS len FROM ptok GROUP BY doc_id),
         |pqd AS (SELECT doc_id, $qlenExpr AS qlen FROM pdl),
         |st2 AS (SELECT (SELECT count(*) FROM documents) AS n,
         |        CAST((SELECT count(*) FROM tok) + 2*(SELECT count(*) FROM ptok) AS DOUBLE) AS sttf),
         |cq AS (SELECT d.doc_id,
         |         CAST(floor(coalesce(q1.qc, 0) + 2.0*coalesce(pqd.qlen, 0) + 0.5) AS BIGINT) AS len
         |       FROM documents d LEFT JOIN q1 ON d.doc_id = q1.doc_id
         |            LEFT JOIN pqd ON d.doc_id = pqd.doc_id),
         |cqd AS (SELECT doc_id, $qlenExpr AS qlen FROM cq),
         |tfm AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS f FROM tok WHERE term = 'merge' GROUP BY doc_id),
         |dfm AS (SELECT count(*) AS df FROM tfm),
         |scm AS (SELECT tfm.doc_id,
         |         (ln(1 + (st2.n - dfm.df + 0.5)/(dfm.df + 0.5))
         |          - ln(1 + (st2.n - dfm.df + 0.5)/(dfm.df + 0.5))
         |            /(1 + tfm.f * (1.0/(1.2*(0.25 + 0.75*cqd.qlen/(st2.sttf/st2.n)))))) AS s
         |       FROM tfm JOIN cqd ON tfm.doc_id = cqd.doc_id, st2, dfm),
         |tfs AS (SELECT doc_id, 2.0*count(*) AS f FROM ptok WHERE term = 'src3' GROUP BY doc_id),
         |dfs AS (SELECT count(*) AS df FROM tfs),
         |scs AS (SELECT tfs.doc_id,
         |         (ln(1 + (st2.n - dfs.df + 0.5)/(dfs.df + 0.5))
         |          - ln(1 + (st2.n - dfs.df + 0.5)/(dfs.df + 0.5))
         |            /(1 + tfs.f * (1.0/(1.2*(0.25 + 0.75*cqd.qlen/(st2.sttf/st2.n)))))) AS s
         |       FROM tfs JOIN cqd ON tfs.doc_id = cqd.doc_id, st2, dfs),
         |comb AS (SELECT coalesce(scm.doc_id, scs.doc_id) AS doc_id,
         |                coalesce(scm.s, 0) + coalesce(scs.s, 0) AS s
         |         FROM scm FULL OUTER JOIN scs ON scm.doc_id = scs.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM comb ORDER BY rank LIMIT 10""".stripMargin))),

    // position-preserving StopFilter index (StopFilter.java:25): stops
    // {the,a,of,to,and} dropped, norms count only kept tokens — BM25 for
    // `merge` must match the stop-aware oracle (df same, norms shorter)
    "ft_stop_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.getStopFiltered(spark, dir)
      spark.createDataset(topRoundedHits(index, graft.query.TermQ("merge"), 10).toSeq)
        .toDF("docId", "score")
        .join(mapping, "docId")
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .select($"doc_id", $"score", $"rank")
        .orderBy($"rank")
    }, Some {
      val stopTok =
        """tok AS (SELECT doc_id, term FROM (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term FROM documents)
          |  WHERE term NOT IN ('the','a','of','to','and'))""".stripMargin
      s"""WITH $stopTok,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'merge' GROUP BY doc_id),
         |df AS (SELECT count(*) AS df FROM tf),
         |sc AS (SELECT tf.doc_id,
         |         (ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |          - ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |            /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN qd ON tf.doc_id = qd.doc_id, st, df)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin
    })),

    // phrase over the stop-filtered index: positions keep their ORIGINAL
    // numbering (gaps where stops were removed), so adjacency means
    // adjacency in the original text — a renumbering bug would match
    // "fast <stop> table" and diverge from this oracle
    "ft_stop_phrase_docs" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.getStopFiltered(spark, dir)
      Searcher.matchingDocs(index, graft.query.PhraseQ(Seq("fast", "table")))
        .toDF("docId")
        .join(mapping, "docId").select($"doc_id").orderBy($"doc_id")
    }, Some(
      s"""WITH $posCte
         |SELECT DISTINCT a.doc_id AS doc_id FROM pos a JOIN pos b
         |  ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |WHERE a.term = 'fast' AND b.term = 'table' ORDER BY 1""".stripMargin))),

    // phrase with per-slot alternatives (MultiPhraseQuery.java:54)
    "ft_multiphrase_docs" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      Searcher.matchingDocs(index,
          graft.query.MultiPhraseQ(Seq(Seq("fast", "slow"), Seq("table"))))
        .toDF("docId")
        .join(mapping, "docId").select($"doc_id").orderBy($"doc_id")
    }, Some(
      s"""WITH $posCte
         |SELECT DISTINCT a.doc_id AS doc_id FROM pos a JOIN pos b
         |  ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |WHERE a.term IN ('fast', 'slow') AND b.term = 'table' ORDER BY 1""".stripMargin))),

    // Interval query (`queries/intervals/IntervalQuery.java:59`):
    // ordered(merge, stream) under minimal-interval semantics, scored by
    // the saturation function 1 - pivot/(pivot + freq) with freq = sum
    // over canonical minimal intervals of 1/max(width - minExtent + 1, 1).
    // For an ordered pair of distinct terms the canonical list is exactly
    // the (max a-pos before each b-pos) pairs minus contained ones.
    "ft_interval_topk" -> ((ftScoredQ(graft.query.IntervalQ(graft.query.IOrderedS(Seq(
      graft.query.ITermS("merge"), graft.query.ITermS("stream")))), 10), Some(
      s"""WITH $posCte,
         |a AS (SELECT doc_id, p FROM pos WHERE term = 'merge'),
         |b AS (SELECT doc_id, p FROM pos WHERE term = 'stream'),
         |pairs AS (SELECT b.doc_id, max(a.p) AS s, b.p AS e
         |          FROM b JOIN a ON a.doc_id = b.doc_id AND a.p < b.p
         |          GROUP BY b.doc_id, b.p),
         |mini AS (SELECT p1.doc_id, p1.s, p1.e FROM pairs p1
         |         WHERE NOT EXISTS (SELECT 1 FROM pairs p2
         |           WHERE p2.doc_id = p1.doc_id AND p2.s >= p1.s AND p2.e <= p1.e
         |             AND (p2.s > p1.s OR p2.e < p1.e))),
         |sc AS (SELECT doc_id, 1.0 - 1.0/(1.0 + sum(1.0/(e - s))) AS s
         |       FROM mini GROUP BY doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // Interval width/gap constraint (`Intervals.maxgaps` over unordered):
    // a doc matches iff some minimal interval survives the gaps filter —
    // for an unordered pair of distinct terms, iff any two occurrences
    // sit within gaps+1 positions of each other
    "ft_interval_maxgaps_count" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      Seq(Searcher.countQ(index, graft.query.IntervalQ(graft.query.IMaxGapsS(4,
        graft.query.IUnorderedS(Seq(
          graft.query.ITermS("fast"), graft.query.ITermS("table"))))))).toDF("n")
    }, Some(
      s"""WITH $posCte
         |SELECT CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT DISTINCT a.doc_id FROM pos a JOIN pos b
         |    ON a.doc_id = b.doc_id AND b.term = 'table' AND abs(a.p - b.p) <= 5
         |  WHERE a.term = 'fast')""".stripMargin))),

    // FeatureQuery / static score (FeatureField.java:105): matching docs
    // ranked purely by an indexed per-doc feature, score = ln(1 + n_chars/100)
    "ft_feature_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      val feats = spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"n_chars")
      Searcher.matchingDocs(index, graft.query.TermQ("merge")).toDF("docId")
        .join(mapping, "docId")
        .join(feats, "doc_id")
        .select($"doc_id", r4(log(lit(1.0) + $"n_chars" / 100.0)).as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(10)
    }, Some(
      s"""WITH $tokCte
         |SELECT doc_id, floor((ln(1 + n_chars/100.0)) * 10000 + 0.5)/10000 AS score
         |FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM tok WHERE term = 'merge')
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin))),

    // ShingleFilter analyzer chain (ShingleFilter.java:42: unigrams +
    // 2-shingles joined by ' ', shingle at its first token's position):
    // the bigram "merge batch" is a TERM of the shingled index; norms
    // count every emitted token (2*len - 1)
    "ft_shingle_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.TermQ("merge batch"), 10, variant = "shingle")(spark, dir)
    }, Some(
      s"""WITH $posCte,
         |big AS (SELECT a.doc_id, a.term || ' ' || b.term AS term
         |        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
         |dl0 AS (SELECT doc_id, count(*) AS l0 FROM pos GROUP BY doc_id),
         |dl AS (SELECT doc_id, 2*l0 - 1 AS len FROM dl0),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT sum(2*l0 - 1) FROM dl0) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, count(*) AS tf FROM big WHERE term = 'merge batch' GROUP BY doc_id),
         |df AS (SELECT count(*) AS df FROM tf),
         |sc AS (SELECT tf.doc_id,
         |         (ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |          - ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |            /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN qd ON tf.doc_id = qd.doc_id, st, df)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // character-trigram NGramTokenizer chain (NGramTokenizer.java:62 over
    // word runs): 'erg' matches every doc containing a word with that
    // substring (merge, merged, ...); norms count every emitted gram
    "ft_ngram_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.TermQ("erg"), 10, variant = "ngram")(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |grams AS (SELECT doc_id, substr(term, i, 3) AS g
         |          FROM (SELECT doc_id, term, unnest(generate_series(1, length(term) - 2)) AS i
         |                FROM tok)),
         |dl AS (SELECT doc_id, count(*) AS len FROM grams GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM grams) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, count(*) AS tf FROM grams WHERE g = 'erg' GROUP BY doc_id),
         |df AS (SELECT count(*) AS df FROM tf),
         |sc AS (SELECT tf.doc_id,
         |         (ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |          - ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
         |            /(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN qd ON tf.doc_id = qd.doc_id, st, df)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    "ft_msm2_count" -> (((spark, dir) => {
      import spark.implicits._
      val (index, _) = Corpus.get(spark, dir)
      val q = graft.query.BoolQ(
        should = Seq(graft.query.TermQ("spark"), graft.query.TermQ("window"), graft.query.TermQ("merge")),
        minShouldMatch = 2)
      Seq(Searcher.countQ(index, q)).toDF("n")
    }, Some(
      s"""WITH $tokCte
         |SELECT CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT doc_id FROM tok WHERE term IN ('spark','window','merge')
         |  GROUP BY doc_id HAVING count(DISTINCT term) >= 2)""".stripMargin)))
  )

  // ============================================================
  // §B relational operators (TPC-H-ish tables)
  // ============================================================

  val relational: Map[String, (QFn, Option[String])] = Map(
    "q1_agg" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/lineitem.parquet")
        .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          r2(sum($"l_quantity")).as("sum_qty"),
          r2(sum($"l_extendedprice")).as("sum_base"),
          r4(avg($"l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 100 + 0.5)/100 AS sum_qty,
        |  floor((sum(l_extendedprice)) * 100 + 0.5)/100 AS sum_base,
        |  floor((avg(l_quantity)) * 10000 + 0.5)/10000 AS avg_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))),

    "q3_revenue_topk" -> (((spark, dir) => {
      import spark.implicits._
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .filter($"c_mktsegment" === "BUILDING")
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      li.join(orders, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"o_orderkey")
        .agg(r2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }, Some(
      """SELECT o_orderkey, floor((sum(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5)/100 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))),

    "join_dims" -> (((spark, dir) => {
      import spark.implicits._
      val nation = spark.read.parquet(s"$dir/nation.parquet")
      val region = spark.read.parquet(s"$dir/region.parquet")
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      cust.join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name").agg(count(lit(1)).as("n"),
          r2(sum($"c_acctbal")).as("bal"))
        .orderBy($"r_name")
    }, Some(
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n, floor((sum(c_acctbal)) * 100 + 0.5)/100 AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin))),

    // 3-way star join over the remaining dims: revenue by part brand and
    // supplier nation (broadcast part+supplier, shuffle only lineitem)
    "star_join_brand" -> (((spark, dir) => {
      import spark.implicits._
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val part = spark.read.parquet(s"$dir/part.parquet")
      val supp = spark.read.parquet(s"$dir/supplier.parquet")
      li.join(broadcast(part), $"l_partkey" === $"p_partkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .groupBy($"p_brand", $"s_nationkey")
        .agg(count(lit(1)).as("n"),
          r2(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("p_brand"), asc("s_nationkey"))
        .limit(10)
    }, Some(
      """SELECT p_brand, s_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  floor((sum(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5)/100 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_nationkey
        |ORDER BY revenue DESC, p_brand, s_nationkey LIMIT 10""".stripMargin))),

    "semi_join" -> (((spark, dir) => {
      import spark.implicits._
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      cust.join(orders, $"c_custkey" === $"o_custkey", "left_semi")
        .agg(count(lit(1)).as("n"))
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin))),

    "anti_join" -> (((spark, dir) => {
      import spark.implicits._
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      cust.join(orders, $"c_custkey" === $"o_custkey", "left_anti")
        .agg(count(lit(1)).as("n"))
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin))),

    "window_topk_per_group" -> (((spark, dir) => {
      import spark.implicits._
      val orders = spark.read.parquet(s"$dir/orders.parquet").filter($"o_custkey" < 50)
      orders.withColumn("rn",
          row_number().over(Window.partitionBy($"o_custkey")
            .orderBy(desc("o_totalprice"), asc("o_orderkey"))).cast("long"))
        .filter($"rn" <= 2)
        .select($"o_custkey", $"o_orderkey", $"rn")
        .orderBy($"o_custkey", $"rn")
    }, Some(
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders WHERE o_custkey < 50)
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin))),

    // parent/child block join (ToParentBlockJoinQuery analogue): children
    // nested as an array column (the index-time co-located block), parents
    // match when any child passes the predicate, parent score = avg of
    // matching children (ScoreMode.Avg) via higher-order functions —
    // integer-cent quantisation keeps the avg engine-exact
    "block_join" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy($"l_orderkey")
        .agg(collect_list(struct($"l_quantity".as("qty"),
          $"l_extendedprice".as("price"), $"l_discount".as("disc"))).as("children"))
        .withColumn("m", expr("filter(children, c -> c.qty > 45)"))
        .filter(size($"m") > 0)
        .withColumn("cents", expr(
          "aggregate(m, CAST(0 AS BIGINT), (a, c) -> a + CAST(floor(c.price * (1 - c.disc) * 100 + 0.5) AS BIGINT))"))
        .select($"l_orderkey",
          r4($"cents".cast("double") / (lit(100d) * size($"m"))).as("score"))
        .orderBy(desc("score"), asc("l_orderkey")).limit(10)
    }, Some(
      """SELECT l_orderkey,
        |  floor((CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / (100.0 * count(*))) * 10000 + 0.5)/10000 AS score
        |FROM lineitem WHERE l_quantity > 45
        |GROUP BY l_orderkey ORDER BY score DESC, l_orderkey LIMIT 10""".stripMargin))),

    // FieldExistsQuery analogue: count docs having a value for a
    // (synthesised-nullable) field via col IS NOT NULL
    "field_exists" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .agg(count(expr("nullif(source, 'src0')")).as("n_with"),
          count(lit(1)).as("n_total"))
    }, Some(
      """SELECT CAST(count(nullif(source, 'src0')) AS BIGINT) AS n_with,
        |       CAST(count(*) AS BIGINT) AS n_total FROM documents""".stripMargin))),

    "agg_distinct" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("parts"),
          countDistinct($"l_suppkey").as("supps"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS parts,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))),

    // one pass instead of three: both distinct key sets meet in a single
    // full-outer join, and all three set-op cardinalities fall out of one
    // aggregation (union = every joined key, intersect = both sides
    // present, except = left-only) — 3 exchanges / 1 job where the
    // literal union+intersect+except ran ~9 exchanges / 3 jobs, with the
    // distincts of a and b recomputed per operator. Counts are identical
    // by definition (a, b are distinct key sets).
    "set_ops" -> (((spark, dir) => {
      import spark.implicits._
      val a = spark.read.parquet(s"$dir/orders.parquet")
        .filter($"o_totalprice" > 150000).select($"o_custkey".as("k")).distinct()
      val b = spark.read.parquet(s"$dir/customer.parquet")
        .filter($"c_nationkey" < 12).select($"c_custkey".as("k")).distinct()
      a.withColumn("ina", lit(1))
        .join(b.withColumn("inb", lit(1)), Seq("k"), "full_outer")
        .agg(
          count(lit(1)).as("u"),
          count(when($"ina" === 1 && $"inb" === 1, 1)).as("i"),
          count(when($"ina" === 1 && $"inb".isNull, 1)).as("e"))
        .select(explode(array(
          struct(lit("except").as("op"), $"e".as("n")),
          struct(lit("intersect").as("op"), $"i".as("n")),
          struct(lit("union").as("op"), $"u".as("n")))).as("r"))
        .select($"r.op".as("op"), $"r.n".as("n"))
        .orderBy($"op")
    }, Some(
      """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
        |     b AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_nationkey < 12)
        |SELECT op, n FROM (
        |  SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT k FROM a UNION SELECT k FROM b)
        |  UNION ALL
        |  SELECT 'intersect', CAST(count(*) AS BIGINT) FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
        |  UNION ALL
        |  SELECT 'except', CAST(count(*) AS BIGINT) FROM (SELECT k FROM a EXCEPT SELECT k FROM b))
        |ORDER BY op""".stripMargin))),

    "range_filter" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/lineitem.parquet")
        .filter($"l_quantity".between(10, 20) &&
          $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n"), r2(sum($"l_quantity")).as("qty"))
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n, floor((sum(l_quantity)) * 100 + 0.5)/100 AS qty
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin))),

    "in_set_filter" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/orders.parquet")
        .filter($"o_orderpriority".isin("1-URGENT", "2-HIGH"))
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))),

    "search_after_page" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .filter($"n_chars" < 300 || ($"n_chars" === 300 && $"doc_id" > 100))
        .orderBy(desc("n_chars"), asc("doc_id"))
        .limit(10)
        .select($"doc_id", $"n_chars")
    }, Some(
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars < 300 OR (n_chars = 300 AND doc_id > 100)
        |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin))),

    "facet_lang_counts" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .groupBy($"lang").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("lang"))
    }, Some(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
        |GROUP BY lang ORDER BY n DESC, lang""".stripMargin))),

    // drill-sideways flavour: rollup over two facet dimensions
    // (grouping-sets analogue of `lucene/facet/.../DrillSideways.java`)
    "facet_rollup" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .rollup($"lang", $"source")
        .agg(count(lit(1)).as("n"))
        .select(coalesce($"lang", lit("ALL")).as("lang"),
          coalesce($"source", lit("ALL")).as("source"), $"n")
        .orderBy($"lang", $"source")
    }, Some(
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY lang, source""".stripMargin))),

    // true drill-sideways (DrillSideways.java): drill-down lang='en' AND
    // source='src1'; each dimension's counts are computed with ITS OWN
    // filter removed (N parallel aggs over one pass), so the UI can show
    // sibling counts for both dimensions
    "facet_drill_sideways" -> (((spark, dir) => {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val langCounts = docs.filter($"source" === "src1") // lang filter removed
        .groupBy($"lang").agg(count(lit(1)).as("n"))
        .select(lit("lang").as("dim"), $"lang".as("value"), $"n")
      val sourceCounts = docs.filter($"lang" === "en") // source filter removed
        .groupBy($"source").agg(count(lit(1)).as("n"))
        .select(lit("source").as("dim"), $"source".as("value"), $"n")
      langCounts.unionByName(sourceCounts).orderBy($"dim", $"value")
    }, Some(
      """SELECT dim, value, n FROM (
        |  SELECT 'lang' AS dim, lang AS value, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE source = 'src1' GROUP BY lang
        |  UNION ALL
        |  SELECT 'source', source, CAST(count(*) AS BIGINT)
        |  FROM documents WHERE lang = 'en' GROUP BY source)
        |ORDER BY dim, value""".stripMargin))),

    // JoinUtil score modes (JoinUtil.java:56,455): "from" side = orders
    // with a score (revenue), joined to customers; the "to" side scores
    // with Avg / Max / Total of the matching from-side scores
    "join_score_modes" -> (((spark, dir) => {
      import spark.implicits._
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .filter($"o_orderpriority" === "1-URGENT")
        // integer-cent quantisation keeps Avg/Total engine-exact
        .withColumn("cents", floor($"o_totalprice" * 100d + 0.5d).cast("long"))
      orders.groupBy($"o_custkey".as("c_custkey"))
        .agg(count(lit(1)).as("n"), max($"cents").as("maxc"), sum($"cents").as("sumc"))
        .select($"c_custkey", $"n",
          r2((col("sumc").cast("double") / 100d) / col("n")).as("avg_score"),
          r2(col("maxc").cast("double") / 100d).as("max_score"),
          r2(col("sumc").cast("double") / 100d).as("total_score"))
        .orderBy(desc("total_score"), asc("c_custkey")).limit(10)
    }, Some(
      """SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n,
        |  floor(((CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS DOUBLE)/100)/count(*)) * 100 + 0.5)/100 AS avg_score,
        |  floor((CAST(max(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS DOUBLE)/100) * 100 + 0.5)/100 AS max_score,
        |  floor((CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS DOUBLE)/100) * 100 + 0.5)/100 AS total_score
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_custkey ORDER BY total_score DESC, c_custkey LIMIT 10""".stripMargin))),

    // sampled facet counts (RandomSamplingFacetsCollector analogue) with a
    // DETERMINISTIC pseudo-sample both engines compute identically
    "facet_sampled" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(substring(md5($"text"), 1, 1).isin("0", "1", "2", "3"))
        .groupBy($"lang").agg(count(lit(1)).as("n"))
        .orderBy($"lang")
    }, Some(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
        |WHERE substr(md5(text), 1, 1) IN ('0','1','2','3')
        |GROUP BY lang ORDER BY lang""".stripMargin))),

    "facet_range_histogram" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", (floor($"n_chars" / 100) * 100).cast("long"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    }, Some(
      """SELECT CAST(floor(n_chars / 100.0) * 100 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin))),

    "events_agg" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/events.parquet")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), r4(avg($"value")).as("avg_value"),
          r2(sum($"value")).as("sum_value"))
        .orderBy($"event_type")
    }, Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       floor((avg(value)) * 10000 + 0.5)/10000 AS avg_value, floor((sum(value)) * 100 + 0.5)/100 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))),

    "group_heads" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/events.parquet").filter($"user_id" < 20)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"user_id").orderBy(desc("value"), asc("event_id"))))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id")
        .orderBy($"user_id")
    }, Some(
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE user_id < 20)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)))
  )

  // ============================================================
  // §C training-data pipeline operators
  // ============================================================

  /** Modular affine mix constants for the 8 minhash functions; products
    * stay < 2^51 (x < P ~ 2^30, a < 2^20), exact in BIGINT on both
    * engines — no overflow, no float.
    */
  private val MinhashP = 1000000007L
  private val MinhashA = Seq(1000003L, 999983L, 756839L, 654319L, 524287L, 216091L, 130021L, 786433L)
  private val MinhashB = Seq(12345L, 67891L, 23457L, 78913L, 34567L, 89123L, 45679L, 91235L)

  private val bandsCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Naive Bayes model — the train-once artifact the classifier joins
    * against (per-(class, term) doc counts, class priors, avg unique
    * terms per doc): ONE shuffle over the token table, persisted and
    * shared like the other pipeline artifacts so the catalog row (and a
    * serving deployment's per-batch classify) measures classification,
    * not training. Lineage is deterministic, so caching cannot change
    * results.
    */
  private val nbCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame, Double, Long)]
  private def nbModel(spark: SparkSession, dir: String): (DataFrame, DataFrame, Double, Long) =
    nbCache.getOrElseUpdate(s"${System.identityHashCode(spark)}:$dir", {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val toks = Corpus.docTokens(spark, dir)
        .select($"doc_id", $"lang", explode($"ts").as("term"))
      val avgUnique = toks.select($"doc_id", $"term").distinct().count().toDouble / n
      val classes = docs.groupBy($"lang").agg(count(lit(1)).as("nc"))
        .select($"lang".as("clang"), $"nc")
      val hits = toks.select($"lang".as("clang"), $"term", $"doc_id").distinct()
        .groupBy($"clang", $"term").agg(count(lit(1)).as("h"))
        .persist()
      hits.count()
      (hits, classes, avgUnique, n)
    })

  /** (doc_id, b, u, v) band rows: 3-token shingles -> ONE md5 each,
    * reduced to a 60-bit int mod P -> 8 affine minhashes -> 4 bands of 2.
    * Persisted per (session, dir): `dedup_ngram_jaccard` joins two legs of
    * this and `dedup_minhash_lsh` reuses it — compute the shingle+md5 pass
    * once, not once per join leg.
    */
  private def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandsCache.getOrElseUpdate(s"${System.identityHashCode(spark)}:$dir", {
      minhashBands0(spark, dir).persist()
    })

  private def minhashBands0(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shingling shared with the analyzer chain (CodeAnalyzer.shingles —
    // the ShingleFilter combinator); per-doc local distinct == the old
    // global (doc_id, sh) distinct, without the shuffle
    val sh = Corpus.docTokens(spark, dir)
      .select($"doc_id", $"ts").as[(Long, Seq[String])]
      .flatMap { case (id, ts) =>
        graft.analysis.CodeAnalyzer.shingles(ts.toIndexedSeq, 3).distinct.map(s => (id, s))
      }
      .toDF("doc_id", "sh")
      .withColumn("x", conv(substring(md5($"sh"), 1, 15), 16, 10).cast("long") % MinhashP)
    val mhCols = (0 until 8).map(i =>
      min(($"x" * MinhashA(i) + MinhashB(i)) % MinhashP).as(s"h$i"))
    sh.groupBy($"doc_id").agg(mhCols.head, mhCols.tail: _*)
      .select($"doc_id", expr(
        "inline(array(" + (0 until 4).map(b =>
          s"struct($b as b, h${2 * b} as u, h${2 * b + 1} as v)").mkString(", ") + "))"))
  }

  /** DuckDB twin of [[minhashBands]] (CTE list ending in `bands`). */
  private val minhashBandsSql: String = {
    val mhCols = (0 until 8).map(i =>
      s"min((x*${MinhashA(i)} + ${MinhashB(i)}) % $MinhashP) AS h$i").mkString(",\n|  ")
    val bandRows = (0 until 4).map(b =>
      if (b == 0) s"SELECT doc_id, 0 AS b, h0 AS u, h1 AS v FROM mh"
      else s"SELECT doc_id, $b, h${2 * b}, h${2 * b + 1} FROM mh").mkString(" UNION ALL\n|  ")
    s"""toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
       |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM toks)),
       |hx AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % $MinhashP AS x FROM sh),
       |mh AS (SELECT doc_id,
       |  $mhCols
       |  FROM hx GROUP BY doc_id),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  /** 60-bit tf-weighted simhash per doc (shared by the fingerprint entry
    * and the Hamming-banded pair entry).
    *
    * Single-pass bit kernel in `mapPartitions`: per doc, tally tf locally,
    * ONE md5 per distinct term, accumulate the 60 signed bit counters in a
    * flat array, emit the fingerprint — no `explode(sequence(0,59))` (a
    * 60x shuffle-volume constant) and no (doc, term) / (doc, j) shuffles.
    * All-integer arithmetic, so the DuckDB oracle (`simhash60Sql`) matches
    * bit-for-bit: h = first 15 md5 hex chars = top 60 bits of the first 8
    * digest bytes.
    *
    * Persisted per (session, dir) like [[minhashBands]]: the fingerprint
    * entry and BOTH legs of the pair entry's band self-join read it, so
    * the tokenize+hash pass runs once, not three times (lineage is
    * deterministic — caching cannot change results). Warmed by the
    * `simhash60` prep step.
    */
  private val simhashCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def simhash60(spark: SparkSession, dir: String): DataFrame =
    simhashCache.getOrElseUpdate(s"${System.identityHashCode(spark)}:$dir", {
      simhash600(spark, dir).persist()
    })

  private def simhash600(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Corpus.docTokens(spark, dir)
      .select($"doc_id", $"ts").as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, ts) =>
          if (ts.isEmpty) Iterator.empty
          else {
            val tf = new java.util.HashMap[String, Integer]()
            ts.foreach { t =>
              val prev = tf.get(t)
              tf.put(t, if (prev == null) 1 else prev + 1)
            }
            val cnt = new Array[Long](60)
            tf.forEach { (term, f) =>
              md.reset()
              val dg = md.digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var h = 0L
              var i = 0
              while (i < 8) { h = (h << 8) | (dg(i) & 0xffL); i += 1 }
              h = h >>> 4 // first 15 hex chars = top 60 bits
              var j = 0
              while (j < 60) {
                if (((h >> j) & 1L) == 1L) cnt(j) += f.toLong else cnt(j) -= f.toLong
                j += 1
              }
            }
            var sh = 0L
            var j = 0
            while (j < 60) { if (cnt(j) > 0L) sh |= 1L << j; j += 1 }
            Iterator.single((docId, sh))
          }
        }
      }.toDF("doc_id", "simhash")
  }

  private val simhash60Sql: String =
    """tf AS (
      |  SELECT doc_id, term, count(*) AS tf,
      |         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
      |        FROM documents)
      |  GROUP BY doc_id, term),
      |bits AS (
      |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
      |  FROM tf, generate_series(0, 59) g(j) GROUP BY doc_id, j),
      |sh AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** 32-bit signed-random-projection signature over the `v` column: 32
    * fixed integer hyperplanes (weights ((i*31 + j*17) % 7) - 3 — a
    * constant closure, no training, no data-sized broadcast), sign bits
    * from INTEGER-quantised dot products so the sum is order-independent
    * and the DuckDB twin matches bit-for-bit. Shared by
    * `dedup_embedding_srp` (global banding) and `dedup_embedding_cosine`
    * (re-bucketing of oversized IVF cells).
    */
  private def srpSigExpr: org.apache.spark.sql.Column =
    (0 until 32).map { i =>
      expr(s"CASE WHEN aggregate(zip_with(v, sequence(0, size(v) - 1), " +
        s"(x, j) -> CAST(floor(x*1000 + 0.5) AS BIGINT) * (CAST(($i*31 + j*17) % 7 AS BIGINT) - 3)), " +
        s"CAST(0 AS BIGINT), (a, x) -> a + x) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    }.reduce(_ + _)

  /** Cosine over DOUBLE arrays as a sequential left fold — the element
    * order and op order match DuckDB's `list_dot_product`, so scores are
    * bit-identical across engines.
    */
  private def cosExpr(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") /
      (sqrt(expr(s"aggregate(transform($a, x -> x * x), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")) *
        sqrt(expr(s"aggregate(transform($b, x -> x * x), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")))

  /** Scale-safe trained IVF shared by `ann_ivf_topk` and
    * `dedup_embedding_cosine` (reference analogue: IVF codebook training +
    * nprobe search, cf. `ann_ivf_topk` survey row). Shapes, all bounded:
    *
    *   - k = max(8, min(4096, floor(sqrt(n)))) fine cells — CAPPED, so the
    *     centroid table, its broadcast, and the one lineage-cutting
    *     collect are bounded (<= 4096 rows) regardless of table size.
    *   - training runs 2 k-means iterations on a DETERMINISTIC sample of
    *     ~32k vectors (vec_id % smod = 0, smod = max(1, n/(32k))) — cost
    *     O(32k * k * iters), a constant once k hits the cap. Centroid
    *     updates use integer-quantised per-dimension sums, so the DuckDB
    *     oracle reproduces the trained centroids bit-for-bit.
    *   - full-table assignment is COARSE-TO-FINE: g = ceil(sqrt(k)) coarse
    *     probes (the g lowest-cid trained centroids), each vector scores
    *     its top-2 coarse groups, then only the fine centroids mapped to
    *     those groups — O(n * (g + 2k/g)) = O(n * sqrt(k)) cosine evals,
    *     never O(n * k), never O(n^2 / 64).
    *
    * Returns (emb, assign(vec_id, cid), centLocal(cid, cv)).
    */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame, DataFrame)]

  /** The trained IVF is an ANN INDEX artifact: train once per (session,
    * dir) and persist the assignment — `ann_ivf_topk` and both embedding
    * dedup entries share it, and a self-join's two legs must not retrain.
    */
  private def ivfTrained(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    ivfCache.getOrElseUpdate(s"${System.identityHashCode(spark)}:$dir", {
      val (e, a, c) = ivfTrained0(spark, dir)
      (e, a.persist(), c)
    })

  /** Sequential-fold cosine on the driver — bit-identical to the Spark
    * `cosExpr` fold AND DuckDB's `list_dot_product` (same element order,
    * same IEEE double ops): dot/(sqrt(dot(a,a))*sqrt(dot(b,b))).
    */
  private def cosLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def ivfTrained0(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val n = emb.count()
    val k = math.max(8L, math.min(4096L, math.floor(math.sqrt(n.toDouble)).toLong))
    val g = math.max(4L, math.ceil(math.sqrt(k.toDouble)).toLong)
    val smod = math.max(1L, n / (32L * k))
    // training sample: BOUNDED at ~32k vectors by construction (smod),
    // so collecting it is a constant-size driver transfer regardless of
    // table size; k-means then runs driver-side in plain Scala — the
    // same IEEE double ops the distributed version performed, with ~12
    // Spark stages of pure overhead removed
    val sampArr = emb.filter($"vec_id" % smod === 0)
      .select($"vec_id", $"v").as[(Long, Seq[Double])]
      .collect().map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
    var cents: Array[(Long, Array[Double])] = sampArr.take(k.toInt)
    for (_ <- 1 to 2) {
      val dim = cents(0)._2.length
      val qsum = Array.ofDim[Long](cents.length, dim)
      val cnt = new Array[Long](cents.length)
      sampArr.foreach { case (_, v) =>
        // argmax cosine, tie -> smaller cid (cents are cid-ascending)
        var best = -1
        var bestCos = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          val c = cosLocal(v, cents(ci)._2)
          if (c > bestCos) { bestCos = c; best = ci }
          ci += 1
        }
        cnt(best) += 1
        var j = 0
        while (j < dim) { qsum(best)(j) += math.floor(v(j) * 1000d + 0.5d).toLong; j += 1 }
      }
      // integer-quantised centroid update (exact on both engines);
      // empty cells drop, cid order preserved
      cents = cents.indices.iterator.filter(cnt(_) > 0).map { ci =>
        val c = new Array[Double](dim)
        var j = 0
        while (j < dim) { c(j) = qsum(ci)(j).toDouble / (1000d * cnt(ci)); j += 1 }
        (cents(ci)._1, c)
      }.toArray
    }
    val centsArr = cents // final, cid-ascending
    // coarse structure (driver-side, k*g tiny): coarse = g lowest-cid
    // trained centroids; each fine centroid -> nearest coarse group
    val coarse = centsArr.take(g.toInt)
    def top2Coarse(v: Array[Double]): (Long, Long) = {
      // ranks 1..2 by (cos desc, gid asc): strict-> scan in gid-asc order
      var b1 = -1L; var c1 = Double.NegativeInfinity
      var b2 = -1L; var c2 = Double.NegativeInfinity
      coarse.foreach { case (gid, gv) =>
        val c = cosLocal(v, gv)
        if (c > c1) { b2 = b1; c2 = c1; b1 = gid; c1 = c }
        else if (c > c2) { b2 = gid; c2 = c }
      }
      (b1, b2)
    }
    val byG: Map[Long, Array[(Long, Array[Double])]] =
      centsArr.groupBy { case (cid, cv) =>
        var best = -1L
        var bestCos = Double.NegativeInfinity
        coarse.foreach { case (gid, gv) =>
          val c = cosLocal(cv, gv)
          if (c > bestCos) { bestCos = c; best = gid }
        }
        best
      }
    // coarse-to-fine assignment as ONE narrow pass (no shuffle): per row,
    // score the g coarse probes, then only the fine centroids of the
    // top-2 groups — O(g + 2k/g) cosine evals per vector, all bounded
    // closures (<= 4096 centroids)
    val assignUdf = udf { (v0: Seq[Double]) =>
      val v = v0.toArray
      val (g1, g2) = top2Coarse(v)
      val cands = (byG.getOrElse(g1, Array.empty[(Long, Array[Double])]) ++
        byG.getOrElse(g2, Array.empty[(Long, Array[Double])])).sortBy(_._1)
      if (cands.isEmpty) null
      else {
        var best = -1L
        var bestCos = Double.NegativeInfinity
        cands.foreach { case (cid, cv) =>
          val c = cosLocal(v, cv)
          if (c > bestCos) { bestCos = c; best = cid }
        }
        java.lang.Long.valueOf(best)
      }
    }
    val assign = emb.withColumn("cid", assignUdf($"v"))
      .filter($"cid".isNotNull)
      .select($"vec_id", $"cid")
    val centLocal = spark.createDataset(centsArr.map { case (cid, cv) => (cid, cv.toSeq) }.toSeq)
      .toDF("cid", "cv")
    (emb, assign, centLocal)
  }

  /** DuckDB twin of [[ivfTrained]]: CTE list ending in `assign`, also
    * exposing `e` (vectors) and `cvf` (trained centroids).
    */
  private val ivfSql: String = {
    def cosSql(a: String, b: String) =
      s"list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b)))"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT count(*) AS n,
       |             greatest(8, least(4096, CAST(floor(sqrt(count(*))) AS BIGINT))) AS k
       |      FROM e),
       |p2 AS (SELECT n, k, greatest(4, CAST(ceil(sqrt(k)) AS BIGINT)) AS g,
       |              greatest(1, n // (32*k)) AS smod FROM p),
       |samp AS (SELECT vec_id, v FROM e WHERE vec_id % (SELECT smod FROM p2) = 0),
       |seed AS (SELECT cid, cv FROM (
       |    SELECT vec_id AS cid, v AS cv, row_number() OVER (ORDER BY vec_id) AS rn FROM samp)
       |  WHERE rn <= (SELECT k FROM p2)),
       |a1 AS (SELECT vec_id, cid FROM (
       |    SELECT s.vec_id, c.cid, row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |      ${cosSql("s.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM samp s, seed c) WHERE rn = 1),
       |d1 AS (SELECT vec_id, j, CAST(floor(v[j]*1000 + 0.5) AS BIGINT) AS qx
       |       FROM (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS j FROM samp)),
       |c1 AS (SELECT cid, j, CAST(sum(qx) AS DOUBLE)/(1000.0*count(*)) AS c
       |       FROM d1 JOIN a1 USING (vec_id) GROUP BY cid, j),
       |cv1 AS (SELECT cid, list(c ORDER BY j) AS cv FROM c1 GROUP BY cid),
       |a2 AS (SELECT vec_id, cid FROM (
       |    SELECT s.vec_id, c.cid, row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |      ${cosSql("s.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM samp s, cv1 c) WHERE rn = 1),
       |c2 AS (SELECT cid, j, CAST(sum(qx) AS DOUBLE)/(1000.0*count(*)) AS c
       |       FROM d1 JOIN a2 USING (vec_id) GROUP BY cid, j),
       |cvf AS (SELECT cid, list(c ORDER BY j) AS cv FROM c2 GROUP BY cid),
       |coarse AS (SELECT gid, gv FROM (
       |    SELECT cid AS gid, cv AS gv, row_number() OVER (ORDER BY cid) AS rn FROM cvf)
       |  WHERE rn <= (SELECT g FROM p2)),
       |cmap AS (SELECT cid, gid FROM (
       |    SELECT f.cid, co.gid, row_number() OVER (PARTITION BY f.cid ORDER BY
       |      ${cosSql("f.cv", "co.gv")} DESC, co.gid) AS rn
       |    FROM cvf f, coarse co) WHERE rn = 1),
       |top2 AS (SELECT vec_id, v, gid FROM (
       |    SELECT e.vec_id, e.v, co.gid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${cosSql("e.v", "co.gv")} DESC, co.gid) AS rn
       |    FROM e, coarse co) WHERE rn <= 2),
       |fbg AS (SELECT m.gid, m.cid, f.cv FROM cmap m JOIN cvf f USING (cid)),
       |assign AS (SELECT vec_id, cid FROM (
       |    SELECT t.vec_id, f.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY
       |      ${cosSql("t.v", "f.cv")} DESC, f.cid) AS rn
       |    FROM top2 t JOIN fbg f USING (gid)) WHERE rn = 1)""".stripMargin
  }

  val pipeline: Map[String, (QFn, Option[String])] = Map(
    "dedup_exact" -> (((spark, dir) => {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      docs.agg(
        count(lit(1)).as("n_total"),
        countDistinct($"text").as("n_distinct"),
        (count(lit(1)) - countDistinct($"text")).as("n_dupes"))
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
        |       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dupes
        |FROM documents""".stripMargin))),

    // LSH-verified near-dup Jaccard: candidate pairs come from the banded
    // minhash join (never an all-pairs self-join), exact token-set Jaccard
    // is verified on candidates only — the plan survives 100x (candidate
    // count is bounded by the banding, not O(n^2))
    "dedup_ngram_jaccard" -> (((spark, dir) => {
      import spark.implicits._
      val cand = minhashBands(spark, dir).as("x")
        .join(minhashBands(spark, dir).as("y"),
          Seq("b", "u", "v"))
        .filter($"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("a"), $"y.doc_id".as("b")).distinct()
      val toks = Corpus.docTokens(spark, dir)
        .select($"doc_id", explode($"ts").as("term"))
        .distinct()
      val sizes = toks.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val inter = cand
        .join(toks.select($"doc_id".as("a"), $"term"), "a")
        .join(toks.select($"doc_id".as("b"), $"term"), Seq("b", "term"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sa"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "sb"), "b")
        .filter($"inter" / ($"sa" + $"sb" - $"inter") >= 0.5) // filter pre-round, like the oracle
        .withColumn("j", r4($"inter" / ($"sa" + $"sb" - $"inter")))
        .select($"a", $"b", $"j")
        .orderBy($"a", $"b")
    }, Some(
      s"""WITH $minhashBandsSql,
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.u = y.u AND x.v = y.v
        |              AND x.doc_id < y.doc_id),
        |t AS (SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
        |      FROM documents),
        |sz AS (SELECT doc_id, count(*) AS s FROM t GROUP BY doc_id),
        |i AS (SELECT cand.a, cand.b, count(*) AS inter
        |      FROM cand JOIN t ta ON ta.doc_id = cand.a
        |                JOIN t tb ON tb.doc_id = cand.b AND tb.term = ta.term
        |      GROUP BY cand.a, cand.b)
        |SELECT a, b, floor((inter / (sa.s + sb.s - inter)) * 10000 + 0.5)/10000 AS j
        |FROM i JOIN sz sa ON i.a = sa.doc_id JOIN sz sb ON i.b = sb.doc_id
        |WHERE inter / (sa.s + sb.s - inter) >= 0.5
        |ORDER BY a, b""".stripMargin))),

    // integer minhash: ONE md5 per shingle reduced to a 60-bit int, 8
    // minhashes derived by cheap modular affine mixes (exact in BIGINT on
    // both engines), banded 4x2 -> candidate pairs. An order of magnitude
    // less hashing + shuffle bytes than per-hash md5 strings.
    "dedup_minhash_lsh" -> (((spark, dir) => {
      import spark.implicits._
      val bands = minhashBands(spark, dir)
      bands.as("x").join(bands.as("y"), Seq("b", "u", "v"))
        .filter($"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("a"), $"y.doc_id".as("b")).distinct()
        .orderBy($"a", $"b")
    }, Some(
      s"""WITH $minhashBandsSql
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM bands x JOIN bands y ON x.b = y.b AND x.u = y.u AND x.v = y.v
        |     AND x.doc_id < y.doc_id
        |ORDER BY a, b""".stripMargin))),

    // Duplicate-CLUSTER resolution: connected components over the
    // LSH candidate pairs -> one canonical doc (cluster min) per member —
    // the keep-one step a dedup pipeline needs after pair generation.
    // Distributed min-label propagation WITH pointer jumping (each round
    // also contracts canonical -> canonical(canonical), the Shiloach-
    // Vishkin shortcut): O(log diameter) rounds instead of O(diameter),
    // each round one edge join + one min-aggregate + one label self-join
    // (no collect of edges). The fixed point is the per-component id
    // minimum either way (labels only decrease and stay inside the
    // component; at changed==0 the symmetric-edge condition forces one
    // constant per component, and that constant is pinned to the min by
    // the component-min node itself), so the result is IDENTICAL to the
    // plain propagation and to the oracle's recursive closure.
    // Per-round frames are localCheckpoint'ed, not persist'ed: the round
    // plan collapses to a LogicalRDD (no O(rounds)-deep Catalyst tree to
    // re-analyze each round, no CacheManager entry for every later
    // catalog query to canonicalize against — the r06 bench showed the
    // leaked deep cached plans taxing the entire remaining run) and the
    // intermediate blocks are freed by the ContextCleaner as soon as the
    // next round drops the reference. Shuffle sizing is left to AQE
    // (spark.sql.adaptive coalesces the tiny pair-table exchanges
    // without pinning a session-global partition count).
    "dedup_clusters" -> (((spark, dir) => {
      import spark.implicits._
      val bands = minhashBands(spark, dir)
      val pairs = bands.as("x").join(bands.as("y"), Seq("b", "u", "v"))
        .filter($"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("a"), $"y.doc_id".as("b")).distinct()
      val edges = pairs.unionByName(pairs.select($"b".as("a"), $"a".as("b")))
        .localCheckpoint()
      var labels = edges.select($"a".as("doc_id")).distinct()
        .withColumn("canonical", $"doc_id").localCheckpoint()
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 64) {
        // neighbor messages and the node's own label go through ONE
        // union + min aggregation (the self row doubles as the
        // old-label carrier, so convergence detection needs no extra
        // join); base-stability alone is a sound stop condition — a
        // round whose neighbor-min changes nothing has per-component
        // constant labels, which makes the jump a no-op too
        val m = edges
          .join(labels.select($"doc_id".as("b"), $"canonical".as("cb")), "b")
          .select($"a".as("doc_id"), $"cb".as("c"), lit(null).cast("long").as("old"))
          .unionByName(labels.select($"doc_id", $"canonical".as("c"),
            $"canonical".as("old")))
          .groupBy($"doc_id").agg(min($"c").as("base"), max($"old").as("old"))
        // pointer jump: base is a doc_id of this component (min of ids
        // seen so far), so its own current label contracts the path
        val next = m
          .join(m.select($"doc_id".as("base"), $"base".as("cc")), Seq("base"), "left")
          .select($"doc_id", least($"base", coalesce($"cc", $"base")).as("canonical"),
            ($"base" < $"old").as("chg"))
          .localCheckpoint()
        changed = next.filter($"chg").count()
        labels = next.select($"doc_id", $"canonical")
        rounds += 1
      }
      require(changed == 0L, s"label propagation did not converge in $rounds rounds")
      labels.orderBy($"doc_id")
    }, Some(
      s"""WITH RECURSIVE $minhashBandsSql,
        |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |          FROM bands x JOIN bands y ON x.b = y.b AND x.u = y.u AND x.v = y.v
        |               AND x.doc_id < y.doc_id),
        |e AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |r AS (SELECT a AS doc, b AS reach FROM e
        |      UNION
        |      SELECT r.doc, e.b FROM r JOIN e ON r.reach = e.a)
        |SELECT doc AS doc_id, least(doc, min(reach)) AS canonical
        |FROM r GROUP BY doc ORDER BY doc_id""".stripMargin))),

    // 60-bit tf-weighted simhash fingerprints, whole table (no demo cap)
    "dedup_simhash" -> (((spark, dir) => {
      import spark.implicits._
      simhash60(spark, dir).orderBy($"doc_id")
    }, Some(
      s"""WITH $simhash60Sql
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin))),

    // simhash as a DEDUP operator: Hamming-banded candidate pairs (4 bands
    // of 15 bits — pigeonhole guarantees every pair within distance 3
    // shares a band), verified by bit_count(xor) <= 3. Bucket join, never
    // all-pairs; 15-bit bands keep buckets ~n/32768.
    "dedup_simhash_pairs" -> (((spark, dir) => {
      import spark.implicits._
      val sh = simhash60(spark, dir)
      val bands = sh.select($"doc_id", $"simhash",
        expr("inline(array(" + (0 until 4).map(b =>
          s"struct($b as b, (shiftright(simhash, ${15 * b}) & 32767) as key)").mkString(", ") + "))"))
      bands.as("x").join(bands.as("y"), Seq("b", "key"))
        .filter($"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
          expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("dist"))
        .distinct()
        .filter($"dist" <= 3)
        .orderBy($"a", $"b")
    }, Some(
      s"""WITH $simhash60Sql,
         |bands AS (
         |  SELECT doc_id, simhash, 0 AS b, (simhash >> 0) & 32767 AS key FROM sh UNION ALL
         |  SELECT doc_id, simhash, 1, (simhash >> 15) & 32767 FROM sh UNION ALL
         |  SELECT doc_id, simhash, 2, (simhash >> 30) & 32767 FROM sh UNION ALL
         |  SELECT doc_id, simhash, 3, (simhash >> 45) & 32767 FROM sh)
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS dist
         |FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY a, b""".stripMargin))),

    // embedding-cosine near-dup with a BOUNDED pair step: candidate
    // pairs come from shared TRAINED IVF cells, but the within-cell
    // enumeration is capped by a pair budget B — cells of size <= B pair
    // exactly through a cid-bucket sort-merge self-join (per-key work
    // <= B^2, no collect_list anywhere in the plan), while OVERSIZED
    // cells are re-bucketed by 2x16-bit SRP bands before pairing, so a
    // mega-cell can never concentrate O(cell^2) work (or an unbounded
    // per-cid list) on one reducer. Total pair cost O(n*B + n*bandBucket)
    // — see PLANS.md for the derivation; the SRP re-bucket trades recall
    // inside oversized cells exactly like the global-SRP entry below,
    // and the oracle mirrors both paths bit-for-bit.
    "dedup_embedding_cosine" -> (((spark, dir) => {
      import spark.implicits._
      // pair budget: exact pairing up to B members per cell. Small here
      // so the fixture exercises BOTH paths (cells straddle it at every
      // SF); production deployments size B to the executor-memory pair
      // budget (thousands) — oversized cells are the rare tail either way
      val B = 40
      val (emb, assign, _) = ivfTrained(spark, dir)
      val sizes = assign.groupBy($"cid").agg(count(lit(1)).as("sz"))
      // sizes is <= k <= 4096 rows -> broadcast; persist the sized
      // member table WITH its precomputed norm: |x| is a per-VECTOR
      // quantity — computing it per candidate PAIR tripled the per-pair
      // array-aggregate work (bit-identical either way: same sqrt(sum)
      // expression over the same vector)
      // localCheckpoint, not persist: the five downstream scans read the
      // materialized blocks, no CacheManager entry outlives the call
      // (the r06 run leaked one per invocation, taxing every later
      // query's cache lookup), and the ContextCleaner frees the blocks
      val sized = assign.join(emb, "vec_id")
        .join(broadcast(sizes), "cid")
        .withColumn("nrm",
          sqrt(expr("aggregate(transform(v, p -> p * p), CAST(0 AS DOUBLE), (acc, p) -> acc + p)")))
        .localCheckpoint()
      def cosXY = (expr("aggregate(zip_with(x.v, y.v, (p, q) -> p * q), CAST(0 AS DOUBLE), (acc, p) -> acc + p)") /
        ($"x.nrm" * $"y.nrm")).as("c")
      val small = sized.filter($"sz" <= B)
      val smallPairs = small.as("x").join(small.as("y"), "cid")
        .filter($"x.vec_id" < $"y.vec_id")
        .select($"x.vec_id".as("a"), $"y.vec_id".as("b"), cosXY)
      // big cells: candidate (a, b) pairs are DEDUPED on ids BEFORE the
      // cosine — the oracle's own shape — so a pair colliding in both
      // bands costs one cosine, and the distinct shuffle carries two
      // longs instead of two 128-dim vectors
      val big = sized.filter($"sz" > B).withColumn("sig", srpSigExpr)
      val bigBands = big.select($"cid", $"vec_id",
        expr("inline(array(struct(0 as b, sig & 65535 as key), struct(1 as b, shiftright(sig, 16) as key)))"))
      val bigCand = bigBands.as("x").join(bigBands.as("y"), Seq("cid", "b", "key"))
        .filter($"x.vec_id" < $"y.vec_id")
        .select($"x.vec_id".as("a"), $"y.vec_id".as("b")).distinct()
      val bigPairs = bigCand
        .join(sized.select($"vec_id".as("a"), $"v".as("xv"), $"nrm".as("xn")), "a")
        .join(sized.select($"vec_id".as("b"), $"v".as("yv"), $"nrm".as("yn")), "b")
        .select($"a", $"b",
          (expr("aggregate(zip_with(xv, yv, (p, q) -> p * q), CAST(0 AS DOUBLE), (acc, p) -> acc + p)") /
            ($"xn" * $"yn")).as("c"))
      smallPairs.union(bigPairs)
        .filter($"c" >= 0.45)
        .select($"a", $"b", r4($"c").as("cos"))
        .orderBy($"a", $"b")
    }, Some(
      s"""WITH $ivfSql,
        |w AS (SELECT a.vec_id, a.cid, e.v FROM assign a JOIN e USING (vec_id)),
        |szs AS (SELECT cid, count(*) AS sz FROM w GROUP BY cid),
        |ws AS (SELECT w.vec_id, w.cid, w.v, szs.sz FROM w JOIN szs USING (cid)),
        |spairs AS (SELECT x.vec_id AS a, y.vec_id AS b,
        |   list_dot_product(x.v, y.v)/(sqrt(list_dot_product(x.v, x.v))*sqrt(list_dot_product(y.v, y.v))) AS c
        |   FROM ws x JOIN ws y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |   WHERE x.sz <= 40 AND y.sz <= 40),
        |bigm AS (SELECT vec_id, cid, v FROM ws WHERE sz > 40),
        |bq AS (SELECT vec_id, j - 1 AS j, CAST(floor(x*1000 + 0.5) AS BIGINT) AS qx
        |       FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM bigm)),
        |bd AS (SELECT vec_id, i, sum(qx * (((i*31 + j*17) % 7) - 3)) AS dot
        |       FROM bq, generate_series(0, 31) g(i) GROUP BY vec_id, i),
        |bs AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS sig
        |       FROM bd GROUP BY vec_id),
        |bb AS (SELECT m.cid, m.vec_id, m.v, 0 AS b, bs.sig & 65535 AS key FROM bigm m JOIN bs USING (vec_id)
        |       UNION ALL SELECT m.cid, m.vec_id, m.v, 1, bs.sig >> 16 FROM bigm m JOIN bs USING (vec_id)),
        |bpairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
        |   list_dot_product(x.v, y.v)/(sqrt(list_dot_product(x.v, x.v))*sqrt(list_dot_product(y.v, y.v))) AS c
        |   FROM bb x JOIN bb y ON x.cid = y.cid AND x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id),
        |allp AS (SELECT a, b, c FROM spairs UNION ALL SELECT a, b, c FROM bpairs)
        |SELECT a, b, floor((c) * 10000 + 0.5)/10000 AS cos
        |FROM allp WHERE c >= 0.45 ORDER BY a, b""".stripMargin))),

    // embedding near-dup via signed-random-projection LSH — the fully
    // LINEAR scale path (vs the trained-IVF bucketing above): 32 fixed
    // deterministic hyperplanes (weights ((i*31 + j*17) % 7) - 3 — no
    // broadcast that grows with the data, no training pass), one
    // signature pass, 2 bands of 16 bits -> bucket join (collision rate
    // 1/65536 per band, the same banding geometry as dedup_simhash_pairs),
    // exact cosine verified on candidates only. Sign bits come from
    // INTEGER-quantised dot products (floor(x*1000+0.5) * integer weight),
    // so the sum is order-independent and the DuckDB oracle matches
    // bit-for-bit.
    "dedup_embedding_srp" -> (((spark, dir) => {
      import spark.implicits._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      // localCheckpoint: the band self-join's two legs and the vector
      // join-back must not recompute the 32-projection signature pass;
      // the norm is per-VECTOR, precomputed once (bit-identical to
      // per-pair). Checkpoint instead of persist so no CacheManager
      // entry outlives the call and the blocks free on GC.
      val sig = emb.withColumn("sig", srpSigExpr)
        .withColumn("nrm",
          sqrt(expr("aggregate(transform(v, p -> p * p), CAST(0 AS DOUBLE), (acc, p) -> acc + p)")))
        .localCheckpoint()
      val bands = sig.select($"vec_id",
        expr("inline(array(struct(0 as b, sig & 65535 as key), struct(1 as b, shiftright(sig, 16) as key)))"))
      // candidates deduped on (a, b) BEFORE the cosine (the oracle's own
      // shape): a both-bands collision costs one cosine, and the distinct
      // shuffles ids, not vectors
      val cand = bands.as("x").join(bands.as("y"), Seq("b", "key"))
        .filter($"x.vec_id" < $"y.vec_id")
        .select($"x.vec_id".as("a"), $"y.vec_id".as("b")).distinct()
      cand
        .join(sig.select($"vec_id".as("a"), $"v".as("xv"), $"nrm".as("xn")), "a")
        .join(sig.select($"vec_id".as("b"), $"v".as("yv"), $"nrm".as("yn")), "b")
        .select($"a", $"b",
          (expr("aggregate(zip_with(xv, yv, (p, q) -> p * q), CAST(0 AS DOUBLE), (acc, p) -> acc + p)") /
            ($"xn" * $"yn")).as("c"))
        .filter($"c" >= 0.45)
        .select($"a", $"b", r4($"c").as("cos"))
        .orderBy($"a", $"b")
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, j - 1 AS j, CAST(floor(x*1000 + 0.5) AS BIGINT) AS qx
        |      FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM e)),
        |d AS (SELECT vec_id, i, sum(qx * (((i*31 + j*17) % 7) - 3)) AS dot
        |      FROM q, generate_series(0, 31) g(i) GROUP BY vec_id, i),
        |s AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS sig
        |      FROM d GROUP BY vec_id),
        |bands AS (SELECT vec_id, 0 AS b, sig & 65535 AS key FROM s
        |          UNION ALL SELECT vec_id, 1, sig >> 16 FROM s),
        |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id),
        |pairs AS (SELECT cand.a, cand.b,
        |   list_dot_product(ex.v, ey.v)/(sqrt(list_dot_product(ex.v, ex.v))*sqrt(list_dot_product(ey.v, ey.v))) AS c
        |   FROM cand JOIN e ex ON ex.vec_id = cand.a JOIN e ey ON ey.vec_id = cand.b)
        |SELECT a, b, floor((c) * 10000 + 0.5)/10000 AS cos
        |FROM pairs WHERE c >= 0.45 ORDER BY a, b""".stripMargin))),

    "ann_cosine_topk" -> (((spark, dir) => {
      import spark.implicits._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val q = emb.filter($"vec_id" === 0).select($"v").head().getSeq[Double](0).toArray
      // same formula as the oracle: dot/(sqrt(dot(v,v)) * sqrt(dot(q,q)))
      val scored = emb.withColumn("qv", typedLit(q.toSeq))
        .withColumn("dot",
          expr("aggregate(zip_with(v, qv, (x, y) -> x * y), CAST(0 AS DOUBLE), (a, x) -> a + x)"))
        .withColumn("nrm",
          sqrt(expr("aggregate(transform(v, x -> x * x), CAST(0 AS DOUBLE), (a, x) -> a + x)")))
        .withColumn("qnrm",
          sqrt(expr("aggregate(transform(qv, x -> x * x), CAST(0 AS DOUBLE), (a, x) -> a + x)")))
        .withColumn("cos", r4($"dot" / ($"nrm" * $"qnrm")))
      // top-k via orderBy+limit (TakeOrderedAndProject: per-partition
      // partial top-k, tiny final merge) — NOT a global-window rank, which
      // would shuffle every row to one partition; rank is assigned over
      // the 10 surviving rows only
      scored
        .select($"vec_id", $"cos")
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(desc("cos"), asc("vec_id"))).cast("long"))
        .orderBy($"rank")
    }, Some(
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |sc AS (SELECT vec_id,
        |  list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
        |   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product(q.qv, q.qv))) AS c
        |  FROM embeddings, q)
        |SELECT vec_id, floor((c) * 10000 + 0.5)/10000 AS cos,
        |       CAST(row_number() OVER (ORDER BY floor((c) * 10000 + 0.5)/10000 DESC, vec_id) AS BIGINT) AS rank
        |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    "ann_ivf_assign" -> (((spark, dir) => {
      import spark.implicits._
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val cents = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val joined = emb.crossJoin(broadcast(cents))
        .withColumn("dot", expr("aggregate(zip_with(v, cv, (x, y) -> x * y), CAST(0 AS DOUBLE), (a, x) -> a + x)"))
        .withColumn("cos", $"dot" /
          (sqrt(expr("aggregate(transform(v, x -> x * x), CAST(0 AS DOUBLE), (a, x) -> a + x)")) *
            sqrt(expr("aggregate(transform(cv, x -> x * x), CAST(0 AS DOUBLE), (a, x) -> a + x)"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy(desc("cos"), asc("cid"))))
        .filter($"rn" === 1)
      joined.groupBy($"cid").agg(count(lit(1)).as("n")).orderBy($"cid")
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |sc AS (SELECT e.vec_id, c.cid,
        |  list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        |  FROM e, c),
        |best AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM sc)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n FROM best WHERE rn = 1
        |GROUP BY cid ORDER BY cid""".stripMargin))),

    // IVF with TRAINED centroids and the inverted lists actually probed:
    // 2 sampled k-means iterations with integer-quantised centroid updates
    // (exact on both engines, so the oracle reproduces the centroids
    // bit-for-bit), coarse-to-fine assignment, then nprobe=2 cells are
    // searched exactly. All shapes bounded — see [[ivfTrained]].
    "ann_ivf_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (emb, assign, centLocal) = ivfTrained(spark, dir)
      // probe: 2 nearest trained centroids to the query vector (<= 4096
      // candidates — the k cap bounds this scan)
      val q = emb.filter($"vec_id" === 0).select($"v").head().getSeq[Double](0).toArray
      val probeCids = centLocal
        .withColumn("qv", typedLit(q.toSeq))
        .withColumn("cos", cosExpr("cv", "qv"))
        .orderBy(desc("cos"), asc("cid")).limit(2)
        .select($"cid").as[Long].collect().toSeq
      // exact cosine within the probed cells only
      emb.join(assign, "vec_id")
        .filter($"cid".isin(probeCids: _*))
        .withColumn("qv", typedLit(q.toSeq))
        .withColumn("cos", r4(cosExpr("v", "qv")))
        .select($"vec_id", $"cos")
        .orderBy(desc("cos"), asc("vec_id")).limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(desc("cos"), asc("vec_id"))).cast("long"))
        .orderBy($"rank")
    }, Some(
      s"""WITH $ivfSql,
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probe AS (SELECT cid FROM cvf, q ORDER BY
        |   list_dot_product(cv, qv)/(sqrt(list_dot_product(cv, cv))*sqrt(list_dot_product(qv, qv))) DESC,
        |   cid LIMIT 2),
        |sc AS (SELECT e.vec_id,
        |   list_dot_product(e.v, q.qv)/(sqrt(list_dot_product(e.v, e.v))*sqrt(list_dot_product(q.qv, q.qv))) AS c
        |   FROM e JOIN assign USING (vec_id), q WHERE assign.cid IN (SELECT cid FROM probe))
        |SELECT vec_id, floor((c) * 10000 + 0.5)/10000 AS cos,
        |       CAST(row_number() OVER (ORDER BY floor((c) * 10000 + 0.5)/10000 DESC, vec_id) AS BIGINT) AS rank
        |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    "lang_id_heuristic" -> (((spark, dir) => {
      import spark.implicits._
      val stop = Seq("the", "a", "of", "to", "and")
      Corpus.docTokens(spark, dir)
        .select($"doc_id", $"ts")
        .withColumn("n", size($"ts"))
        .withColumn("hits", expr(
          s"size(filter(ts, t -> t IN (${stop.map(s => s"'$s'").mkString(",")})))"))
        .withColumn("pred", when($"hits" / $"n" > 0.05, lit("en")).otherwise(lit("other")))
        .select($"doc_id", $"pred")
        .orderBy($"doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term FROM documents),
        |r AS (SELECT doc_id, count(*) AS n,
        |             sum(CASE WHEN term IN ('the','a','of','to','and') THEN 1 ELSE 0 END) AS hits
        |      FROM t GROUP BY doc_id)
        |SELECT doc_id, CASE WHEN hits / CAST(n AS DOUBLE) > 0.05 THEN 'en' ELSE 'other' END AS pred
        |FROM r ORDER BY doc_id""".stripMargin))),

    // Deterministic STRATIFIED sampling — the class-rebalancing step of a
    // training-data pipeline (downsample over-represented languages):
    // keep fraction r(lang) of docs, membership decided by a per-doc
    // hash (md5 of doc_id), so the sample is reproducible, join-free,
    // one narrow filter at any scale (no per-class count pass, no RNG
    // state), and stable under re-runs/appends — unlike rand()-based
    // Dataset.sample.
    "sample_stratified" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("u",
          conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
            .cast("long") % 10000L)
        .withColumn("cut", expr(
          "CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 5000 " +
            "WHEN 'es' THEN 5000 WHEN 'de' THEN 6000 ELSE 10000 END"))
        .filter($"u" < $"cut")
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    }, Some(
      s"""WITH s AS (SELECT doc_id, lang,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS u,
         |  CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 5000
         |            WHEN 'es' THEN 5000 WHEN 'de' THEN 6000 ELSE 10000 END AS cut
         |  FROM documents)
         |SELECT doc_id, lang FROM s WHERE u < cut ORDER BY doc_id""".stripMargin))),

    "quality_score" -> (((spark, dir) => {
      import spark.implicits._
      val stop = Seq("the", "a", "of", "to", "and")
      Corpus.docTokens(spark, dir)
        .select($"doc_id", $"ts")
        .withColumn("n", size($"ts").cast("double"))
        .withColumn("nd", size(array_distinct($"ts")).cast("double"))
        .withColumn("hits", expr(
          s"CAST(size(filter(ts, t -> t IN (${stop.map(s => s"'$s'").mkString(",")}))) AS DOUBLE)"))
        .withColumn("qs", r4(
          lit(0.4) * least(lit(1.0), $"n" / 200.0) +
            lit(0.3) * ($"hits" / $"n") + lit(0.3) * ($"nd" / $"n")))
        .select($"doc_id", $"qs")
        .orderBy($"doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term FROM documents),
        |r AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(count(DISTINCT term) AS DOUBLE) AS nd,
        |             CAST(sum(CASE WHEN term IN ('the','a','of','to','and') THEN 1 ELSE 0 END) AS DOUBLE) AS hits
        |      FROM t GROUP BY doc_id)
        |SELECT doc_id, floor((0.4 * least(1.0, n / 200.0) + 0.3 * (hits / n) + 0.3 * (nd / n)) * 10000 + 0.5)/10000 AS qs
        |FROM r ORDER BY doc_id""".stripMargin))),

    "token_count" -> (((spark, dir) => {
      import spark.implicits._
      Corpus.docTokens(spark, dir)
        .select($"doc_id", size($"ts").cast("long").as("n_tokens"),
          size(array_distinct($"ts")).cast("long").as("n_distinct"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+'))) AS BIGINT) AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin))),

    // training-tokenizer-shaped counts: whitespace tokens + a BPE-ish
    // GPT-2-style regex (contractions, letter runs, digit runs,
    // punctuation runs with the leading-space idiom)
    "token_count_bpe" -> (((spark, dir) => {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id",
          size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_ws"),
          size(expr(
            "regexp_extract_all(text, '\\'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\\\sa-zA-Z0-9]+|\\\\s+', 0)"))
            .cast("long").as("n_bpe"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin))),

    // true ROLLING hash fingerprint (Rabin-Karp over 5-token windows):
    // the engine computes the O(1)-per-step rolling recurrence inside
    // mapPartitions; the oracle evaluates the direct polynomial — their
    // equality IS the differential check. All arithmetic mod 1e9+7 in
    // BIGINT, exact on both engines.
    "doc_fingerprint_rolling" -> (((spark, dir) => {
      import spark.implicits._
      val P = 1000000007L
      val B = 31L
      val B4 = (B * B * B * B) % P // drop-out factor for the leading token
      Corpus.docTokens(spark, dir).select($"doc_id", $"ts").as[(Long, Seq[String])]
        .mapPartitions { rows =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def tokHash(t: String): Long = {
            md.reset()
            val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 60 bits of the md5, like conv(substr(md5,1,15),16,10)
            var v = 0L
            var i = 0
            while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
            ((v >>> 4) % P + P) % P
          }
          rows.flatMap { case (docId, ts) =>
            if (ts.length < 5) None
            else {
              val th = ts.map(tokHash).toArray
              // initial window
              var h = 0L
              var j = 0
              while (j < 5) { h = (h * B + th(j)) % P; j += 1 }
              var min = h
              // roll: drop th(i-5), add th(i)
              var i = 5
              while (i < th.length) {
                h = (((h - th(i - 5) * B4 % P + P) % P) * B + th(i)) % P
                if (h < min) min = h
                i += 1
              }
              Some((docId, min))
            }
          }
        }
        .toDF("doc_id", "fp_roll")
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $posCte,
         |th AS (SELECT doc_id, p,
         |         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 1000000007 AS h
         |       FROM pos),
         |win AS (SELECT a.doc_id,
         |          (a.h*923521 + b.h*29791 + c.h*961 + d.h*31 + e.h) % 1000000007 AS wh
         |        FROM th a
         |        JOIN th b ON b.doc_id = a.doc_id AND b.p = a.p + 1
         |        JOIN th c ON c.doc_id = a.doc_id AND c.p = a.p + 2
         |        JOIN th d ON d.doc_id = a.doc_id AND d.p = a.p + 3
         |        JOIN th e ON e.doc_id = a.doc_id AND e.p = a.p + 4)
         |SELECT doc_id, min(wh) AS fp_roll FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin))),

    "doc_fingerprint" -> (((spark, dir) => {
      import spark.implicits._
      // winnowing-style fingerprint: min md5 over 5-token shingles
      Corpus.docTokens(spark, dir)
        .select($"doc_id", $"ts")
        .withColumn("sh", expr(
          "transform(sequence(1, greatest(size(ts) - 4, 1)), i -> " +
            "concat_ws(' ', slice(ts, i, 5)))"))
        .select($"doc_id", expr("array_min(transform(sh, s -> md5(s)))").as("fp"))
        .orderBy($"doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents),
        |sh AS (SELECT doc_id, md5(array_to_string(ts[i:i+4], ' ')) AS h
        |       FROM (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 4, 1))) AS i FROM toks))
        |SELECT doc_id, min(h) AS fp FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin))),

    // batched binary decode (mapPartitions): stubbed codec, real plumbing.
    // The stub is a PURE function of the payload bytes at fixed offsets
    // (payload = unhex(md5(text)), so its hex IS md5(text)), which makes
    // the "decode" fully oracle-checkable without any media library:
    // width = 16 + (bytes[0..1] % 2033), height = 16 + (bytes[2..3] % 2033),
    // channels = 1 + (bytes[4] % 4)
    "multimodal_decode" -> (((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Multimodal.decodeFeatures(
          graft.pipeline.Multimodal.fromDocuments(spark, dir))
        .toDF()
        .select($"doc_id", $"mediaType", $"byteLen".cast("long").as("byte_len"),
          $"width".cast("long").as("width"), $"height".cast("long").as("height"),
          $"channels".cast("long").as("channels"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS mediaType,
        |       CAST(octet_length(unhex(md5(text))) AS BIGINT) AS byte_len,
        |       CAST(16 + (CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 2033) AS BIGINT) AS width,
        |       CAST(16 + (CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 2033) AS BIGINT) AS height,
        |       CAST(1 + (CAST(('0x' || substr(md5(text), 9, 2)) AS BIGINT) % 4) AS BIGINT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin))),

    // frame sampling (flatMap generator over the opaque video payload):
    // 1 + doc_id % 4 frames per video, frame key = md5(hex(payload)-idx) —
    // deterministic, so the oracle reproduces it with generate_series
    "multimodal_frames" -> (((spark, dir) => {
      import spark.implicits._
      graft.pipeline.Multimodal.sampleFrames(
          graft.pipeline.Multimodal.fromDocuments(spark, dir))
        .toDF()
        .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"), $"frame_key")
        .orderBy($"doc_id", $"frame_idx")
    }, Some(
      """SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
        |       md5(lower(hex(unhex(md5(text)))) || '-' || j) AS frame_key
        |FROM documents, generate_series(0, 3) g(j)
        |WHERE doc_id % 3 = 2 AND j < 1 + doc_id % 4
        |ORDER BY doc_id, frame_idx""".stripMargin))),

    "multimodal_stub" -> (((spark, dir) => {
      import spark.implicits._
      // binary-column plumbing: opaque bytes + typed metadata, decode stubbed
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("blob", unhex(md5($"text"))) // deterministic fake payload
        .select($"doc_id",
          length($"blob").cast("long").as("blob_len"),
          substring(md5($"text"), 1, 2).as("header"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id, CAST(octet_length(unhex(md5(text))) AS BIGINT) AS blob_len,
        |       substr(md5(text), 1, 2) AS header
        |FROM documents ORDER BY doc_id""".stripMargin)))
  )

  // ============================================================
  // §D suggest / spell / highlight / expressions / classification
  // (the reference's suggest, highlighter, expressions and
  // classification modules re-expressed over the term dictionary and
  // doc-values columns — see exec/Suggest.scala, exec/Highlighter.scala)
  // ============================================================

  val suggestHl: Map[String, (QFn, Option[String])] = Map(
    // DirectSpellChecker "did you mean": 'spak' is absent from the corpus
    // vocabulary; candidates drawn from the dictionary with first char
    // held exact, suffix Damerau <= 2, similarity >= 0.5, ranked
    // score desc / df desc / term asc (SuggestWordScoreComparator)
    "spell_did_you_mean" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      graft.exec.Suggest.didYouMean(index, "spak", 5)
    }, Some(
      s"""WITH $tokCte,
         |cand AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |                damerau_levenshtein(substr(term, 2), 'pak') AS ed
         |         FROM tok WHERE substr(term, 1, 1) = 's'
         |           AND abs(length(term) - 4) <= 2 AND term != 'spak'
         |         GROUP BY term
         |         HAVING ed > 0 AND ed <= 2
         |            AND 1.0 - ed/CAST(least(length(term), 4) AS DOUBLE) >= 0.5)
         |SELECT term,
         |       floor((1.0 - ed/CAST(least(length(term), 4) AS DOUBLE)) * 10000 + 0.5)/10000 AS score,
         |       df
         |FROM cand ORDER BY score DESC, df DESC, term LIMIT 5""".stripMargin))),

    // WordBreakSpellChecker.suggestWordBreaks: 'scanmerge' is absent;
    // split positions where BOTH parts exist, ranked max-part-df desc
    "spell_word_break" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      graft.exec.Suggest.wordBreaks(index, "scanmerge", 5)
    }, Some(
      s"""WITH $tokCte,
         |ts AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term),
         |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, length('scanmerge')) t(i)),
         |cand AS (SELECT substr('scanmerge', 1, i) AS left_part,
         |                substr('scanmerge', i + 1) AS right_part FROM pos)
         |SELECT c.left_part, c.right_part, l.df AS freq_left, r.df AS freq_right
         |FROM cand c JOIN ts l ON c.left_part = l.term JOIN ts r ON c.right_part = r.term
         |ORDER BY greatest(l.df, r.df) DESC, c.left_part LIMIT 5""".stripMargin))),

    // suggestWordCombinations: adjacent input words where one side is
    // absent and the concatenation exists ('tab'+'le' -> 'table')
    "spell_word_combine" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      graft.exec.Suggest.wordCombine(index, Seq("big", "tab", "le", "row"), 5)
    }, Some(
      s"""WITH $tokCte,
         |ts AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term),
         |words(w, i) AS (VALUES ('big', 0), ('tab', 1), ('le', 2), ('row', 3)),
         |pairs AS (SELECT a.w AS w1, b.w AS w2, a.i AS i FROM words a JOIN words b ON b.i = a.i + 1),
         |ev AS (SELECT pairs.w1, pairs.w2, pairs.i,
         |              coalesce(l.df, 0) AS d1, coalesce(r.df, 0) AS d2, coalesce(c.df, 0) AS cf
         |       FROM pairs LEFT JOIN ts l ON pairs.w1 = l.term
         |            LEFT JOIN ts r ON pairs.w2 = r.term
         |            LEFT JOIN ts c ON (pairs.w1 || pairs.w2) = c.term)
         |SELECT w1 || w2 AS combined, CAST(i AS BIGINT) AS pos, cf AS freq FROM ev
         |WHERE least(d1, d2) = 0 AND cf >= 1 AND length(w1 || w2) <= 20
         |ORDER BY cf DESC, pos LIMIT 5""".stripMargin))),

    // AnalyzingSuggester surface: weight-ordered prefix completion,
    // weight = corpus ttf (the DocumentDictionary analogue)
    "suggest_prefix_topk" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      graft.exec.Suggest.completePrefix(index, "s", 5)
    }, Some(
      s"""WITH $tokCte,
         |w AS (SELECT term, CAST(count(*) AS BIGINT) AS weight FROM tok
         |      WHERE term LIKE 's%' GROUP BY term)
         |SELECT term, weight FROM w ORDER BY weight DESC, term LIMIT 5""".stripMargin))),

    // AnalyzingInfixSuggester surface: containment completion
    "suggest_infix_topk" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      graft.exec.Suggest.completeInfix(index, "ar", 5,
        grams = Some(Corpus.getInfixGrams(spark, dir)))
    }, Some(
      s"""WITH $tokCte,
         |w AS (SELECT term, CAST(count(*) AS BIGINT) AS weight FROM tok
         |      WHERE term LIKE '%ar%' GROUP BY term)
         |SELECT term, weight FROM w ORDER BY weight DESC, term LIMIT 5""".stripMargin))),

    // FuzzySuggester surface: a term completes 'sta' if some prefix of it
    // is within 1 edit (first char exact) — 'stream', 'scan', 'small',
    // 'spark' all qualify on the fixture vocabulary
    "suggest_fuzzy_topk" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      graft.exec.Suggest.completeFuzzy(index, "sta", 5)
    }, Some(
      s"""WITH $tokCte,
         |c AS (SELECT term, CAST(count(*) AS BIGINT) AS weight, substr(term, 2) AS suf
         |      FROM tok WHERE substr(term, 1, 1) = 's' AND length(term) >= 3
         |      GROUP BY term)
         |SELECT term, weight FROM c
         |WHERE least(
         |    CASE WHEN length(suf) >= 1 THEN damerau_levenshtein(substr(suf, 1, 1), 'ta') ELSE 99 END,
         |    CASE WHEN length(suf) >= 2 THEN damerau_levenshtein(substr(suf, 1, 2), 'ta') ELSE 99 END,
         |    CASE WHEN length(suf) >= 3 THEN damerau_levenshtein(substr(suf, 1, 3), 'ta') ELSE 99 END) <= 1
         |ORDER BY weight DESC, term LIMIT 5""".stripMargin))),

    // FreeTextSuggester surface: next token after 'merge' by stupid
    // backoff — bigram ratio from the SHINGLE index's dictionary, unigram
    // backoff (alpha 0.4) for unseen continuations
    "suggest_freetext" -> (((spark, dir) => {
      val (index, _) = Corpus.get(spark, dir)
      val (shingled, _) = Corpus.getShingled(spark, dir)
      graft.exec.Suggest.nextToken(index, shingled, "merge", 10,
        unigramTop = Some(Corpus.getTopUnigrams(spark, dir)))
    }, Some(
      s"""WITH $posCte,
         |big AS (SELECT b.term AS suggestion, count(*) AS c FROM pos a JOIN pos b
         |          ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |        WHERE a.term = 'merge' GROUP BY b.term),
         |ctx AS (SELECT count(*) AS c FROM pos WHERE term = 'merge'),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM pos),
         |uni AS (SELECT term AS suggestion, count(*) AS c FROM pos GROUP BY term),
         |sc AS (SELECT suggestion, big.c / CAST(ctx.c AS DOUBLE) AS s FROM big, ctx
         |       UNION ALL
         |       SELECT u.suggestion, u.c * 0.4 / tot.t AS s FROM uni u, tot
         |       WHERE u.suggestion NOT IN (SELECT suggestion FROM big))
         |SELECT suggestion, floor(s * 10000 + 0.5)/10000 AS score
         |FROM sc ORDER BY score DESC, suggestion LIMIT 10""".stripMargin))),

    // UnifiedHighlighter surface: best passage (8-token windows,
    // PassageScorer formula k1=1.2 b=0.75 pivot=87) for the top-5 hits of
    // `merge OR stream` — highlighting runs per HIT, never per corpus row
    "highlight_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      val terms = Set("merge", "stream")
      val hits = topRoundedHits(index, graft.query.BoolQ(
        should = Seq(graft.query.TermQ("merge"), graft.query.TermQ("stream"))), 5)
      val ranked = hits.zipWithIndex.map { case ((d, _), i) => (d, (i + 1).toLong) }
      spark.createDataset(ranked.toSeq).toDF("docId", "rank")
        .join(mapping, "docId")
        .join(spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text"), "doc_id")
        .select($"doc_id", $"rank", $"text").as[(Long, Long, String)]
        .map { case (id, rank, text) =>
          val p = graft.exec.Highlighter.bestPassage(text, Set("merge", "stream")).get
          (id, rank, p.idx.toLong, p.score, p.snippet)
        }.toDF("doc_id", "rank", "passage", "pscore", "snippet")
        .orderBy($"rank")
    }, Some(
      s"""WITH $tokCte, $posCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |bm AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id),
         |top AS (SELECT doc_id, rank FROM (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY floor((s)*10000+0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |  FROM bm) WHERE rank <= 5),
         |pt AS (SELECT doc_id, term, p,
         |         coalesce(sum(length(term)+1) OVER (PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st2,
         |         CAST(floor((p-1)/8) AS INT) AS w
         |       FROM pos WHERE doc_id IN (SELECT doc_id FROM top)),
         |cl AS (SELECT doc_id, sum(length(term)+1) - 1 AS clen FROM pos
         |       WHERE doc_id IN (SELECT doc_id FROM top) GROUP BY doc_id),
         |pw AS (SELECT doc_id, w, min(st2) AS pstart,
         |              max(st2 + length(term)) - min(st2) AS plen
         |       FROM pt GROUP BY doc_id, w),
         |ttfd AS (SELECT doc_id, term, count(*) AS ttf FROM pt
         |         WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |mf AS (SELECT doc_id, w, term, count(*) AS f FROM pt
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, w, term),
         |ps AS (SELECT mf.doc_id, mf.w,
         |         (1 + 1/ln(87 + pw.pstart)) *
         |         sum( (mf.f / (mf.f + 1.2*((1 - 0.75) + 0.75*pw.plen/87.0))) *
         |              ((1.2 + 1) * ln(1 + ((1 + cl.clen/87.0) + 0.5)/(ttfd.ttf + 0.5))) ) AS s
         |       FROM mf JOIN pw ON mf.doc_id = pw.doc_id AND mf.w = pw.w
         |            JOIN cl ON mf.doc_id = cl.doc_id
         |            JOIN ttfd ON mf.doc_id = ttfd.doc_id AND mf.term = ttfd.term
         |       GROUP BY mf.doc_id, mf.w, pw.pstart),
         |bp AS (SELECT doc_id, w, pscore FROM (
         |  SELECT doc_id, w, floor(s*10000+0.5)/10000 AS pscore,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY floor(s*10000+0.5)/10000 DESC, w) AS rn FROM ps) WHERE rn = 1),
         |snip AS (SELECT doc_id, w, string_agg(term, ' ' ORDER BY p) AS snippet
         |         FROM pt GROUP BY doc_id, w)
         |SELECT top.doc_id, top.rank, CAST(bp.w AS BIGINT) AS passage, bp.pscore, snip.snippet
         |FROM top JOIN bp ON top.doc_id = bp.doc_id
         |     JOIN snip ON bp.doc_id = snip.doc_id AND bp.w = snip.w
         |ORDER BY top.rank""".stripMargin))),

    // ranked MULTI-passage highlighting (FieldHighlighter's passage
    // queue returns the best N, not one): top-3 hits of `merge OR
    // stream`, top-3 passages per hit — rounded score desc, window asc
    "highlight_passages" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      val hits = topRoundedHits(index, graft.query.BoolQ(
        should = Seq(graft.query.TermQ("merge"), graft.query.TermQ("stream"))), 3)
      val ranked = hits.zipWithIndex.map { case ((d, _), i) => (d, (i + 1).toLong) }
      spark.createDataset(ranked.toSeq).toDF("docId", "rank")
        .join(mapping, "docId")
        .join(spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text"), "doc_id")
        .select($"doc_id", $"rank", $"text").as[(Long, Long, String)]
        .flatMap { case (id, rank, text) =>
          graft.exec.Highlighter.topPassages(text, Set("merge", "stream"), 3)
            .zipWithIndex.map { case (p, pi) =>
              (id, rank, (pi + 1).toLong, p.idx.toLong, p.score, p.snippet)
            }
        }.toDF("doc_id", "rank", "prank", "passage", "pscore", "snippet")
        .orderBy($"rank", $"prank")
    }, Some(
      s"""WITH $tokCte, $posCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |bm AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id),
         |top AS (SELECT doc_id, rank FROM (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY floor((s)*10000+0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |  FROM bm) WHERE rank <= 3),
         |pt AS (SELECT doc_id, term, p,
         |         coalesce(sum(length(term)+1) OVER (PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st2,
         |         CAST(floor((p-1)/8) AS INT) AS w
         |       FROM pos WHERE doc_id IN (SELECT doc_id FROM top)),
         |cl AS (SELECT doc_id, sum(length(term)+1) - 1 AS clen FROM pos
         |       WHERE doc_id IN (SELECT doc_id FROM top) GROUP BY doc_id),
         |pw AS (SELECT doc_id, w, min(st2) AS pstart,
         |              max(st2 + length(term)) - min(st2) AS plen
         |       FROM pt GROUP BY doc_id, w),
         |ttfd AS (SELECT doc_id, term, count(*) AS ttf FROM pt
         |         WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |mf AS (SELECT doc_id, w, term, count(*) AS f FROM pt
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, w, term),
         |ps AS (SELECT mf.doc_id, mf.w,
         |         (1 + 1/ln(87 + pw.pstart)) *
         |         sum( (mf.f / (mf.f + 1.2*((1 - 0.75) + 0.75*pw.plen/87.0))) *
         |              ((1.2 + 1) * ln(1 + ((1 + cl.clen/87.0) + 0.5)/(ttfd.ttf + 0.5))) ) AS s
         |       FROM mf JOIN pw ON mf.doc_id = pw.doc_id AND mf.w = pw.w
         |            JOIN cl ON mf.doc_id = cl.doc_id
         |            JOIN ttfd ON mf.doc_id = ttfd.doc_id AND mf.term = ttfd.term
         |       GROUP BY mf.doc_id, mf.w, pw.pstart),
         |bp AS (SELECT doc_id, w, pscore, rn FROM (
         |  SELECT doc_id, w, floor(s*10000+0.5)/10000 AS pscore,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY floor(s*10000+0.5)/10000 DESC, w) AS rn FROM ps) WHERE rn <= 3),
         |snip AS (SELECT doc_id, w, string_agg(term, ' ' ORDER BY p) AS snippet
         |         FROM pt GROUP BY doc_id, w)
         |SELECT top.doc_id, top.rank, CAST(bp.rn AS BIGINT) AS prank,
         |       CAST(bp.w AS BIGINT) AS passage, bp.pscore, snip.snippet
         |FROM top JOIN bp ON top.doc_id = bp.doc_id
         |     JOIN snip ON bp.doc_id = snip.doc_id AND bp.w = snip.w
         |ORDER BY top.rank, prank""".stripMargin))),

    // PayloadScoreQuery analogue over the payload-lane variant index
    // (`queries/.../payloads/PayloadScoreQuery.java` + SumPayloadFunction,
    // includeSpanScore=false): per-occurrence float payload = token
    // length (lenpayload filter), score(doc) = sum of payloads at the
    // queried terms' positions
    "ft_payload_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.getLenPayload(spark, dir)
      graft.exec.PayloadScore.topK(index, Seq("stream", "scan", "spark"), "sum", 10)
        .join(mapping, "docId")
        .select($"doc_id", r4($"score").as("score"))
        .orderBy(desc("score"), asc("doc_id"))
    }, Some(
      s"""WITH $tokCte,
         |m AS (SELECT doc_id, CAST(sum(length(term)) AS DOUBLE) AS s FROM tok
         |      WHERE term IN ('stream', 'scan', 'spark') GROUP BY doc_id)
         |SELECT doc_id, floor(s * 10000 + 0.5)/10000 AS score
         |FROM m ORDER BY score DESC, doc_id LIMIT 10""".stripMargin))),

    // LatLonPoint.newBoxQuery (core/document/LatLonPoint.java:220):
    // inclusive bounding-box filter over deterministic per-doc
    // coordinates (derived from doc_id by integer arithmetic, so both
    // engines compute bit-identical doubles). At scale lat/lon are
    // parquet sort columns and these comparisons prune row groups —
    // the BKD-tree analogue.
    "geo_box_filter" -> (((spark, dir) => {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("lat", expr("(doc_id * 7919 % 18000) / 100e0 - 90e0"))
        .withColumn("lon", expr("(doc_id * 104729 % 36000) / 100e0 - 180e0"))
      graft.exec.Geo.boxFilter(docs, $"lat", $"lon", 10d, 40d, -20d, 30d)
        .select($"doc_id", $"lat", $"lon")
        .orderBy($"doc_id").limit(20)
    }, Some(
      s"""WITH g AS (SELECT doc_id,
         |  (doc_id * 7919 % 18000) / 100e0 - 90e0 AS lat,
         |  (doc_id * 104729 % 36000) / 100e0 - 180e0 AS lon FROM documents)
         |SELECT doc_id, lat, lon FROM g
         |WHERE lat >= 10 AND lat <= 40 AND lon >= -20 AND lon <= 30
         |ORDER BY doc_id LIMIT 20""".stripMargin))),

    // LatLonPoint.newDistanceQuery / distance sort (nearest-k): whole-
    // meter-rounded haversine on the reference's mean earth radius
    // (SloppyMath TO_METERS) — ranking on rounded meters + doc_id makes
    // the cutoff reproducible across engines (libm 1-ulp differences
    // are absorbed by the rounding)
    "geo_distance_topk" -> (((spark, dir) => {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("lat", expr("(doc_id * 7919 % 18000) / 100e0 - 90e0"))
        .withColumn("lon", expr("(doc_id * 104729 % 36000) / 100e0 - 180e0"))
      graft.exec.Geo.nearestK(docs, $"lat", $"lon", $"doc_id", 48.8566, 2.3522, 10)
        .withColumnRenamed("key", "doc_id")
    }, Some(
      s"""WITH g AS (SELECT doc_id,
         |  (doc_id * 7919 % 18000) / 100e0 - 90e0 AS lat,
         |  (doc_id * 104729 % 36000) / 100e0 - 180e0 AS lon FROM documents),
         |d AS (SELECT doc_id, CAST(floor(2 * 6371008.7714 * asin(sqrt(
         |  sin(radians(lat - 48.8566)/2) * sin(radians(lat - 48.8566)/2)
         |  + cos(radians(48.8566)) * cos(radians(lat)) *
         |    sin(radians(lon - 2.3522)/2) * sin(radians(lon - 2.3522)/2))) + 0.5)
         |  AS BIGINT) AS meters FROM g)
         |SELECT doc_id, meters FROM d ORDER BY meters, doc_id LIMIT 10""".stripMargin))),

    // expressions-module analogue: second-pass rescoring by a USER
    // EXPRESSION STRING compiled by Catalyst (`expressions/.../js/
    // JavascriptCompiler.java` compiles to bytecode; Spark's expr()
    // compiles to codegen'd Java) over a doc-values column (n_chars)
    "expr_rescore_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      val first = topRoundedHits(index, graft.query.TermQ("merge"), 100)
      spark.createDataset(first.toSeq).toDF("docId", "s")
        .join(mapping, "docId")
        .join(spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"n_chars"), "doc_id")
        .withColumn("score", r4(expr("s + 0.1*ln(1 + n_chars)")))
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .filter($"rank" <= 10)
        .select($"doc_id", $"score", $"rank")
        .orderBy($"rank")
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf1 AS (SELECT doc_id, count(*) AS tf FROM tok WHERE term = 'merge' GROUP BY doc_id),
         |df1 AS (SELECT count(*) AS df FROM tf1),
         |s1 AS (SELECT tf1.doc_id,
         |         floor((ln(1 + (st.n - df1.df + 0.5)/(df1.df + 0.5))
         |          - ln(1 + (st.n - df1.df + 0.5)/(df1.df + 0.5))
         |            /(1 + tf1.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) * 10000 + 0.5)/10000 AS s
         |       FROM tf1 JOIN qd ON tf1.doc_id = qd.doc_id, st, df1),
         |first AS (SELECT doc_id, s FROM (
         |   SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM s1) WHERE rn <= 100)
         |SELECT doc_id, score, rank FROM (
         |  SELECT f.doc_id, floor((f.s + 0.1*ln(1 + d.n_chars)) * 10000 + 0.5)/10000 AS score,
         |         CAST(row_number() OVER (ORDER BY floor((f.s + 0.1*ln(1 + d.n_chars)) * 10000 + 0.5)/10000 DESC, f.doc_id) AS BIGINT) AS rank
         |  FROM first f JOIN documents d ON f.doc_id = d.doc_id)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin))),

    // BooleanSimilarity (core/search/similarities/BooleanSimilarity.java):
    // every matched clause scores its boost — a 3-term SHOULD ranks docs
    // by matched-term COUNT, the matched-set semantics
    "ft_boolean_sim_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(should = Seq(
          graft.query.TermQ("merge"), graft.query.TermQ("stream"),
          graft.query.TermQ("vector"))), 10,
        sim = graft.exec.BooleanSim)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |sc AS (SELECT doc_id, CAST(count(DISTINCT term) AS DOUBLE) AS s FROM tok
         |       WHERE term IN ('merge', 'stream', 'vector') GROUP BY doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // LMDirichletSimilarity (core/search/similarities/LMDirichletSimilarity
    // .java:68-76, mu=2000): per-term ln(1 + tf/(mu*P)) + ln(mu/(dl+mu))
    // clamped at 0, P = (ttf+1)/(sumTTF+1), dl = the byte-quantised
    // decoded length — third member of the similarity SPI family
    "ft_lmdirichlet_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(should = Seq(
          graft.query.TermQ("merge"), graft.query.TermQ("stream"))), 10,
        sim = graft.exec.LMDirichletSim)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |tt AS (SELECT term, CAST(count(*) AS BIGINT) AS ttf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |         sum(greatest(0.0,
         |           ln(1 + tf.tf / (2000.0 * ((tt.ttf + 1.0)/(st.sttf + 1.0))))
         |           + ln(2000.0 / (qd.qlen + 2000.0)))) AS s
         |       FROM tf JOIN tt ON tf.term = tt.term
         |            JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // LMJelinekMercerSimilarity (LMJelinekMercerSimilarity.java:68-74,
    // Zhai & Lafferty linear interpolation, lambda = 0.1): the sixth
    // similarity family through the SPI — same collection model as
    // LMDirichlet, score = ln(1 + ((1-l)*tf/dl)/(l*P(t|C)))
    "ft_lmjm_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(should = Seq(
          graft.query.TermQ("merge"), graft.query.TermQ("stream"))), 10,
        sim = graft.exec.LMJelinekMercerSim.Default)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |tt AS (SELECT term, CAST(count(*) AS BIGINT) AS ttf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |         sum(ln(1 + ((1 - 0.1e0) * tf.tf / qd.qlen)
         |                    / (0.1e0 * ((tt.ttf + 1.0)/(st.sttf + 1.0))))) AS s
         |       FROM tf JOIN tt ON tf.term = tt.term
         |            JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // DiversifiedTopDocsCollector (misc/.../search/
    // DiversifiedTopDocsCollector.java): global top-k where each KEY may
    // contribute at most maxHitsPerKey hits (here: <= 2 per lang for the
    // `merge` BM25 ranking). Distributed shape: score all matches, ONE
    // per-key window (partial WindowGroupLimit map-side), then the
    // global top-k — never a per-key driver loop.
    "ft_diversified_topk" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      // all matches stay a DataFrame end-to-end (no driver collect, no
      // match cap, no intermediate global top-N: scoredMatches feeds the
      // per-key window directly, whose map-side WindowGroupLimit bounds
      // each partition to 2 rows per lang before the tiny global rank);
      // diversity + final rank both rank on ROUNDED scores like the oracle
      graft.exec.Searcher.scoredMatches(index, graft.query.TermQ("merge"),
          doubleMode = true)
        .select($"docId", r4($"score").as("score"))
        .join(mapping, "docId")
        .join(spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"lang"), "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"lang").orderBy(desc("score"), asc("doc_id"))))
        .filter($"rn" <= 2)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .filter($"rank" <= 10)
        .select($"doc_id", $"lang", $"score", $"rank")
        .orderBy($"rank")
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term = 'merge' GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |sc AS (SELECT tf.doc_id,
         |              sum(idf.idf - idf.idf/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id),
         |rs AS (SELECT sc.doc_id, d.lang,
         |              floor((s) * 10000 + 0.5)/10000 AS score
         |       FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         |dv AS (SELECT doc_id, lang, score,
         |              row_number() OVER (PARTITION BY lang
         |                ORDER BY score DESC, doc_id) AS rn FROM rs)
         |SELECT doc_id, lang, score,
         |       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |FROM dv WHERE rn <= 2 ORDER BY rank LIMIT 10""".stripMargin))),

    // DFR InL2 (DFRSimilarity.java with BasicModelIn + AfterEffectL +
    // NormalizationH2 c=1, Amati & van Rijsbergen): the sixth similarity
    // family — score = log2((N+1)/(df+0.5)) * (1 - 1/(1 + tfn)),
    // tfn = tf * log2(1 + avgdl/dl)
    "ft_dfr_topk" -> (((spark, dir) => {
      ftScoredQ(graft.query.BoolQ(should = Seq(
          graft.query.TermQ("merge"), graft.query.TermQ("stream"))), 10,
        sim = graft.exec.DfrInL2Sim.Default)(spark, dir)
    }, Some(
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('merge', 'stream') GROUP BY doc_id, term),
         |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |         sum( (ln((st.n + 1) / (dfc.df + 0.5e0)) / ln(2)) *
         |              (1 - 1/(1 + tf.tf * (ln(1 + (st.sttf / st.n) / qd.qlen) / ln(2)))) ) AS s
         |       FROM tf JOIN dfc ON tf.term = dfc.term
         |            JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, floor((s) * 10000 + 0.5)/10000 AS score,
         |       CAST(row_number() OVER (ORDER BY floor((s) * 10000 + 0.5)/10000 DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT 10""".stripMargin))),

    // k-NN classifier (classification/.../KNearestNeighborClassifier.java:
    // 156-193, 199-246): boosted-MLT top-k per input doc, classes voted
    // score(c) = sum_{hits of c}(score/maxScore) / min(k, hits) — the
    // reference's count*normBoost/k with its sumdoc<k correction folded
    // (count cancels; hits <= k always). Rounded scores end-to-end.
    "classify_knn" -> (((spark, dir) => {
      import spark.implicits._
      val (index, mapping) = Corpus.get(spark, dir)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val tests = docs.filter($"doc_id" < 5).select($"doc_id", $"text")
        .as[(Long, String)].collect().sortBy(_._1)
      // corpus-scale labeling shape: ONE stats job forms all N MLT
      // queries, ONE batch kernel pass scores them (not N sequential
      // searches) — identical per-doc results proven in KnnBatchSpec
      val batchQs = graft.exec.MoreLikeThis.likeQueryBoostedBatch(
        index, tests.map { case (sid, text) => (sid.toString, text) }.toSeq)
      val hitMap = topRoundedHitsBatch(index, batchQs, 10)
      val hitRows = tests.map { case (sid, _) =>
        (sid, hitMap.getOrElse(sid.toString, Array.empty[(Long, Double)]))
      }.filter(_._2.nonEmpty)
      val allIds = hitRows.flatMap(_._2.map(_._1)).distinct.toSeq
      val langOf = spark.createDataset(allIds).toDF("docId")
        .join(mapping, "docId")
        .join(docs.select($"doc_id", $"lang"), "doc_id")
        .select($"docId", $"lang").as[(Long, String)].collect().toMap
      val verdicts = hitRows.map { case (sid, hits) =>
        val maxs = hits.head._2
        val sumdoc = hits.length
        val byLang = hits.groupBy(h => langOf(h._1)).map { case (l, hs) =>
          (l, r4d(hs.map(_._2 / maxs).sum / sumdoc))
        }
        val (lang, s) = byLang.toSeq.sortBy { case (l, s) => (-s, l) }.head
        (sid, lang, s)
      }
      spark.createDataset(verdicts.toSeq).toDF("doc_id", "lang", "score")
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $tokCte,
         |mtf AS (SELECT doc_id AS sid, term, count(*) AS tf FROM tok WHERE doc_id < 5
         |        GROUP BY doc_id, term HAVING count(*) >= 2),
         |mdf AS (SELECT t.term, count(DISTINCT t.doc_id) AS df FROM tok t
         |        WHERE t.term IN (SELECT DISTINCT term FROM mtf) GROUP BY t.term),
         |mn AS (SELECT count(*) AS n FROM documents),
         |mcand AS (SELECT m.sid, m.term, m.tf * (ln((mn.n + 1.0)/(d.df + 1.0)) + 1.0) AS msc
         |          FROM mtf m JOIN mdf d ON m.term = d.term, mn WHERE d.df >= 5),
         |msel AS (SELECT sid, term, msc FROM (SELECT sid, term, msc,
         |           row_number() OVER (PARTITION BY sid ORDER BY floor(msc*10000+0.5) DESC, term) AS rn
         |         FROM mcand) WHERE rn <= 25),
         |mbest AS (SELECT sid, max(msc) AS best FROM msel GROUP BY sid),
         |boosts AS (SELECT msel.sid, msel.term,
         |             CAST(floor(msel.msc/mbest.best*10000+0.5)/10000 AS FLOAT) AS boost
         |           FROM msel JOIN mbest ON msel.sid = mbest.sid),
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              CAST((SELECT count(*) FROM tok) AS DOUBLE) AS sttf),
         |qd AS (SELECT doc_id, $qlenExpr AS qlen FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN (SELECT DISTINCT term FROM boosts) GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1 + (st.n - df + 0.5)/(df + 0.5)) AS idf FROM df, st),
         |sc AS (SELECT b.sid, tf.doc_id,
         |         sum(b.boost * idf.idf
         |             - (b.boost * idf.idf)/(1 + tf.tf * (1.0/(1.2*(0.25 + 0.75*qd.qlen/(st.sttf/st.n)))))) AS s
         |       FROM tf JOIN idf ON tf.term = idf.term
         |            JOIN boosts b ON tf.term = b.term
         |            JOIN qd ON tf.doc_id = qd.doc_id, st
         |       GROUP BY b.sid, tf.doc_id),
         |topk AS (SELECT sid, doc_id, s4 FROM (
         |   SELECT sid, doc_id, floor(s*10000+0.5)/10000 AS s4,
         |          row_number() OVER (PARTITION BY sid
         |            ORDER BY floor(s*10000+0.5)/10000 DESC, doc_id) AS rn
         |   FROM sc) WHERE rn <= 10),
         |mx AS (SELECT sid, max(s4) AS maxs, count(*) AS sumdoc FROM topk GROUP BY sid),
         |vote AS (SELECT t.sid, d.lang, sum(t.s4/mx.maxs)/mx.sumdoc AS vs
         |         FROM topk t JOIN documents d ON t.doc_id = d.doc_id
         |              JOIN mx ON t.sid = mx.sid
         |         GROUP BY t.sid, d.lang, mx.sumdoc)
         |SELECT doc_id, lang, score FROM (
         |  SELECT sid AS doc_id, lang, floor(vs*10000+0.5)/10000 AS score,
         |         row_number() OVER (PARTITION BY sid
         |           ORDER BY floor(vs*10000+0.5)/10000 DESC, lang) AS rn
         |  FROM vote) WHERE rn = 1 ORDER BY doc_id""".stripMargin))),

    // classification-module analogue (SimpleNaiveBayesClassifier.java:
    // 146-152, 209-252): P(c|d) ranked by ln-prior + add-1-smoothed
    // ln-likelihood with den = avgUniqueTermsPerDoc * df(class) + N;
    // word-class hits are DOC counts (text:w AND class:c), tf-weighted
    // per input token, argmax per doc (rounded-score tie -> class asc)
    "classify_naive_bayes" -> (((spark, dir) => {
      import spark.implicits._
      val (hits, classes, avgUnique, n) = nbModel(spark, dir)
      val toks = Corpus.docTokens(spark, dir)
        .select($"doc_id", $"lang", explode($"ts").as("term"))
      val test = toks.filter($"doc_id" < 10)
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      test.crossJoin(broadcast(classes))
        .join(hits, Seq("clang", "term"), "left")
        .na.fill(0L, Seq("h"))
        .withColumn("contrib",
          $"tf" * log(($"h" + 1.0d) / (lit(avgUnique) * $"nc" + lit(n.toDouble))))
        .groupBy($"doc_id", $"clang", $"nc")
        .agg(sum($"contrib").as("ll"))
        .withColumn("score", r4(log($"nc".cast("double")) - log(lit(n.toDouble)) + $"ll"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy(desc("score"), asc("clang"))))
        .filter($"rn" === 1)
        .select($"doc_id", $"clang".as("lang"), $"score")
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $tokCte,
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY lang),
         |au AS (SELECT count(*) / CAST((SELECT n FROM nn) AS DOUBLE) AS au
         |       FROM (SELECT DISTINCT doc_id, term FROM tok)),
         |hits AS (SELECT d.lang, t.term, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS h
         |         FROM tok t JOIN documents d ON t.doc_id = d.doc_id GROUP BY d.lang, t.term),
         |test AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE doc_id < 10
         |         GROUP BY doc_id, term),
         |sc AS (SELECT test.doc_id, cls.lang,
         |         ln(cls.nc) - ln(nn.n) +
         |         sum(test.tf * ln((coalesce(hits.h, 0) + 1.0) / (au.au * cls.nc + nn.n))) AS s
         |       FROM test CROSS JOIN cls
         |       LEFT JOIN hits ON hits.lang = cls.lang AND hits.term = test.term, au, nn
         |       GROUP BY test.doc_id, cls.lang, cls.nc, au.au, nn.n)
         |SELECT doc_id, lang, score FROM (
         |  SELECT doc_id, lang, floor(s * 10000 + 0.5)/10000 AS score,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY floor(s * 10000 + 0.5)/10000 DESC, lang) AS rn
         |  FROM sc) WHERE rn = 1 ORDER BY doc_id""".stripMargin)))
  )

  val all: Map[String, (QFn, Option[String])] = fulltext ++ relational ++ pipeline ++ suggestHl

  /** Warm every one-time artifact the catalog queries share — the six
    * analyzer-variant indexes, the tokenized column, the minhash band
    * rows, and the trained IVF — returning (artifact, seconds) per step.
    * Benchmarks call this BEFORE timing queries so per-query rows
    * measure query latency, not the first-touch construction cost a
    * serving deployment pays once (VERDICT r3 #7: ft_subtoken's 3.6 s
    * was ~90% variant index build).
    */
  def prewarm(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    // a failed step reports NEGATIVE elapsed seconds: the failure would
    // otherwise silently push the artifact's construction cost back into
    // the first query row that touches it — the exact attribution error
    // the prep split exists to fix — so a contaminated run must be
    // distinguishable from the Bench JSON alone
    def step(name: String)(body: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      var ok = true
      try body catch {
        case scala.util.control.NonFatal(e) =>
          ok = false
          System.err.println(s"[prewarm] $name failed: ${e.getMessage}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) secs else -secs)
    }
    def force(ix: (graft.build.Index, DataFrame)): Unit = {
      ix._1.postings.count(); ix._1.termStats.count(); ix._2.count()
    }
    Seq(
      step("idx_std") { force(Corpus.get(spark, dir)) },
      step("idx_sub") { force(Corpus.getSubtoken(spark, dir)) },
      step("idx_all") { force(Corpus.getCombinedField(spark, dir)) },
      step("idx_stop") { force(Corpus.getStopFiltered(spark, dir)) },
      step("idx_shingle") { force(Corpus.getShingled(spark, dir)) },
      step("idx_ngram") { force(Corpus.getNgram(spark, dir)) },
      step("idx_vbyte") { force(Corpus.getVByte(spark, dir)) },
      step("idx_porter") { force(Corpus.getPorter(spark, dir)) },
      step("idx_lenpayload") { force(Corpus.getLenPayload(spark, dir)) },
      step("idx_enmin") { force(Corpus.getStemmed(spark, dir)) },
      step("idx_frmin") { force(Corpus.getFrench(spark, dir)) },
      step("idx_demin") { force(Corpus.getGerman(spark, dir)) },
      step("idx_denorm") { force(Corpus.getGermanNorm(spark, dir)) },
      step("doc_tokens") { Corpus.docTokens(spark, dir).count() },
      step("minhash_bands") { minhashBands(spark, dir).count() },
      step("simhash60") { simhash60(spark, dir).count() },
      step("ivf_train") { ivfTrained(spark, dir)._2.count() },
      step("nb_model") { nbModel(spark, dir)._1.count() },
      step("infix_grams") { Corpus.getInfixGrams(spark, dir).count() },
      step("unigram_top") { Corpus.getTopUnigrams(spark, dir).count() }
    )
  }
}
