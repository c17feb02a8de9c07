package graft.exec

import graft.build.Index
import graft.model._
import graft.query._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Query planner + distributed top-k executor.
  *
  * Mirrors the reference search lifecycle (SURVEY.md §3.2): rewrite the
  * ADT to fixpoint -> expand multi-term (prefix/wildcard/regexp/fuzzy)
  * queries against the term dictionary
  * (`core/search/MultiTermQuery.java:86-153`, clause cap
  * `IndexSearcher.java:873`) -> gather term + collection statistics once
  * and broadcast them with the query (Lucene's `createWeight`,
  * `core/search/TermQuery.java:44`) -> per-segment kernel emits a local
  * top-k (per-leaf bulk scorer) -> global reduce in
  * (score desc, docId asc) order (`TopDocs.merge` with the HitQueue
  * tie-break).
  *
  * Every executor body reads one per-segment (seg, term -> postings) RDD
  * ([[segmentMaps]]). A serving index (`IndexBuilder.open(serving =
  * true)`) keeps these maps resident, already concatenated per term (the
  * `SegmentReader` opened once); a query looks its terms up there and
  * plans no Catalyst query for its kernel pass. Plain opens and
  * in-memory indexes scan the postings with the query's terms pushed
  * down and group the rows by segment.
  *
  * [[topKQ]] runs its one job when called and merges the at most k rows
  * per segment on the driver (`IndexSearcher.search`): the returned
  * DataFrame is local. [[topKBatch]] does the same for many queries in
  * one job. Unbounded results ([[scoredMatches]], [[collectQ]],
  * [[matchingDocs]], [[docsBatch]]) stay lazy and distributed.
  *
  * Scale: the only data movement is (a) the postings of the query's terms
  * (partition-pruned, predicate-pushed scan on the sorted `term` column,
  * or none on a serving index), (b) k rows per segment for the final
  * merge (or ONE count per segment on the count path). Executor work per
  * segment is bounded by that segment's posting sizes; WAND/block-max
  * pruning skips non-competitive blocks without decoding them.
  */
object Searcher {

  /** Plan-time scorer table shipped to executors. */
  final case class Scorers(
      term: Map[String, Kernel.AnyScorer],
      phrase: Map[Seq[String], Kernel.AnyScorer],
      synonym: Map[Seq[String], Kernel.AnyScorer],
      boosted: Map[BoostTermQ, Kernel.AnyScorer],
      combined: Map[CombinedFieldQ, Kernel.AnyScorer] = Map.empty,
      interval: Map[IntervalQ, Kernel.AnyScorer] = Map.empty
  ) extends Serializable

  /** Dictionary view for expansions, scoped to ONE field's namespace:
    * an unprefixed pattern sees only content terms ('#' keyword and '@'
    * field/norms pseudo-terms excluded); a `@F:`-anchored pattern is
    * already restricted by its own literal prefix.
    */
  private[graft] def dict(index: Index, nsAnchored: Boolean) = {
    import index.postings.sparkSession.implicits._
    val d = index.termStats
      .filter(!$"term".startsWith(graft.build.IndexBuilder.KeywordPrefix))
    if (nsAnchored) d
    else d.filter(!$"term".startsWith(graft.build.IndexBuilder.FieldPrefix))
  }

  /** Expand prefixes against the term dictionary (bounded). The global
    * term-stats table IS the term dictionary (one row per term) — far
    * cheaper to scan than per-segment postings, range-prunable on the
    * sorted term column.
    */
  def expandPrefix(index: Index, prefix: String): Seq[String] =
    cachedExpansion(index, "pre:" + prefix) {
      import index.postings.sparkSession.implicits._
      dict(index, prefix.startsWith("@"))
        .filter($"term" >= prefix && $"term".startsWith(prefix))
        .select($"term")
        .orderBy($"term")
        .limit(Query.MaxClauseCount + 1) // probe one past the cap: size > cap = overflow
        .as[String].collect().toSeq
    }

  /** Per-index rewrite cache (immutable snapshot, see Index.expansionCache). */
  private def cachedExpansion(index: Index, key0: String)(body: => Seq[String]): Seq[String] = {
    val key = Query.MaxClauseCount + ":" + key0 // cap is settable; key per cap
    val c = index.expansionCache
    val hit = c.get(key)
    if (hit != null) hit
    else {
      val v = body
      c.put(key, v) // LRU-bounded (Index.expansionCache)
      v
    }
  }

  /** Literal prefix of a wildcard pattern (chars before the first
    * metachar) — used to range-prune the dictionary scan like the
    * reference's automaton/dictionary intersection
    * (`core/codecs/lucene103/blocktree/IntersectTermsEnum.java`).
    */
  private def wildcardLiteralPrefix(pattern: String): String =
    pattern.takeWhile(c => c != '*' && c != '?')

  /** Wildcard -> anchored regex (only `*` and `?` are meta; everything
    * else is literal) — `core/search/WildcardQuery.java:38,63-76`.
    */
  def wildcardRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case c if "\\.[]{}()<>+-=!^$|".indexOf(c) >= 0 => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString
  }

  /** Expand a general wildcard against the sorted term dictionary:
    * range-prune by the literal prefix, then a codegen'd `rlike` plays
    * the automaton's role (`core/search/WildcardQuery.java:38`).
    */
  def expandWildcard(index: Index, pattern: String): Seq[String] =
      cachedExpansion(index, "wc:" + pattern) {
    import index.postings.sparkSession.implicits._
    val pre = wildcardLiteralPrefix(pattern)
    val d = dict(index, pattern.startsWith("@"))
    val base =
      if (pre.isEmpty) d
      else d.filter($"term" >= pre && $"term".startsWith(pre))
    base.filter($"term".rlike(wildcardRegex(pattern)))
      .select($"term").orderBy($"term")
      .limit(Query.MaxClauseCount + 1)
      .as[String].collect().toSeq
  }

  /** Regexp expansion — `core/search/RegexpQuery.java:44`. The pattern is
    * implicitly anchored (whole-term match), like the reference.
    */
  def expandRegexp(index: Index, pattern: String): Seq[String] =
    cachedExpansion(index, "re:" + pattern) {
      import index.postings.sparkSession.implicits._
      dict(index, pattern.startsWith("@"))
        .filter($"term".rlike(s"^(?:$pattern)$$"))
        .select($"term").orderBy($"term")
        .limit(Query.MaxClauseCount + 1)
        .as[String].collect().toSeq
    }

  /** Fuzzy candidate scan (pre-collect): length-windowed, RANGE-PRUNED
    * dictionary scan + Damerau UDF verification + distributed top-N.
    * Exposed for plan audits (`Cli explain`).
    *
    * Range pruning (the IntersectTermsEnum analogue,
    * `core/codecs/lucene103/blocktree/IntersectTermsEnum.java`: walk only
    * trie prefixes the automaton can accept): the first-transition band —
    * in any <= e-edit alignment one of the candidate's first e+1 chars
    * must be one of the query's first e+1 chars, unless the candidate is
    * no longer than e — is evaluated driver-side against the dictionary's
    * DISTINCT (e+1)-char prefix table (cached per index; bounded by
    * |alphabet|^(e+1), NOT by vocabulary size), and the selected prefixes
    * collapse into contiguous `term BETWEEN` runs PUSHED to the scan. A
    * cold fuzzy query therefore reads O(matching prefix ranges) of the
    * dictionary, not O(vocab); the UDF still decides membership, so
    * results are unchanged.
    */
  private[graft] def fuzzyCandidates(index: Index, f: FuzzyQ): DataFrame = {
    import index.postings.sparkSession.implicits._
    // fielded fuzzy (`@F:base`): candidates come from the field's
    // namespace; distance/boost are computed on the bare tokens
    val ns =
      if (f.term.startsWith("@")) f.term.substring(0, f.term.indexOf(':') + 1) else ""
    val t = f.term.substring(ns.length)
    val nsLen = ns.length
    val maxEdits = f.maxEdits
    // edit distance + the reference's FLOAT similarity boost
    // (`FuzzyTermsEnum.java:251-258`) computed executor-side so the top-N
    // selection can run distributed
    val osa = udf { (cand0: String) =>
      val cand = cand0.substring(nsLen)
      val ed = graft.util.EditDistance.osa(cand, t, maxEdits)
      val boost =
        if (ed == 0) 1f
        else 1f - ed.toFloat / math.min(cand.length, t.length).toFloat
      (ed, boost)
    }
    // BOUNDED selection: top maxExpansions by (float boost desc, term asc)
    // — the reference's ScoreTerm.compareTo order (TopTermsRewrite.java:200)
    // — via orderBy+limit (TakeOrderedAndProject: per-partition partial
    // top-N, tiny driver merge). On a 10^9-term dictionary the driver
    // receives at most maxExpansions rows, never the full candidate set.
    val lim = math.min(f.maxExpansions, Query.MaxClauseCount)
    val base0 = dict(index, ns.nonEmpty)
    val base = if (ns.isEmpty) base0 else base0.filter($"term".startsWith(ns))
    val tchars = t.take(maxEdits + 1).toSet
    val banded: org.apache.spark.sql.Column =
      if (t.length <= maxEdits) lit(true) // every windowed term qualifies
      else {
        // dictionary prefix table: distinct (ns + e + 1)-char prefixes,
        // sorted — ONE cached scan whose result size is alphabet-bounded
        val plen = nsLen + maxEdits + 1
        val prefixes = cachedExpansion(index, s"fzp:$ns:$plen") {
          base.select(substring($"term", 1, plen).as("term"))
            .distinct().orderBy($"term").as[String].collect().toSeq
        }
        def selected(p: String): Boolean = {
          val pb = p.substring(math.min(nsLen, p.length))
          pb.length <= maxEdits ||
            (0 to math.min(maxEdits, pb.length - 1)).exists(k => tchars.contains(pb.charAt(k)))
        }
        // collapse selected prefixes into maximal contiguous runs of the
        // sorted prefix table -> a small OR of pushable term ranges
        val runs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var i = 0
        while (i < prefixes.length) {
          if (selected(prefixes(i))) {
            var j = i
            while (j + 1 < prefixes.length && selected(prefixes(j + 1))) j += 1
            runs += ((prefixes(i), prefixes(j) + "\uffff"))
            i = j + 1
          } else i += 1
        }
        if (runs.isEmpty) lit(false)
        else runs.map { case (lo, hi) => $"term" >= lo && $"term" <= hi }.reduce(_ || _)
      }
    base
      .filter(length($"term") >= length(lit(f.term)) - maxEdits &&
        length($"term") <= length(lit(f.term)) + maxEdits)
      .filter(banded)
      .withColumn("eb", osa($"term"))
      .filter($"eb._1" <= maxEdits)
      .select($"term", $"df", $"eb._1".as("ed"), $"eb._2".as("boost"))
      .orderBy(desc("boost"), asc("term"))
      .limit(lim)
  }

  /** Fuzzy expansion with the reference's default semantics
    * (`core/search/FuzzyQuery.java:34,60` TopTermsBlendedFreqScoringRewrite):
    * dictionary terms within `maxEdits` Damerau-Levenshtein
    * (transpositions count 1, `FuzzyQuery` `transpositions=true` default),
    * boost = 1 - ed/min(|term|,|query|) (`FuzzyTermsEnum.java:251-258`),
    * top `maxExpansions` by (boost desc, term asc)
    * (`TopTermsRewrite.ScoreTerm.compareTo`), scored with blended
    * df = max over picked terms (`BlendedTermQuery.java:282-291`).
    * Returns the rewritten disjunction.
    */
  def expandFuzzyBlended(index: Index, f: FuzzyQ): Query = {
    import index.postings.sparkSession.implicits._
    val ns =
      if (f.term.startsWith("@")) f.term.substring(0, f.term.indexOf(':') + 1) else ""
    val t = f.term.substring(ns.length)
    val nsLen = ns.length
    val top0 = fuzzyCandidates(index, f)
      .as[(String, Long, Int, Float)].collect()
    if (top0.isEmpty) return MatchNone
    val top = top0.map { case (term, df, ed, boost) =>
      val boostD =
        if (ed == 0) 1d
        else 1d - ed.toDouble / math.min(term.length - nsLen, t.length).toDouble
      (term, df, boost, boostD)
    }
    val dfBlended = top.map(_._2).max
    BoolQ(should = top.toSeq.sortBy(_._1).map { case (term, _, boost, boostD) =>
      BoostTermQ(term, boost, dfBlended, boostD)
    }, minShouldMatch = 1)
  }

  /** Lexicographic range expansion (`core/search/TermRangeQuery.java:37`);
    * sorted term column gives parquet min/max pruning for free.
    */
  def expandRange(index: Index, lo: String, hi: String,
      incLo: Boolean = true, incHi: Boolean = true): Seq[String] =
    cachedExpansion(index, "rng:" + incLo + incHi + ":" + lo + "\u0000" + hi) {
      import index.postings.sparkSession.implicits._
      dict(index, lo.startsWith("@"))
        .filter((if (incLo) $"term" >= lo else $"term" > lo) &&
          (if (incHi) $"term" <= hi else $"term" < hi))
        .select($"term").orderBy($"term")
        .limit(Query.MaxClauseCount + 1)
        .as[String].collect().toSeq
    }

  /** Cache-backed term stats lookup (df=0 cache rows mark known misses,
    * filtered out of the result).
    */
  private def lookupStats(index: Index, wanted: Seq[String]): Map[String, TermStats] = {
    import index.postings.sparkSession.implicits._
    val cache = index.termStatsCache
    val need = wanted.filterNot(cache.containsKey)
    if (need.nonEmpty) {
      val found = index.termStats.filter($"term".isin(need: _*)).as[TermStats]
        .collect().map(t => t.term -> t).toMap
      need.foreach(t => cache.put(t, found.getOrElse(t, TermStats(t, 0L, 0L))))
    }
    wanted.map(t => t -> cache.get(t)).filter(_._2.df > 0L).toMap
  }

  /** Standalone BlendedTermQuery rewrite
    * (`core/search/BlendedTermQuery.java:270-300` + the default
    * DisjunctionMaxRewrite(0.01f), `:152-170`): every term scored with the
    * group's MAX df, combined as DisMax with tieBreak 0.01f.
    */
  def rewriteBlended(index: Index, b: BlendedTermQ): Query = {
    val st = lookupStats(index, b.terms)
    val dfMax = (0L +: b.terms.map(t => st.get(t).map(_.df).getOrElse(0L))).max
    if (dfMax <= 0L) MatchNone
    else DisMaxQ(b.terms.zipWithIndex.map { case (t, i) =>
      val boost = if (b.boosts.isDefinedAt(i)) b.boosts(i) else 1f
      BoostTermQ(t, boost, dfMax)
    }, 0.01f.toDouble)
  }

  /** The wide (constant-score) form of a multi-term query — see
    * [[graft.query.WideTermSetQ]].
    */
  private def wideOf(q: Query): WideTermSetQ = q match {
    case PrefixQ(p) => WideTermSetQ("prefix", p)
    case WildcardQ(p) => WideTermSetQ("wildcard", p)
    case RegexpQ(p) => WideTermSetQ("regexp", p)
    case TermRangeQ(lo, hi, il, ih) =>
      WideTermSetQ("range", lo, hi, (if (il) "[" else "{") + (if (ih) "]" else "}"))
    case other => throw new IllegalArgumentException(other.toString)
  }

  private def patternOf(q: Query): String = q match {
    case PrefixQ(p) => p + "*"
    case WildcardQ(p) => p
    case RegexpQ(p) => p
    case TermRangeQ(lo, hi, il, ih) =>
      s"${if (il) "[" else "{"}$lo TO $hi${if (ih) "]" else "}"}"
    case other => other.toString
  }

  /** Substitute expansion results into the tree. `nonScoring` marks
    * constant-score contexts (ConstScoreQ inner, FILTER / MUST_NOT
    * clauses, or a count/docs execution): there an over-cap expansion
    * degrades to the executor-side [[WideTermSetQ]] constant-score match
    * (reference CONSTANT_SCORE_REWRITE, never throws, never truncates).
    * In a SCORING position the behavior follows [[Query.MultiTermRewrite]]:
    * the default blended mode wraps the wide match in a boost-1
    * ConstScore — the reference's default CONSTANT_SCORE_BLENDED_REWRITE
    * falling back to its bitset path (`core/search/MultiTermQuery.java:103,133`)
    * — while the explicit scoring-boolean mode throws
    * [[Query.TooManyClauses]] (`core/search/IndexSearcher.java:873,891`).
    */
  private def substituteExpansions(
      q: Query,
      exp: Map[Query, Seq[String]],
      fuzzyExp: Map[Query, Query],
      nonScoring: Boolean
  ): Query = q match {
    case PrefixQ(_) | WildcardQ(_) | RegexpQ(_) | TermRangeQ(_, _, _, _) =>
      exp.getOrElse(q, Nil) match {
        case Nil => MatchNone
        case ts if ts.size > Query.MaxClauseCount =>
          if (nonScoring) wideOf(q)
          else if (Query.MultiTermRewrite == Query.ScoringBooleanRewrite)
            throw new Query.TooManyClauses(patternOf(q))
          else ConstScoreQ(wideOf(q), 1f)
        case ts => BoolQ(should = ts.map(TermQ.apply), minShouldMatch = 1)
      }
    case PhrasePrefixQ(ts, _, maxExp) =>
      // MultiPhraseQuery javadoc expansion: FIRST maxExpansions matching
      // terms in term order become the final slot's alternatives
      exp.getOrElse(q, Nil).take(maxExp) match {
        case Nil => MatchNone
        case alts => MultiPhraseQ(ts.map(Seq(_)) :+ alts)
      }
    case f: FuzzyQ => fuzzyExp.getOrElse(f, MatchNone)
    case b: BlendedTermQ => fuzzyExp.getOrElse(b, MatchNone)
    case BoolQ(m, s, n, msm, fl) =>
      BoolQ(m.map(substituteExpansions(_, exp, fuzzyExp, nonScoring)),
        s.map(substituteExpansions(_, exp, fuzzyExp, nonScoring)),
        n.map(substituteExpansions(_, exp, fuzzyExp, nonScoring = true)), msm,
        fl.map(substituteExpansions(_, exp, fuzzyExp, nonScoring = true)))
    case DisMaxQ(cs, tb) =>
      DisMaxQ(cs.map(substituteExpansions(_, exp, fuzzyExp, nonScoring)), tb)
    case ConstScoreQ(inner, b) =>
      ConstScoreQ(substituteExpansions(inner, exp, fuzzyExp, nonScoring = true), b)
    case BoostQ(inner, b) => BoostQ(substituteExpansions(inner, exp, fuzzyExp, nonScoring), b)
    case other => other
  }

  private def phrases(q: Query): Set[Seq[String]] = q match {
    case PhraseQ(ts, _) => Set(ts)
    case MultiPhraseQ(slots) => Set(slots.flatten) // idf sums over ALL alternatives
    case BoolQ(m, s, n, _, f) => (m ++ s ++ n ++ f).flatMap(phrases).toSet
    case DisMaxQ(cs, _) => cs.flatMap(phrases).toSet
    case ConstScoreQ(inner, _) => phrases(inner)
    case BoostQ(inner, _) => phrases(inner)
    case _ => Set.empty
  }

  private def synonyms(q: Query): Set[Seq[String]] = q match {
    case SynonymQ(ts) => Set(ts)
    case BoolQ(m, s, n, _, f) => (m ++ s ++ n ++ f).flatMap(synonyms).toSet
    case DisMaxQ(cs, _) => cs.flatMap(synonyms).toSet
    case ConstScoreQ(inner, _) => synonyms(inner)
    case BoostQ(inner, _) => synonyms(inner)
    case _ => Set.empty
  }

  private def boostTerms(q: Query): Set[BoostTermQ] = q match {
    case b: BoostTermQ => Set(b)
    case BoolQ(m, s, n, _, f) => (m ++ s ++ n ++ f).flatMap(boostTerms).toSet
    case DisMaxQ(cs, _) => cs.flatMap(boostTerms).toSet
    case ConstScoreQ(inner, _) => boostTerms(inner)
    case BoostQ(inner, _) => boostTerms(inner)
    case _ => Set.empty
  }

  /** Execute `query` returning the global top-k as (docId, score).
    * `doubleMode = false` reproduces the reference's float op order
    * (rank-identity contract); `true` computes the same quantised-norm
    * BM25 in double precision (SQL-oracle-comparable).
    */
  def topK(index: Index, queryStr: String, k: Int, doubleMode: Boolean = false): DataFrame =
    topKQ(index, QueryParser.parse(queryStr), k, doubleMode)

  /** Planned query: rewritten + expanded tree, its scorer table, the
    * terms whose postings the kernel will scan, and any wide (over-cap)
    * expansion patterns whose matching terms stay executor-side. The
    * reference analogue is the rewritten `Query` + `Weight` pair
    * (`IndexSearcher.java:866,971`).
    */
  final case class Plan(query: Query, scorers: Scorers, terms: Set[String],
      wide: Seq[WideTermSetQ] = Nil)

  /** Rewrite, expand multi-term queries, gather stats, build scorers.
    * Returns None when the query can match nothing. `scoring = false`
    * (count / docs executions) treats the whole tree as a non-scoring
    * context, so over-cap expansions go wide instead of throwing — the
    * result SET of a wide match equals the scoring disjunction's.
    */
  def plan(index: Index, query0: Query, doubleMode: Boolean,
      sim: SimilarityFactory = BM25Sim, scoring: Boolean = true): Option[Plan] = {
    import index.postings.sparkSession.implicits._

    // 1. rewrite + multi-term expansion (prefix / wildcard / regexp /
    //    range / fuzzy)
    val pre = Query.rewrite(query0)
    val exp: Map[Query, Seq[String]] =
      Query.prefixes(pre).map(p => (PrefixQ(p): Query) -> expandPrefix(index, p)).toMap ++
        Query.expansions(pre).map {
          case w @ WildcardQ(p) => (w: Query) -> expandWildcard(index, p)
          case r @ RegexpQ(p) => (r: Query) -> expandRegexp(index, p)
          case r @ TermRangeQ(lo, hi, il, ih) => (r: Query) -> expandRange(index, lo, hi, il, ih)
          case pp @ PhrasePrefixQ(_, p, _) => (pp: Query) -> expandPrefix(index, p)
          case other => (other, Nil)
        }.toMap
    val fuzzyExp: Map[Query, Query] =
      Query.fuzzies(pre).map(f => (f: Query) -> expandFuzzyBlended(index, f)).toMap ++
        Query.blendeds(pre).map(b => (b: Query) -> rewriteBlended(index, b)).toMap
    val query = Query.rewrite(substituteExpansions(pre, exp, fuzzyExp, nonScoring = !scoring))

    if (query == MatchNone) return None
    val wide = Query.wides(query).toSeq
    val terms = Query.literalTerms(query)
    if (terms.isEmpty && wide.isEmpty) return None

    // fields touched by the query (per-field collection stats live in the
    // `@norms:F` rows' df/ttf); CombinedFieldQ additionally needs the
    // norms sidecar POSTINGS of all its fields scanned per segment
    val cfs = Query.combinedFields(query)
    val fieldsUsed: Set[String] =
      terms.map(graft.build.IndexBuilder.fieldOf) ++ cfs.flatMap(_.fields.map(_._1))
    val normsStatTerms = (fieldsUsed - "content").map(graft.build.IndexBuilder.normsTerm)
    val normsScanTerms: Set[String] =
      cfs.flatMap(_.fields.map(fw => graft.build.IndexBuilder.normsTerm(fw._1)))

    // 2. stats gathering (tiny collect, broadcast with the closure) —
    // warm terms come from the Index's TermStates-style cache, so repeated
    // queries skip the stats job entirely; misses are cached as df=0
    val statsMap: Map[String, TermStats] =
      lookupStats(index, (terms ++ normsStatTerms).toSeq)

    // per-field collection stats: content from the index-level stats, any
    // other field from its norms row (df = docCount, ttf = sumTotalTermFreq)
    def fsOf(field: String): FieldStats =
      if (field == "content") index.fieldStats
      else statsMap.get(graft.build.IndexBuilder.normsTerm(field))
        .filter(_.df > 0L)
        .map(ts => FieldStats(ts.df, ts.ttf)).getOrElse(FieldStats(1L, 1L))
    val fs = index.fieldStats

    def anyScorerF(fs0: FieldStats, stats: TermStats, boost: Float, boostD: Double): Kernel.AnyScorer =
      sim.term(stats, fs0, boost, boostD, doubleMode)

    def anyScorer(df: Long, boost: Float = 1f, boostD: Double = -1d,
        field: String = "content"): Kernel.AnyScorer =
      anyScorerF(fsOf(field), TermStats("", df, 0), boost, boostD)

    // phrase pseudo-term scorer: weight = boost * (float) sum of member idfs
    // (`BM25Similarity.idfExplain(collectionStats, termStats[])`);
    // member terms share one field (the parser never mixes fields in a phrase)
    def phraseScorer(ts: Seq[String]): Kernel.AnyScorer = {
      val pfs = fsOf(graft.build.IndexBuilder.fieldOf(ts.head))
      sim.phrase(ts.map(t => statsMap.getOrElse(t, TermStats(t, 0L, 0L))), pfs, doubleMode)
    }

    // synonym pseudo-term: df = max of member dfs, ttf = sum
    // (SynonymQuery.java:223 blended pseudo-stats)
    def synonymScorer(ts: Seq[String]): Kernel.AnyScorer = {
      val sts = ts.map(t => statsMap.getOrElse(t, TermStats(t, 0L, 0L)))
      anyScorerF(fsOf(graft.build.IndexBuilder.fieldOf(ts.head)),
        TermStats("", sts.map(_.df).max, sts.map(_.ttf).sum), 1f, -1d)
    }

    // weighted BM25F pseudo-stats (`CombinedFieldQuery.java:274-291,299-317`):
    // df = max over fields; ttf / sumTotalTermFreq accumulate via the
    // reference's long += (double) weight * value compound narrowing;
    // docCount = max over fields
    def combinedScorer(cf: CombinedFieldQ): Kernel.AnyScorer = {
      var df = 0L
      var ttf = 0L
      var docCount = 0L
      var sumTtf = 0L
      cf.fields.foreach { case (f, w) =>
        val term = if (f == "content") cf.term else graft.build.IndexBuilder.fieldTerm(f, cf.term)
        val ts = statsMap.get(term)
        if (ts.exists(_.df > 0)) {
          df = math.max(df, ts.get.df)
          ttf = (ttf.toDouble + w.toDouble * ts.get.ttf.toDouble).toLong
        }
        val ffs = fsOf(f)
        docCount = math.max(docCount, ffs.docCount)
        sumTtf = (sumTtf.toDouble + w.toDouble * ffs.sumTotalTermFreq.toDouble).toLong
      }
      anyScorerF(FieldStats(math.max(1L, docCount), math.max(1L, sumTtf)),
        TermStats("", df, math.max(1L, ttf)), 1f, 1d)
    }

    val scorers = Scorers(
      // FULL stats per term (ttf feeds language-model similarities;
      // TF-IDF sims only read df)
      terms.map(t => t -> anyScorerF(
        fsOf(graft.build.IndexBuilder.fieldOf(t)),
        statsMap.getOrElse(t, TermStats(t, 0L, 0L)), 1f, -1d)).toMap,
      phrases(query).map(ts => ts -> phraseScorer(ts)).toMap,
      synonyms(query).map(ts => ts -> synonymScorer(ts)).toMap,
      // df < 0 = parser-boosted term (use the term's REAL df; the blended
      // fuzzy rewrite sets an explicit df override)
      boostTerms(query).map(b => b -> anyScorer(
        if (b.df >= 0L) b.df else statsMap.get(b.term).map(_.df).getOrElse(0L),
        b.boost, b.boostD,
        field = graft.build.IndexBuilder.fieldOf(b.term))).toMap,
      cfs.map(cf => cf -> combinedScorer(cf)).toMap,
      Query.intervalQs(query).map(iq => iq -> (
        if (doubleMode) Kernel.SaturationScorerD(iq.pivot)
        else Kernel.SaturationScorerF(iq.pivot): Kernel.AnyScorer)).toMap
    )
    Some(Plan(query, scorers, terms ++ normsScanTerms, wide))
  }

  /** Pushed-scan predicate of a wide expansion: prefix/range prune on the
    * sorted `term` column (parquet min/max pruning), regex post-filter
    * codegen'd — the scan-side half of the constant-score rewrite.
    */
  private def wideScanPred(w: WideTermSetQ): org.apache.spark.sql.Column = {
    val term = col("term")
    val nsGuard =
      if (w.a.startsWith(graft.build.IndexBuilder.FieldPrefix))
        lit(true) // anchored by its own literal prefix
      else !term.startsWith(graft.build.IndexBuilder.KeywordPrefix) &&
        !term.startsWith(graft.build.IndexBuilder.FieldPrefix)
    val body = w.kind match {
      case "prefix" => term >= w.a && term.startsWith(w.a)
      case "range" => term >= w.a && term <= w.b
      case "wildcard" =>
        val pre = w.a.takeWhile(c => c != '*' && c != '?')
        val rl = term.rlike(wildcardRegex(w.a))
        if (pre.isEmpty) rl else term >= pre && term.startsWith(pre) && rl
      case _ => term.rlike(s"^(?:${w.a})$$")
    }
    nsGuard && body
  }

  /** The per-segment (seg, term -> postings) input of every executor
    * body, holding the plan's terms and the terms its wide patterns
    * match, from one of two sources:
    *  - a serving index's resident reader ([[graft.build.Index.reader]]):
    *    the query looks its terms up in each segment's map and matches
    *    wide patterns with [[WideTermSetQ.matches]] — no scan, no
    *    per-query concatenation, no Catalyst plan;
    *  - otherwise the pushed-down postings scan, grouped by segment
    *    ([[bySegment]]): partition-locally on a seg-aligned index (one
    *    stage, no shuffle), through a shuffle on `seg` when it is not.
    * Segments holding none of the terms yield nothing. `onlySeg` /
    * `skipSeg` (-1 = unset) restrict the segments (priming pass /
    * already-primed segment).
    */
  private def segmentMaps(
      index: Index, terms: Set[String], wide: Seq[WideTermSetQ] = Nil,
      onlySeg: Int = -1, skipSeg: Int = -1): RDD[(Int, Map[String, PostingList])] =
    index.reader match {
      case Some(reader) =>
        reader.flatMap { case (seg, all) =>
          if ((onlySeg >= 0 && seg != onlySeg) || seg == skipSeg) None
          else {
            val b = Map.newBuilder[String, PostingList]
            terms.foreach(t => all.get(t).foreach(pl => b += t -> pl))
            if (wide.nonEmpty) all.foreach { e => if (wide.exists(_.matches(e._1))) b += e }
            val byTerm = b.result()
            if (byTerm.isEmpty) None else Some(seg -> byTerm)
          }
        }
      case None =>
        val spark = index.postings.sparkSession
        import spark.implicits._
        val basePred =
          if (terms.isEmpty) lit(false) else $"term".isin(terms.toSeq: _*)
        val pred = wide.foldLeft(basePred)((p, w) => p || wideScanPred(w))
        var scan = index.postings.filter(pred)
        if (onlySeg >= 0) scan = scan.filter($"seg" === onlySeg)
        if (skipSeg >= 0) scan = scan.filter($"seg" =!= skipSeg)
        bySegment(scan.rdd, index.segAligned,
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
    }

  /** The per-segment source RDD a query's kernels would read (None when
    * the query cannot match) — exposed for lineage audits (`Cli explain`).
    */
  private[graft] def sourceOf(index: Index, query: Query): Option[RDD[(Int, Map[String, PostingList])]] =
    plan(index, query, doubleMode = false).map(p => segmentMaps(index, p.terms, p.wide))

  /** Group posting rows into per-segment [[TermMap]]s: partition-locally
    * when every segment's rows share one partition (`aligned`), else
    * through a shuffle on `seg` into `partitions` partitions. Also
    * builds a serving index's resident reader.
    */
  private[graft] def bySegment(rows: RDD[PostingList], aligned: Boolean,
      partitions: Int): RDD[(Int, Map[String, PostingList])] =
    if (aligned)
      rows.mapPartitions(it => it.toSeq.groupBy(_.seg).iterator
        .map { case (seg, rs) => seg -> TermMap.of(rs) }, preservesPartitioning = true)
    else rows.groupBy((pl: PostingList) => pl.seg, partitions).mapValues(TermMap.of)

  /** Result schema of [[topKQ]] and [[scoredMatches]]: the columns
    * `Dataset[ScoredDocD].toDF()` gives, the score cast to float outside
    * double mode.
    */
  private def scoredSchema(doubleMode: Boolean): StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", if (doubleMode) DoubleType else FloatType, nullable = false)))

  /** Result schema of [[topKBatch]], empty or not: (qid, docId, score,
    * rank), the score typed as in [[scoredSchema]].
    */
  private def batchSchema(doubleMode: Boolean): StructType = StructType(
    StructField("qid", StringType) +: scoredSchema(doubleMode).fields :+
      StructField("rank", LongType, nullable = false))

  /** A kernel score as the result column holds it: cast to float after
    * the merge outside double mode.
    */
  private def scoreOut(score: Double, doubleMode: Boolean): Any =
    if (doubleMode) score else score.toFloat

  private def scoredRow(docId: Long, score: Double, doubleMode: Boolean): Row =
    Row(docId, scoreOut(score, doubleMode))

  /** Spark's descending-score, ascending-docId row order: NaN sorts above
    * every number and -0.0 equals 0.0, like `orderBy(desc("score"),
    * asc("docId"))`.
    */
  private val HitOrder: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = if (a._2 == b._2) 0 else java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }

  /** The first k of `hits` in [[HitOrder]] — the top-k merge of partial
    * top-ks (`TopDocs.merge`). [[HitOrder]] is total, so merging any
    * split of the hits, each cut to k first, gives the same k.
    */
  private def topOf(hits: Array[(Long, Double)], k: Int): Array[(Long, Double)] =
    hits.sorted(HitOrder).take(k)

  /** The driver's final merge of one query's hits, shared by [[topKQ]]
    * and [[topKBatch]]: [[topOf]], then `row(docId, score, rank)` per hit,
    * rank 1..k, the score cast after the merge ([[scoreOut]]).
    */
  private def mergedRows(hits: Array[(Long, Double)], k: Int, doubleMode: Boolean)(
      row: (Long, Any, Long) => Row): Array[Row] =
    topOf(hits, k).zipWithIndex.map { case ((d, s), i) => row(d, scoreOut(s, doubleMode), i + 1L) }

  /** A local DataFrame of already-ranked rows, built from a fixed schema
    * (no encoder derivation, no job on collect).
    */
  private def localResult(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** ALL matching (docId, score) rows as a distributed DataFrame — the
    * per-segment kernel pass of [[topKQ]] with an unbounded hit budget
    * and NO global merge (no TakeOrdered, no single-partition reduce).
    * The heap never fills, so no pruning acts and scores are the
    * exhaustive-evaluation scores; feeds operators that rank DOWNSTREAM
    * of the match stream (e.g. the diversified per-key window), where a
    * global top-N between kernel and window would both cap the stream
    * and serialize it through one partition.
    */
  def scoredMatches(index: Index, query0: Query, doubleMode: Boolean = false,
      sim: SimilarityFactory = BM25Sim): DataFrame = {
    val spark = index.postings.sparkSession
    val pl = plan(index, query0, doubleMode, sim) match {
      case None => return localResult(spark, Array.empty, scoredSchema(doubleMode))
      case Some(p) => p
    }
    val scorers = pl.scorers
    val q = pl.query
    val live = index.live
    val ftok = index.filterCacheToken
    val dm = doubleMode
    val rows = segmentMaps(index, pl.terms, pl.wide).flatMap { case (seg, byTerm) =>
      SegmentKernel.run(q, byTerm, scorers, Int.MaxValue,
          floatMode = !dm, deletedOrds = live.deleted(seg), seg = seg,
          cacheToken = ftok)
        .iterator.map { case (d, s) => scoredRow(d, s, dm) }
    }
    spark.createDataFrame(rows, scoredSchema(doubleMode))
  }

  /** Global top-k as (docId, score): ONE job runs the per-segment
    * kernels, and the driver merges their at most k rows per segment in
    * (score desc, docId asc) order — `IndexSearcher.search` over
    * `TopDocs.merge`. Outside double mode the score is cast to float
    * after the merge. Returns a local DataFrame: the job has already run.
    */
  def topKQ(index: Index, query0: Query, k: Int, doubleMode: Boolean = false,
      primeThreshold: Boolean = false, sim: SimilarityFactory = BM25Sim): DataFrame = {
    val spark = index.postings.sparkSession
    val pl = plan(index, query0, doubleMode, sim) match {
      case None => return localResult(spark, Array.empty, scoredSchema(doubleMode))
      case Some(p) => p
    }
    val scorers = pl.scorers
    val kk = k
    val q = pl.query
    val live = index.live
    val ftok = index.filterCacheToken
    val fm = !doubleMode

    // optional cross-partition min-competitive priming (the
    // `MaxScoreAccumulator` analogue, `core/search/MaxScoreAccumulator.java`):
    // run the kernel on the densest segment first; its kth score is a
    // valid lower bound of the GLOBAL kth score, so every other segment
    // starts pruning from it instead of from an empty heap. Worth its two
    // extra small jobs only on large corpora; rank-identical either way
    // (the floor is nextDown'd so kth-score ties still collect).
    var floor = Double.NegativeInfinity
    var primed = Array.empty[(Long, Double)]
    var primedSeg = -1
    if (primeThreshold && pl.wide.isEmpty) {
      val sizes = segmentMaps(index, pl.terms)
        .map { case (seg, byTerm) => (seg, byTerm.valuesIterator.map(_.df.toLong).sum) }
        .collect()
      if (sizes.nonEmpty) {
        primedSeg = sizes.maxBy(_._2)._1
        primed = segmentMaps(index, pl.terms, onlySeg = primedSeg).flatMap { case (seg, byTerm) =>
          SegmentKernel.run(q, byTerm, scorers, kk,
              floatMode = fm, deletedOrds = live.deleted(seg), seg = seg,
              cacheToken = ftok).iterator
        }.collect()
        if (primed.length >= k) floor = Math.nextDown(primed.map(_._2).min)
      }
    }
    val fl = floor

    // 3. per-segment kernels, 4. driver-side merge of the local top-ks
    val hits = segmentMaps(index, pl.terms, pl.wide, skipSeg = primedSeg)
      .flatMap { case (seg, byTerm) =>
        SegmentKernel.run(q, byTerm, scorers, kk,
            floatMode = fm, deletedOrds = live.deleted(seg), seg = seg,
            floor = fl, cacheToken = ftok).iterator
      }.collect()
    localResult(spark, mergedRows(hits ++ primed, k, doubleMode)((d, s, _) => Row(d, s)),
      scoredSchema(doubleMode))
  }

  /** BATCH top-k: many queries against one index in ONE job — one
    * postings source and one kernel pass per segment for all of them, the
    * throughput shape of a training-data mining run ("run 10k queries
    * over the corpus"), where per-query job scheduling would dominate.
    * All queries are planned driver-side (expansions, stats, scorers —
    * warm caches amortise across the batch); the source holds the UNION
    * of every query's terms and wide patterns ([[segmentMaps]]); each
    * task runs every query's kernel over each of its segments and keeps
    * at most k hits per query (the per-slice collector), and the driver
    * merges those per query exactly like [[topKQ]] (`TopDocs.merge`).
    * The job has one stage on a serving or seg-aligned index and ships
    * at most tasks x queries x k hits; the result holds at most
    * |queries| x k rows, a bound the caller chooses through k.
    *
    * Returns a local DataFrame (qid, docId, score, rank), rank 1..k per
    * query, rows ordered by (qid, rank) with qids in Spark's string
    * order (UTF-8 bytes). Per-query rows are IDENTICAL to [[topKQ]]
    * (BatchSearchSpec, BatchTopKSpec). A repeated qid keeps its first
    * query. Queries that cannot match (or whose scoring rewrite
    * overflows — TooManyClauses propagates like the single-query path)
    * contribute no rows.
    */
  def topKBatch(index: Index, queries: Seq[(String, Query)], k: Int,
      doubleMode: Boolean = false,
      sim: SimilarityFactory = BM25Sim): DataFrame = {
    val spark = index.postings.sparkSession
    // keep the first occurrence of each qid, like a map of named queries
    val planned: Seq[(String, Plan)] = queries.distinctBy(_._1).flatMap { case (qid, q0) =>
      plan(index, q0, doubleMode, sim).map(qid -> _)
    }
    if (planned.isEmpty) return localResult(spark, Array.empty, batchSchema(doubleMode))
    val allTerms = planned.flatMap(_._2.terms).toSet
    val allWide = planned.flatMap(_._2.wide).distinct
    val live = index.live
    val ftok = index.filterCacheToken
    val kk = k
    val fm = !doubleMode
    // ship (query, scorers) once, addressed by position; each task reuses
    // a segment's byTerm map across all queries
    val shipped: Array[(Query, Scorers)] = planned.map { case (_, p) => (p.query, p.scorers) }.toArray
    val partial = segmentMaps(index, allTerms, allWide).mapPartitions { segs =>
      val hits = Array.fill(shipped.length)(Array.newBuilder[(Long, Double)])
      segs.foreach { case (seg, byTerm) =>
        val del = live.deleted(seg)
        shipped.indices.foreach { i =>
          val (q, scorers) = shipped(i)
          hits(i) ++= SegmentKernel.run(q, byTerm, scorers, kk, floatMode = fm,
            deletedOrds = del, seg = seg, cacheToken = ftok)
        }
      }
      hits.iterator.map(_.result()).zipWithIndex
        .collect { case (hs, i) if hs.nonEmpty => i -> topOf(hs, kk) }
    }.collect()
    val byQuery = Array.fill(shipped.length)(Array.newBuilder[(Long, Double)])
    partial.foreach { case (i, hs) => byQuery(i) ++= hs }
    val qids = planned.map(_._1).toArray
    val utf8 = qids.map(org.apache.spark.unsafe.types.UTF8String.fromString)
    val rows = qids.indices.sortWith((a, b) => utf8(a).binaryCompare(utf8(b)) < 0).flatMap { i =>
      mergedRows(byQuery(i).result(), k, doubleMode)((d, s, r) => Row(qids(i), d, s, r))
    }
    localResult(spark, rows.toArray, batchSchema(doubleMode))
  }

  /** Open collector SPI — the `Collector` / `LeafCollector` pair of the
    * reference (`core/search/Collector.java:31`,
    * `LeafCollector.java:34`): a factory builds one leaf collector per
    * SEGMENT inside the executor task, the leaf consumes every match's
    * (docId, score) in ascending docId order, and `finish()` emits that
    * segment's partial rows; the caller reduces the resulting Dataset
    * (Spark's partial/final aggregation IS the reference's
    * `CollectorManager.reduce`). Top-k, count, and docs stay on their
    * specialised kernel paths; this is the extension point for
    * user-defined collection (histograms, per-segment stats, early
    * termination via [[LeafCollector.competitive]]).
    */
  trait LeafCollector[A] extends Serializable {
    def collect(docId: Long, score: Double): Unit

    /** Return false to stop consuming this segment (early termination —
      * `CollectionTerminatedException` semantics). Checked per doc.
      */
    def competitive: Boolean = true

    /** Per-segment partial rows, emitted once after the walk. */
    def finish(): Iterator[A]
  }

  trait CollectorFactory[A] extends Serializable {
    def newLeaf(seg: Int): LeafCollector[A]
  }

  /** Run `query0` through a custom collector: one leaf per segment,
    * partial rows out — reduce them with ordinary Dataset aggregation.
    * Scores are double-precision BM25 (doubleMode) unless `sim`/mode
    * says otherwise; matches stream in ascending docId order per
    * segment, tombstones excluded.
    */
  def collectQ[A: org.apache.spark.sql.Encoder](
      index: Index, query0: Query, factory: CollectorFactory[A],
      doubleMode: Boolean = true,
      sim: SimilarityFactory = BM25Sim): org.apache.spark.sql.Dataset[A] = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val pl = plan(index, query0, doubleMode, sim) match {
      case None => return spark.emptyDataset[A]
      case Some(p) => p
    }
    val scorers = pl.scorers
    val q = pl.query
    val live = index.live
    val ftok = index.filterCacheToken
    val fm = !doubleMode
    val enc = implicitly[org.apache.spark.sql.Encoder[A]]
    spark.createDataset(segmentMaps(index, pl.terms, pl.wide).flatMap { case (seg, byTerm) =>
      SegmentKernel.collectWith(q, byTerm, scorers,
        factory.newLeaf(seg), fm, live.deleted(seg), seg, ftok)
    }(enc.clsTag))
  }

  /** Count matching docs — no heap, no scoring, no global sort; the
    * kernel emits ONE partial count per segment and the job's result
    * fold sums them (`core/search/TotalHitCountCollector.java:27`,
    * `IndexSearcher.count`).
    */
  def count(index: Index, queryStr: String): Long =
    countQ(index, QueryParser.parse(queryStr))

  def countQ(index: Index, query0: Query): Long = {
    val pl = plan(index, query0, doubleMode = true, scoring = false) match {
      case None => return 0L
      case Some(p) => p
    }
    val scorers = pl.scorers
    val q = pl.query
    val live = index.live
    val ftok = index.filterCacheToken
    segmentMaps(index, pl.terms, pl.wide).map { case (seg, byTerm) =>
      SegmentKernel.count(q, byTerm, scorers, live.deleted(seg), seg, cacheToken = ftok)
    }.fold(0L)(_ + _)
  }

  /** Matching docIds (no scoring, no heap, no global score sort) — the
    * docs-only execution path.
    */
  def matchingDocs(index: Index, query0: Query): org.apache.spark.sql.Dataset[java.lang.Long] = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val pl = plan(index, query0, doubleMode = true, scoring = false) match {
      case None => return spark.emptyDataset[java.lang.Long]
      case Some(p) => p
    }
    val scorers = pl.scorers
    val q = pl.query
    val live = index.live
    val ftok = index.filterCacheToken
    spark.createDataset(segmentMaps(index, pl.terms, pl.wide).flatMap { case (seg, byTerm) =>
      SegmentKernel.docs(q, byTerm, scorers, live.deleted(seg), seg, cacheToken = ftok)
        .map(java.lang.Long.valueOf)
    })
  }

  /** BATCH all-matching-docs: many queries' full match sets in ONE
    * postings scan + ONE kernel pass per segment — the percolation shape
    * (Monitor: a doc batch matched against N standing queries,
    * `monitor/src/java/org/apache/lucene/monitor/Monitor.java:42`). The
    * scan predicate is the union of every query's terms and wide
    * patterns; queries that cannot match on this index (absent terms —
    * the Presearcher-style prune) are planned away driver-side and
    * contribute no rows. Returns (qid, docId).
    */
  def docsBatch(index: Index, queries: Seq[(String, Query)]): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    // a percolator set with two DIFFERENT queries under one id is a
    // registration bug — fail fast rather than silently evaluating only
    // the first (exact duplicates are a harmless no-op re-registration)
    val dup = queries.groupBy(_._1)
      .collect { case (id, qs) if qs.distinct.size > 1 => id }
    require(dup.isEmpty, s"conflicting queries registered under ids: ${dup.toSeq.sorted.mkString(", ")}")
    val planned: Seq[(String, Plan)] = queries.distinctBy(_._1).flatMap { case (qid, q0) =>
      plan(index, q0, doubleMode = true, scoring = false).map(qid -> _)
    }
    if (planned.isEmpty)
      return Seq.empty[(String, Long)].toDF("qid", "docId")
    val allTerms = planned.flatMap(_._2.terms).toSet
    val allWide = planned.flatMap(_._2.wide).distinct
    val live = index.live
    val ftok = index.filterCacheToken
    val shipped: Seq[(String, Query, Scorers)] =
      planned.map { case (qid, p) => (qid, p.query, p.scorers) }
    spark.createDataset(segmentMaps(index, allTerms, allWide).flatMap { case (seg, byTerm) =>
      val del = live.deleted(seg)
      shipped.iterator.flatMap { case (qid, q, scorers) =>
        SegmentKernel.docs(q, byTerm, scorers, del, seg, cacheToken = ftok)
          .iterator.map(d => (qid, d))
      }
    }).toDF("qid", "docId")
  }
}

/** Per-executor cache of non-scoring subquery match sets — the
  * `LRUQueryCache` analogue (`core/search/LRUQueryCache.java:87`: cache
  * per (reader core, query) the matching-doc bitset; here per
  * (index snapshot token, segment, subquery) the sorted docId array).
  * Policy follows `UsageTrackingQueryCachingPolicy.java:28`: a subquery
  * is cached on its SECOND sighting, so one-shot filters never pay the
  * materialisation. Only non-scoring subtrees (FILTER clauses,
  * ConstantScore inners) are cacheable — their match set is
  * score-independent and the index snapshot is immutable, so entries
  * never go stale. Executor-local (one cache per JVM, like the
  * reference's per-reader cache); bounded by entry count and total
  * cached ids, cleared wholesale on overflow.
  *
  * Scope note: the cache replaces the KERNEL work of a repeated filter
  * (postings decode + subtree walk/verification); the postings SCAN
  * still includes the filter's terms — the driver cannot know executor
  * cache state, and narrowing the scan on an assumption of cache
  * residency would silently corrupt results after an eviction. The
  * reference has the same boundary: LRUQueryCache saves the scorer
  * walk, not the terms-dictionary seek.
  */
object FilterCache {
  private val MaxEntries = 512
  private val MaxTotalIds = 64L << 20 // 64M longs = 512 MB ceiling
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  // access-ordered LinkedHashMap = true LRU (the reference's
  // LRUQueryCache.java:87 eviction policy): a workload rotating through
  // more than MaxEntries distinct filters evicts only the LEAST recently
  // used entries — hot filters survive the wave (the previous clear-all
  // thrashed every filter past the ceiling). All mutation and the id
  // accounting share one lock, so the ceiling cannot drift under
  // concurrent puts; the lock is uncontended in practice (one
  // put/get per filter per segment task, orders of magnitude rarer
  // than scoring work).
  private val lock = new Object
  private var totalIds = 0L
  private val cache = new java.util.LinkedHashMap[String, Array[Long]](64, 0.75f, true)
  val hits = new java.util.concurrent.atomic.AtomicLong(0)
  val misses = new java.util.concurrent.atomic.AtomicLong(0)

  /** Sighting count AFTER this sighting (cache-on-second policy). */
  def sight(key: String): Int = {
    if (seen.size > 8 * MaxEntries) seen.clear()
    seen.merge(key, 1, (a, b) => a + b)
  }

  def get(key: String): Array[Long] = {
    val v = lock.synchronized(cache.get(key)) // records the access (LRU touch)
    if (v != null) hits.incrementAndGet() else misses.incrementAndGet()
    v
  }

  def put(key: String, ids: Array[Long]): Unit = {
    if (ids.length > MaxTotalIds / 4) return // one entry must not own the cache
    lock.synchronized {
      if (cache.containsKey(key)) return
      cache.put(key, ids)
      totalIds += ids.length
      // evict least-recently-used until within both ceilings; the fresh
      // entry is most-recent, so the iterator (LRU-first) never reaches
      // it before the cache is back under budget
      val it = cache.entrySet().iterator()
      while ((cache.size > MaxEntries || totalIds > MaxTotalIds) && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          totalIds -= e.getValue.length
          it.remove()
        }
      }
    }
  }
}

/** The per-segment execution: cursor tree construction + physical
  * algorithm choice (`core/search/BooleanScorerSupplier.java:176-349`).
  */
object SegmentKernel {
  import Kernel._

  /** Disjunction bulk-scorer choice (read once per JVM): WAND by
    * default, MAXSCORE with -Dgraft.disjunction=maxscore — both
    * rank-identical (MaxScoreSpec proves equality on random postings).
    */
  private val useMaxScore: Boolean =
    "maxscore".equalsIgnoreCase(System.getProperty("graft.disjunction", "wand"))

  /** Wrap the root with the segment's tombstone exclusion (liveDocs,
    * `core/search/Weight.java:294-300` acceptDocs).
    */
  private def withLiveDocs(c: DocCursor, deletedOrds: Array[Long]): DocCursor =
    if (deletedOrds == null || deletedOrds.isEmpty) c
    else new ExclusionCursor(c, new SortedDocsCursor(deletedOrds))

  /** Restrict every DocSetQ to the segment's docId range — a cursor in
    * segment S must never emit docs of other segments (they would appear
    * once per segment as duplicate zero-score hits).
    */
  private def scopeDocSets(q: Query, seg: Int): Query = q match {
    case DocSetQ(ids) =>
      val lo = seg.toLong << graft.build.IndexBuilder.SegShift
      val hi = (seg + 1).toLong << graft.build.IndexBuilder.SegShift
      DocSetQ(ids.filter(id => id >= lo && id < hi))
    case BoolQ(m, s, n, msm, f) =>
      BoolQ(m.map(scopeDocSets(_, seg)), s.map(scopeDocSets(_, seg)),
        n.map(scopeDocSets(_, seg)), msm, f.map(scopeDocSets(_, seg)))
    case DisMaxQ(cs, tb) => DisMaxQ(cs.map(scopeDocSets(_, seg)), tb)
    case ConstScoreQ(inner, b) => ConstScoreQ(scopeDocSets(inner, seg), b)
    case BoostQ(inner, b) => BoostQ(scopeDocSets(inner, seg), b)
    case other => other
  }

  private def hasDocSet(q: Query): Boolean = q match {
    case DocSetQ(_) => true
    case BoolQ(m, s, n, _, f) => (m ++ s ++ n ++ f).exists(hasDocSet)
    case DisMaxQ(cs, _) => cs.exists(hasDocSet)
    case ConstScoreQ(inner, _) => hasDocSet(inner)
    case BoostQ(inner, _) => hasDocSet(inner)
    case _ => false
  }

  def run(
      q0: Query,
      byTerm: Map[String, PostingList],
      scorers: Searcher.Scorers,
      k: Int,
      floatMode: Boolean = false,
      deletedOrds: Array[Long] = null,
      seg: Int = -1,
      floor: Double = Double.NegativeInfinity,
      cacheToken: String = null
  ): Array[(Long, Double)] = {
    val q = if (seg >= 0 && hasDocSet(q0)) scopeDocSets(q0, seg) else q0
    val cacheCtx = if (cacheToken != null && seg >= 0) s"$cacheToken|$seg|" else null
    val hasDeletes = deletedOrds != null && deletedOrds.nonEmpty

    def termCursor(t: String, needPos: Boolean): Option[TermCursor] =
      byTerm.get(t).map(pl => new TermCursor(pl, scorers.term(t), needPos))

    // physical strategy selection on the rewritten root; segments with
    // deletes route through the generic cursor path with the liveDocs wrap
    q match {
      case TermQ(t) if !hasDeletes =>
        termCursor(t, needPos = false) match {
          case Some(c) => termTopK(c, k, floatMode, floor)
          case None => Array.empty
        }
      case BoolQ(must, Nil, Nil, _, Nil) if !hasDeletes && must.nonEmpty &&
          must.forall(_.isInstanceOf[TermQ]) =>
        val ts = must.collect { case TermQ(t) => t }
        if (ts.exists(t => !byTerm.contains(t))) Array.empty
        else {
          // rarest-first lead order (cost = segment-local df),
          // `ConjunctionDISI` cost ordering
          val sorted = ts.sortBy(t => byTerm(t).df)
            .map(t => new TermCursor(byTerm(t), scorers.term(t))).toArray
          conjunctionTopK(sorted, k, floatMode, floor)
        }
      case BoolQ(Nil, should, Nil, msm, Nil) if !hasDeletes && msm <= 1 && should.nonEmpty &&
          should.forall(_.isInstanceOf[TermQ]) =>
        val cs = should.collect { case TermQ(t) => termCursor(t, needPos = false) }.flatten
        if (cs.isEmpty) Array.empty
        // dense many-clause disjunctions (multi-term expansions): term-at-a-
        // time accumulation beats document-at-a-time WAND
        // (`BooleanScorerSupplier.java:176-223` makes the same choice)
        else if (cs.size > 16) taatTopK(cs.toArray, k, 1, floatMode, floor)
        // WAND is the default document-at-a-time pruner; MAXSCORE is the
        // drop-in alternative (rank-identical, -Dgraft.disjunction=maxscore)
        else if (useMaxScore) maxscoreTopK(cs.toArray, k, floatMode, floor)
        else wandTopK(cs.toArray, k, floatMode, floor)
      case BoolQ(Nil, should, Nil, msm, Nil) if !hasDeletes && should.nonEmpty &&
          should.size > 16 && should.forall(_.isInstanceOf[TermQ]) =>
        val cs = should.collect { case TermQ(t) => termCursor(t, needPos = false) }.flatten
        if (cs.isEmpty) Array.empty else taatTopK(cs.toArray, k, msm, floatMode, floor)
      case other =>
        buildCursor(other, byTerm, scorers, cacheCtx) match {
          case Some(c) => collectAll(withLiveDocs(c, deletedOrds), k, floatMode, floor)
          case None => Array.empty
        }
    }
  }

  /** Drive a user LeafCollector over every match of `q0` in this
    * segment — the per-leaf scoring loop of `Weight.bulkScorer`
    * feeding `LeafCollector.collect`. Ascending docId order; honors
    * [[Searcher.LeafCollector.competitive]] for early termination.
    */
  def collectWith[A](
      q0: Query,
      byTerm: Map[String, PostingList],
      scorers: Searcher.Scorers,
      leaf: Searcher.LeafCollector[A],
      floatMode: Boolean = false,
      deletedOrds: Array[Long] = null,
      seg: Int = -1,
      cacheToken: String = null
  ): Iterator[A] = {
    val q = if (seg >= 0 && hasDocSet(q0)) scopeDocSets(q0, seg) else q0
    val cacheCtx = if (cacheToken != null && seg >= 0) s"$cacheToken|$seg|" else null
    buildCursor(q, byTerm, scorers, cacheCtx) match {
      case None => leaf.finish()
      case Some(c0) =>
        val c = withLiveDocs(c0, deletedOrds)
        var d = c.nextDoc()
        while (d != NoMoreDocs && leaf.competitive) {
          leaf.collect(d, fin(c.score(), floatMode))
          d = c.nextDoc()
        }
        leaf.finish()
    }
  }

  /** Count matches — cursors only, no heap/scoring
    * (`core/search/TotalHitCountCollector.java:27`).
    */
  def count(
      q0: Query,
      byTerm: Map[String, PostingList],
      scorers: Searcher.Scorers,
      deletedOrds: Array[Long] = null,
      seg: Int = -1,
      cacheToken: String = null
  ): Long = {
    val q = if (seg >= 0 && hasDocSet(q0)) scopeDocSets(q0, seg) else q0
    val cacheCtx = if (cacheToken != null && seg >= 0) s"$cacheToken|$seg|" else null
    buildCursor(q, byTerm, scorers, cacheCtx) match {
      case Some(c) => countAll(withLiveDocs(c, deletedOrds))
      case None => 0L
    }
  }

  /** Matching docIds — cursors only, no heap/scoring. */
  def docs(
      q0: Query,
      byTerm: Map[String, PostingList],
      scorers: Searcher.Scorers,
      deletedOrds: Array[Long] = null,
      seg: Int = -1,
      cacheToken: String = null
  ): Iterator[Long] = {
    val q = if (seg >= 0 && hasDocSet(q0)) scopeDocSets(q0, seg) else q0
    val cacheCtx = if (cacheToken != null && seg >= 0) s"$cacheToken|$seg|" else null
    buildCursor(q, byTerm, scorers, cacheCtx) match {
      case Some(c) => docsAll(withLiveDocs(c, deletedOrds))
      case None => Iterator.empty
    }
  }

  /** Cursor for a NON-SCORING subquery routed through [[FilterCache]]
    * when a cache context is active: a hit replaces the whole subtree
    * walk with a sorted-docId cursor; a second sighting materialises and
    * caches the match set (the reference's cache-on-use policy).
    * DocSetQ-bearing subtrees bypass the cache (per-query-unique sets
    * would churn it with giant keys). Returns None when the subquery
    * cannot match in this segment — including a cached-empty set.
    */
  private def cachedNonScoring(
      q: Query,
      byTerm: Map[String, PostingList],
      scorers: Searcher.Scorers,
      cacheCtx: String
  ): Option[DocCursor] = {
    if (cacheCtx == null || hasDocSet(q)) return buildCursor(q, byTerm, scorers, cacheCtx)
    // toString + structural hash: a false hit would need two distinct
    // query trees agreeing on BOTH (toString alone is ambiguous for
    // crafted terms containing ", " — unreachable via the analyzer, but
    // the cache must not rely on that)
    val key = cacheCtx + q.hashCode + "|" + q.toString
    val hit = FilterCache.get(key)
    if (hit != null) {
      if (hit.isEmpty) None else Some(new SortedDocsCursor(hit))
    } else if (FilterCache.sight(key) < 2) {
      buildCursor(q, byTerm, scorers, cacheCtx)
    } else buildCursor(q, byTerm, scorers, cacheCtx) match {
      case None =>
        FilterCache.put(key, Array.emptyLongArray)
        None
      case Some(c) =>
        val ids = docsAll(c).toArray
        FilterCache.put(key, ids)
        if (ids.isEmpty) None else Some(new SortedDocsCursor(ids))
    }
  }

  /** Compositional cursor construction for arbitrary rewritten queries. */
  def buildCursor(
      q: Query,
      byTerm: Map[String, PostingList],
      scorers: Searcher.Scorers,
      cacheCtx: String = null
  ): Option[DocCursor] = q match {
    case MatchNone | MatchAll => None // MatchAll only survives in pure-negation -> empty
    case TermQ(t) =>
      byTerm.get(t).map(pl => new TermCursor(pl, scorers.term(t)))
    case b @ BoostTermQ(t, _, _, _) =>
      byTerm.get(t).map(pl => new TermCursor(pl, scorers.boosted(b)))
    case PhraseQ(ts, slop) =>
      val cs = ts.map(t => byTerm.get(t).map(pl =>
        new TermCursor(pl, scorers.term(t), needPositions = true)))
      if (cs.exists(_.isEmpty)) None
      else if (slop <= 0) Some(new PhraseCursor(cs.flatten.toArray, scorers.phrase(ts)))
      else Some(new SloppyPhraseCursor(cs.flatten.toArray, slop, scorers.phrase(ts)))
    case iq @ IntervalQ(src, _) =>
      val ts = src.leafTerms.toSeq.sorted
      val cs = ts.map(t => byTerm.get(t).map(pl =>
        new TermCursor(pl, scorers.term(t), needPositions = true)))
      if (cs.exists(_.isEmpty)) None
      else Some(new IntervalCursor(ts.toArray, cs.flatten.toArray, src,
        scorers.interval(iq)))
    case SynonymQ(ts) =>
      val cs = ts.flatMap(t => byTerm.get(t).map(pl => new TermCursor(pl, scorers.term(t))))
      if (cs.isEmpty) None
      else Some(new SynonymCursor(cs.toArray, scorers.synonym(ts)))
    case cf @ CombinedFieldQ(t, fields) =>
      // per-field term cursors (present fields only) + norms sidecar
      // cursors for the weighted norm combination
      val scorer = scorers.combined(cf)
      val subs = fields.flatMap { case (f, w) =>
        val term = if (f == "content") t else graft.build.IndexBuilder.fieldTerm(f, t)
        byTerm.get(term).map(pl => (new TermCursor(pl, scorer), w))
      }
      if (subs.isEmpty) None
      else {
        val norms = fields.flatMap { case (f, w) =>
          byTerm.get(graft.build.IndexBuilder.normsTerm(f))
            .map(pl => (new TermCursor(pl, scorer), w))
        }
        Some(new CombinedFieldCursor(subs.map(_._1).toArray, subs.map(_._2).toArray,
          norms.map(_._1).toArray, norms.map(_._2).toArray, scorer))
      }
    case MultiPhraseQ(slots) =>
      // every slot needs at least one alternative present in this segment
      val slotCursors = slots.map(_.flatMap(t => byTerm.get(t).map(pl =>
        new TermCursor(pl, scorers.term(t), needPositions = true))))
      if (slotCursors.exists(_.isEmpty)) None
      else Some(new MultiPhraseCursor(slotCursors.map(_.toArray).toArray,
        scorers.phrase(slots.flatten)))
    case PrefixQ(_) | WildcardQ(_) | RegexpQ(_) | FuzzyQ(_, _, _) |
        TermRangeQ(_, _, _, _) | PhrasePrefixQ(_, _, _) =>
      None // expanded before kernel
    case w: WideTermSetQ =>
      // CONSTANT_SCORE_REWRITE kernel half (`core/search/MultiTermQuery
      // .java:103-110`): visit each locally matching term, mark all its
      // docs — the sorted distinct docId array is the per-segment bitset
      // analogue. Bounded by the segment's postings for the pattern;
      // scores 0 (callers wrap with ConstScore/filter semantics).
      val lists = byTerm.iterator.collect { case (t, pl) if w.matches(t) => pl }.toArray
      if (lists.isEmpty) None
      else {
        var total = 0
        val decoded = lists.map { pl =>
          val d = graft.codec.PostingCodec.decodeAll(pl, withPositions = false)
          total += d.docIds.length
          d
        }
        val all = new Array[Long](total)
        var o = 0
        decoded.foreach { d =>
          System.arraycopy(d.docIds, 0, all, o, d.docIds.length); o += d.docIds.length
        }
        java.util.Arrays.sort(all)
        var n = 0
        var i = 0
        while (i < all.length) {
          if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
          i += 1
        }
        Some(new SortedDocsCursor(java.util.Arrays.copyOf(all, n)))
      }
    case DocSetQ(ids) =>
      if (ids.isEmpty) None
      else Some(new SortedDocsCursor(ids.toArray.sorted))
    case ConstScoreQ(inner, boost) =>
      cachedNonScoring(inner, byTerm, scorers, cacheCtx)
        .map(c => new ConstScoreCursor(c, boost.toDouble))
    case BoostQ(inner, boost) =>
      buildCursor(inner, byTerm, scorers, cacheCtx).map(c => new BoostCursor(c, boost.toDouble))
    case DisMaxQ(cs, tb) =>
      val sub = cs.flatMap(buildCursor(_, byTerm, scorers, cacheCtx))
      if (sub.isEmpty) None
      else if (sub.size == 1) Some(sub.head)
      else Some(new DisMaxCursor(sub.toArray, tb))
    case BoolQ(must0, should, mustNot, msm, filter) =>
      val must = must0.filterNot(_ == MatchAll)
      val mc = must.map(buildCursor(_, byTerm, scorers, cacheCtx))
      if (mc.exists(_.isEmpty)) return None // a required clause can't match here
      val fc = filter.map(cachedNonScoring(_, byTerm, scorers, cacheCtx))
      if (fc.exists(_.isEmpty)) return None // a FILTER clause can't match here
      val sc = should.flatMap(buildCursor(_, byTerm, scorers, cacheCtx))
      val nc = mustNot.flatMap(cachedNonScoring(_, byTerm, scorers, cacheCtx))

      // FILTER clauses join the conjunction as non-scoring members
      // (`core/search/BooleanQuery.java:40`, Occur.FILTER)
      val required: Seq[DocCursor] =
        mc.flatten ++ fc.flatten.map(c => new NonScoringCursor(c))

      val positive: Option[DocCursor] =
        if (required.nonEmpty) {
          val conj: DocCursor =
            if (required.size == 1) required.head else new ConjunctionCursor(required.toArray)
          if (sc.isEmpty) Some(conj)
          else if (msm <= 0)
            Some(new ReqOptCursor(conj,
              if (sc.size == 1) sc.head else new DisjunctionCursor(sc.toArray, 1)))
          else Some(new ConjunctionCursor(Array(conj, new DisjunctionCursor(sc.toArray, msm))))
        } else if (sc.nonEmpty) {
          if (sc.size < math.max(msm, 1)) None
          else if (sc.size == 1) Some(sc.head)
          else Some(new DisjunctionCursor(sc.toArray, math.max(msm, 1)))
        } else None

      positive.map { pos =>
        if (nc.isEmpty) pos
        else new ExclusionCursor(pos,
          if (nc.size == 1) nc.head else new DisjunctionCursor(nc.toArray, 1))
      }
  }
}
