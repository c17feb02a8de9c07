package graft.query

/** Sealed query ADT — the logical plan of the fulltext engine.
  *
  * Shapes cover the reference query classes
  * (`lucene/benchmark/conf/query-terms.txt`, `query-phrases.txt`,
  * `query-wildcards.txt`): terms, boolean mixes with MUST / SHOULD /
  * MUST_NOT / FILTER and minShouldMatch (`core/search/BooleanQuery.java:40`),
  * exact and sloppy phrases (`core/search/PhraseQuery.java:71`,
  * `SloppyPhraseMatcher.java:54`), prefix / wildcard / regexp
  * (`core/search/PrefixQuery.java:29`, `WildcardQuery.java:38`,
  * `RegexpQuery.java:44`), constant score
  * (`core/search/ConstantScoreQuery.java:28`).
  */
sealed trait Query

case object MatchAll extends Query
case object MatchNone extends Query
final case class TermQ(term: String) extends Query

/** Exact (slop = 0) or sloppy phrase. Sloppy matching/scoring follows
  * `core/search/SloppyPhraseMatcher.java:54`: a match's length is the
  * span of offset-adjusted positions, weight 1/(1+matchLength), and the
  * doc's sloppy freq is the sum of greedy-minimised match weights.
  * Repeated terms follow the reference's rptGroups algorithm (slots of
  * one term consume distinct occurrences; collisions advance the lesser
  * slot — `SloppyPhraseMatcher.java:296-338,449-481`).
  */
final case class PhraseQ(terms: Seq[String], slop: Int = 0) extends Query

/** Phrase with alternative terms per position —
  * `core/search/MultiPhraseQuery.java:54`: a doc matches when some
  * choice of one alternative per slot forms a consecutive phrase; freq =
  * number of matching start positions, scored as a phrase pseudo-term
  * whose idf sums over ALL alternatives.
  */
final case class MultiPhraseQ(slots: Seq[Seq[String]]) extends Query

/** Phrase ending in a prefix — the MultiPhraseQuery javadoc's canonical
  * use ("to support phrases ending in a prefix, e.g. microsoft app*",
  * `core/search/MultiPhraseQuery.java:29-33`, terms gathered from the
  * TermsEnum in term order). Expands plan-time to [[MultiPhraseQ]] with
  * the FIRST `maxExpansions` matching dictionary terms (term order) as
  * the final slot; no matching term -> MatchNone.
  */
final case class PhrasePrefixQ(terms: Seq[String], prefix: String,
    maxExpansions: Int = 50) extends Query

final case class PrefixQ(prefix: String) extends Query

/** General wildcard (`*` = any run, `?` = one char) expanded against the
  * sorted term dictionary — `core/search/WildcardQuery.java:38`.
  */
final case class WildcardQ(pattern: String) extends Query

/** Regular-expression term expansion — `core/search/RegexpQuery.java:44`. */
final case class RegexpQ(pattern: String) extends Query

/** Damerau-Levenshtein expansion with the reference's default rewrite:
  * top-`maxExpansions` matching terms by (similarity boost desc, term asc),
  * scored with blended df — `core/search/FuzzyQuery.java:34,60`
  * (TopTermsBlendedFreqScoringRewrite), boost formula
  * `FuzzyTermsEnum.java:251-258`, blending `BlendedTermQuery.java:282-291`.
  */
final case class FuzzyQ(term: String, maxEdits: Int = 1, maxExpansions: Int = 50) extends Query

/** One expanded fuzzy alternative: a term scored with an overridden
  * (blended) df and a similarity boost — the leaf the
  * TopTermsBlendedFreqScoringRewrite produces. `boostD` carries the
  * boost in double precision for the SQL-oracle-comparable double mode
  * (< 0 = derive from the float `boost`).
  */
final case class BoostTermQ(term: String, boost: Float, df: Long, boostD: Double = -1d)
    extends Query

/** Lexicographic term range — `core/search/TermRangeQuery.java:37`
  * (`includeLower`/`includeUpper` ctor flags `:44-66`; open bounds =
  * `newStringRange(null, ...)`, here "" / "￿" sentinels since no
  * term contains either boundary value).
  */
final case class TermRangeQ(lo: String, hi: String,
    incLo: Boolean = true, incHi: Boolean = true) extends Query

/** A multi-term expansion too wide for a scoring boolean (>
  * [[Query.MaxClauseCount]] matching terms), kept EXECUTOR-SIDE as a
  * constant-score term-set match — the
  * `MultiTermQueryConstantScoreWrapper` analogue
  * (`core/search/MultiTermQuery.java:103-110`, CONSTANT_SCORE_REWRITE:
  * "visiting each term in sequence and marking all docs for that term
  * ... never hit an errant TooManyClauses"). The node carries the
  * PATTERN, not the terms: the planner widens the postings scan with the
  * pattern's pushed predicate and each segment kernel unions the docIds
  * of its locally matching terms into a bitset-style sorted cursor — no
  * driver collect, no truncation, bounded by the segment's postings.
  *
  * `kind` in {"prefix", "wildcard", "regexp", "range"}; `a`/`b` are the
  * pattern (and upper bound for "range"); `inc` carries range bound
  * inclusivity as "[]"-style brackets (the pushed scan predicate stays
  * inclusive — a superset — and [[matches]] decides exactly).
  */
final case class WideTermSetQ(kind: String, a: String, b: String = "",
    inc: String = "[]") extends Query {
  /** Same namespace rules as the planner's dictionary view: '#' keyword
    * pseudo-terms never match; '@' field/norms pseudo-terms only match a
    * '@'-anchored pattern (which restricts itself by its literal prefix).
    */
  def matches(term: String): Boolean = {
    if (term.startsWith(graft.build.IndexBuilder.KeywordPrefix)) return false
    if (!a.startsWith(graft.build.IndexBuilder.FieldPrefix) &&
      term.startsWith(graft.build.IndexBuilder.FieldPrefix)) return false
    kind match {
      case "prefix" => term.startsWith(a)
      case "range" =>
        (if (inc.charAt(0) == '[') term >= a else term > a) &&
          (if (inc.charAt(1) == ']') term <= b else term < b)
      case _ => pattern.matcher(term).matches()
    }
  }

  @transient private lazy val pattern: java.util.regex.Pattern = kind match {
    case "wildcard" =>
      java.util.regex.Pattern.compile(graft.exec.Searcher.wildcardRegex(a))
    case "regexp" => java.util.regex.Pattern.compile(s"^(?:$a)$$")
    case _ => null
  }
}

/** Standalone BlendedTermQuery (`core/search/BlendedTermQuery.java:37,282-291`
  * with the default DisjunctionMaxRewrite(0.01f) — `:120-138`): every
  * term is scored as if it had the MAX df over the group (degree
  * blending), combined as a DisMax with tieBreak 0.01. Plan-time rewrite:
  * the per-term dfs come from the live stats, so this node survives until
  * [[graft.exec.Searcher.plan]].
  */
final case class BlendedTermQ(terms: Seq[String], boosts: Seq[Float] = Nil) extends Query

/** Query-time weighted BM25F: one term scored as a pseudo-term across
  * several fields — `core/search/CombinedFieldQuery.java:79`. Weights must
  * be >= 1 (`:115-117`). Semantics follow the reference exactly:
  * freq = sum over fields of weight * tf (float in float mode,
  * `CombinedFieldScorer.freq`, `:428-438`); per-doc norm = re-quantised
  * weighted sum of each PRESENT field's decoded length
  * (`MultiNormsLeafSimScorer.MultiFieldNormValues.advanceExact`,
  * `:163-176`); pseudo term stats df = max over fields, ttf = weighted sum
  * (`:274-291`); pseudo collection stats docCount = max,
  * sumTotalTermFreq = weighted sum (`:299-317`). Fields are kept in name
  * order (the reference's TreeMap iteration order).
  */
final case class CombinedFieldQ(term: String, fields: Seq[(String, Float)]) extends Query

/** Union scored with max (+ tieBreak * (sum - max)) —
  * `core/search/DisjunctionMaxQuery.java:44`.
  */
final case class DisMaxQ(clauses: Seq[Query], tieBreak: Double = 0d) extends Query

/** Several terms scored as ONE pseudo-term: freq = sum of member freqs,
  * df = max of member dfs, ttf = sum — `core/search/SynonymQuery.java:213-230`.
  */
final case class SynonymQ(terms: Seq[String]) extends Query

/** Wrap any query: matches the same docs, scores a constant `boost` —
  * `core/search/ConstantScoreQuery.java:28`.
  */
final case class ConstScoreQ(inner: Query, boost: Float = 1f) extends Query

/** Multiplicative score boost — `core/search/BoostQuery.java:28` (parser
  * `term^2` / clause `(...)^2` syntax, `QueryParserBase.java:133`).
  * Rewrite distributes the boost down into leaf WEIGHTS wherever the leaf
  * supports it (TermQ -> BoostTermQ, nested boosts multiply as floats,
  * ConstScoreQ absorbs, BoolQ/DisMaxQ push into scoring clauses) — the
  * reference float op order, where createWeight(boost) folds the boost
  * into `weight = boost * idf` BEFORE the tf saturation. A BoostQ that
  * survives rewrite (phrase/synonym/multi-term inner) multiplies the
  * clause score post-hoc — documented ulp-level divergence from the
  * reference's weight folding, matched exactly by the differential
  * oracle.
  */
final case class BoostQ(inner: Query, boost: Float) extends Query

/** Non-scoring membership in an explicit docId set — the acceptDocs /
  * rescore-window restriction (`core/search/QueryRescorer.java` runs its
  * costly query only over the first pass's top-N docIds). Use as a
  * FILTER clause; ids must be engine docIds.
  */
final case class DocSetQ(docIds: Seq[Long]) extends Query

/** Interval source algebra — minimal-interval semantics over positions
  * (`lucene/queries/src/java/org/apache/lucene/queries/intervals/`,
  * `Intervals.java`): each source yields, per doc, its CANONICAL set of
  * minimal intervals (no interval of the set properly contains another),
  * composed from children's canonical sets exactly as the reference
  * composes its lazy iterators. `gaps` follows the iterator contract:
  * interval width minus the sum of the constituent child widths
  * (`OrderedIntervalsSource.java:168-171`,
  * `UnorderedIntervalsSource.java:157-160`).
  */
sealed trait ISrc {
  /** `IntervalsSource.minExtent` — the minimum possible interval width. */
  def minExtent: Int
  def leafTerms: Set[String]
}
final case class ITermS(term: String) extends ISrc {
  def minExtent = 1
  def leafTerms: Set[String] = Set(term)
}
/** `Intervals.ordered`: children appear in order, strictly disjoint
  * (prev.end < next.start). Adjacent duplicate children (the reference's
  * RepeatingIntervalsSource rewrite) are not supported.
  */
final case class IOrderedS(subs: Seq[ISrc]) extends ISrc {
  def minExtent: Int = subs.map(_.minExtent).sum
  def leafTerms: Set[String] = subs.flatMap(_.leafTerms).toSet
}
/** `Intervals.unordered` (overlaps allowed): children appear in any
  * order; the interval spans min start .. max end.
  */
final case class IUnorderedS(subs: Seq[ISrc]) extends ISrc {
  def minExtent: Int = subs.map(_.minExtent).sum
  def leafTerms: Set[String] = subs.flatMap(_.leafTerms).toSet
}
/** `Intervals.maxgaps`: keep intervals whose gaps() <= gaps. */
final case class IMaxGapsS(gaps: Int, sub: ISrc) extends ISrc {
  def minExtent: Int = sub.minExtent
  def leafTerms: Set[String] = sub.leafTerms
}
/** `Intervals.maxwidth`: keep intervals with end-start+1 <= width. */
final case class IMaxWidthS(width: Int, sub: ISrc) extends ISrc {
  def minExtent: Int = sub.minExtent
  def leafTerms: Set[String] = sub.leafTerms
}
/** `Intervals.containing`: big's intervals that contain a small interval. */
final case class IContainingS(big: ISrc, small: ISrc) extends ISrc {
  def minExtent: Int = big.minExtent // ContainingIntervalsSource.java:69
  def leafTerms: Set[String] = big.leafTerms ++ small.leafTerms
}
/** `Intervals.containedBy`: small's intervals inside a big interval. */
final case class IContainedByS(small: ISrc, big: ISrc) extends ISrc {
  def minExtent: Int = small.minExtent // ContainedByIntervalsSource.java:78
  def leafTerms: Set[String] = small.leafTerms ++ big.leafTerms
}

/** Interval query (`intervals/IntervalQuery.java:59`): matches docs
  * where the source yields at least one interval; scored by the
  * saturation function over the interval pseudo-frequency
  * (`IntervalScorer.java:60-67`: freq = sum over minimal intervals of
  * 1/max(length - minExtent + 1, 1);
  * `IntervalScoreFunction.java`: score = boost * (1 - pivot/(pivot+freq))).
  * All leaf terms are required (conjunction approximation), like the
  * reference's ConjunctionIntervalsSource.
  */
final case class IntervalQ(src: ISrc, pivot: Float = 1f) extends Query

/** Boolean query. `filter` clauses are required but contribute NO score —
  * `Occur.FILTER` (`core/search/BooleanQuery.java:40`; non-scoring
  * execution via the ConstantScore wrap of the rewrite, `:300-317`).
  */
final case class BoolQ(
    must: Seq[Query] = Nil,
    should: Seq[Query] = Nil,
    mustNot: Seq[Query] = Nil,
    minShouldMatch: Int = 0,
    filter: Seq[Query] = Nil
) extends Query

object Query {

  /** Positive (scoring/matching) literal terms of a query tree — the
    * `Query.visit(QueryVisitor)` term-extraction surface the reference's
    * highlighter uses to know what to mark
    * (`core/search/QueryVisitor.java:28`, UnifiedHighlighter's
    * extractTerms). MUST_NOT branches are skipped (excluded terms are
    * never highlighted); multi-term patterns contribute nothing here —
    * the caller highlights their expansions if it wants them.
    */
  def positiveTerms(q: Query): Set[String] = q match {
    case TermQ(t) => Set(t)
    case PhraseQ(ts, _) => ts.toSet
    case MultiPhraseQ(slots) => slots.flatten.toSet
    case PhrasePrefixQ(ts, _, _) => ts.toSet
    case SynonymQ(ts) => ts.toSet
    case BlendedTermQ(ts, _) => ts.toSet
    case BoostTermQ(t, _, _, _) => Set(t)
    case CombinedFieldQ(t, _) => Set(t)
    case DisMaxQ(cs, _) => cs.flatMap(positiveTerms).toSet
    case ConstScoreQ(inner, _) => positiveTerms(inner)
    case BoostQ(inner, _) => positiveTerms(inner)
    case IntervalQ(src, _) => src.leafTerms
    case b: BoolQ =>
      (b.must ++ b.should ++ b.filter).flatMap(positiveTerms).toSet
    case _ => Set.empty
  }

  /** Max clause count after multi-term expansion —
    * `core/search/IndexSearcher.java:873,891`. Settable like the
    * reference's `IndexSearcher.setMaxClauseCount` (`:881-889`); the
    * default matches the reference's 1024.
    */
  @volatile private var maxClauses: Int = 1024
  private val maxClausesLocal = new ThreadLocal[Integer]()
  def MaxClauseCount: Int = {
    val o = maxClausesLocal.get()
    if (o != null) o.intValue() else maxClauses
  }
  def setMaxClauseCount(n: Int): Unit = {
    require(n >= 1, "maxClauseCount must be >= 1")
    maxClauses = n
  }

  /** Scope a cap override to the CURRENT THREAD's planning (expansion
    * probes and rewrites all run on the planning thread) — unlike the
    * global setter, concurrent planners in the same JVM are unaffected.
    */
  def withMaxClauseCount[A](n: Int)(body: => A): A = {
    require(n >= 1, "maxClauseCount must be >= 1")
    maxClausesLocal.set(n)
    try body finally maxClausesLocal.remove()
  }

  /** Multi-term rewrite mode for expansions past [[MaxClauseCount]] in a
    * SCORING position — the `MultiTermQuery.RewriteMethod` choice.
    *
    * [[ConstantScoreBlendedRewrite]] (the DEFAULT, matching the
    * reference's default for Prefix/Wildcard/Regexp/TermRange —
    * `core/search/MultiTermQuery.java:103,133`, `PrefixQuery.java:29`):
    * never throws; an over-cap expansion degrades to a constant-score
    * (boost 1) [[WideTermSetQ]] match over ALL matching terms, exactly
    * like the reference's blended wrapper falling back to its bitset
    * path. Under-cap expansions stay a scored disjunction either way.
    *
    * [[ScoringBooleanRewrite]] (the reference's
    * SCORING_BOOLEAN_REWRITE, `core/search/IndexSearcher.java:873,891`):
    * an over-cap expansion throws [[TooManyClauses]].
    */
  val ConstantScoreBlendedRewrite = "constant_score_blended"
  val ScoringBooleanRewrite = "scoring_boolean"
  @volatile private var mtRewrite: String = ConstantScoreBlendedRewrite
  private val mtRewriteLocal = new ThreadLocal[String]()
  def MultiTermRewrite: String = {
    val o = mtRewriteLocal.get()
    if (o != null) o else mtRewrite
  }
  def setMultiTermRewrite(m: String): Unit = {
    require(m == ConstantScoreBlendedRewrite || m == ScoringBooleanRewrite, m)
    mtRewrite = m
  }

  /** Scope a rewrite-mode override to the current thread's planning —
    * same discipline as [[withMaxClauseCount]].
    */
  def withMultiTermRewrite[A](m: String)(body: => A): A = {
    require(m == ConstantScoreBlendedRewrite || m == ScoringBooleanRewrite, m)
    mtRewriteLocal.set(m)
    try body finally mtRewriteLocal.remove()
  }

  /** Thrown when a SCORING multi-term rewrite expands past
    * [[MaxClauseCount]] under [[ScoringBooleanRewrite]] —
    * `IndexSearcher.TooManyClauses`
    * (`core/search/IndexSearcher.java:860-875`). Constant-score /
    * non-scoring contexts (and the default blended mode) never throw:
    * they route through [[WideTermSetQ]] instead, like the reference's
    * CONSTANT_SCORE_REWRITE.
    */
  final class TooManyClauses(pattern: String)
      extends RuntimeException(
        s"maxClauseCount is set to $MaxClauseCount; scoring rewrite of '$pattern' exceeds it " +
          "(wrap in a constant-score / filter context for an unbounded match)")

  /** Logical rewrite to fixpoint — re-implementation of the reference's
    * `Query.rewrite` loop (`core/search/IndexSearcher.java:866-875`) and
    * `BooleanQuery.rewrite` simplifications
    * (`core/search/BooleanQuery.java:269-373`). These act on our ADT
    * *before* a DataFrame plan is emitted; relational-side optimization
    * (pushdown, pruning) is left to Catalyst.
    */
  def rewrite(q: Query): Query = {
    var cur = q
    var next = rewriteOnce(cur)
    var guard = 0
    while (next != cur && guard < 16) { cur = next; next = rewriteOnce(cur); guard += 1 }
    next
  }

  private def rewriteOnce(q: Query): Query = q match {
    case BoolQ(must, should, mustNot, msm, filter) =>
      val m = must.map(rewriteOnce)
      val s = should.map(rewriteOnce)
      val n = mustNot.map(rewriteOnce).distinct // dedup MUST_NOT (BooleanQuery.java:344-354)
      val f = filter.map(rewriteOnce).distinct // dedup FILTER (same)
      // any required clause that can never match -> whole query never matches
      if (m.contains(MatchNone) || f.contains(MatchNone)) MatchNone
      // MUST_NOT MatchAll -> never matches (BooleanQuery.java:365-373)
      else if (n.contains(MatchAll)) MatchNone
      // a clause both required and MUST_NOT -> never matches
      else if (m.exists(n.contains) || f.exists(n.contains) ||
        (m.isEmpty && f.isEmpty && s.nonEmpty && s.forall(n.contains))) MatchNone
      else {
        val f2 = f.filterNot(_ == MatchAll)
        val m2 = m.filterNot(_ == MatchAll) match {
          case Nil if m.nonEmpty && f2.isEmpty => Seq(MatchAll) // keep one anchor if all were MatchAll
          case other => other
        }
        val n2 = n.filterNot(_ == MatchNone)
        val s2 = s.filterNot(_ == MatchNone)
        val msm2 = math.max(msm, if (m2.isEmpty && f2.isEmpty && s2.nonEmpty) 1 else 0)
        if (m2.isEmpty && s2.isEmpty && f2.isEmpty && n2.isEmpty) MatchNone // empty boolean (:270-276)
        else if (m2.isEmpty && s2.isEmpty && f2.isEmpty) MatchNone // pure negation never matches
        // unsatisfiable minShouldMatch, anchored or not — checked before
        // any unwrap drops the SHOULD requirement
        else if (msm2 > s2.size) MatchNone
        else if (m2.isEmpty && s2.isEmpty) {
          // filter-only boolean: matches, scores 0 (non-scoring context)
          if (n2.isEmpty && f2.size == 1) ConstScoreQ(f2.head, 0f)
          else ConstScoreQ(BoolQ(must = f2, mustNot = n2), 0f)
        }
        else if (m2.size == 1 && s2.isEmpty && n2.isEmpty && f2.isEmpty) m2.head // single-clause unwrap (:280-295)
        else if (m2.isEmpty && s2.size == 1 && n2.isEmpty && f2.isEmpty && msm2 <= 1) s2.head
        else BoolQ(m2, s2, n2, msm2, f2)
      }
    case PhraseQ(Seq(t), _) => TermQ(t)
    case PhraseQ(Nil, _) => MatchNone
    case DocSetQ(Nil) => MatchNone
    case MultiPhraseQ(Nil) => MatchNone
    case MultiPhraseQ(slots) if slots.exists(_.isEmpty) => MatchNone
    case MultiPhraseQ(slots) if slots.forall(_.size == 1) => rewriteOnce(PhraseQ(slots.map(_.head)))
    // alternatives are a set: duplicates would double-count phrase freq
    case MultiPhraseQ(slots) if slots.exists(s => s.distinct.size != s.size) =>
      MultiPhraseQ(slots.map(_.distinct))
    case SynonymQ(Nil) => MatchNone
    case SynonymQ(Seq(t)) => TermQ(t)
    case CombinedFieldQ(_, Nil) => MatchNone
    case cf @ CombinedFieldQ(_, fs) if fs.map(_._1) != fs.map(_._1).sorted =>
      cf.copy(fields = fs.sortBy(_._1)) // reference TreeMap field order
    case DisMaxQ(Nil, _) => MatchNone
    case DisMaxQ(Seq(c), _) => rewriteOnce(c)
    case DisMaxQ(cs, tb) =>
      val r = cs.map(rewriteOnce).filterNot(_ == MatchNone)
      if (r.isEmpty) MatchNone else DisMaxQ(r, tb)
    case ConstScoreQ(inner, boost) =>
      rewriteOnce(inner) match {
        case MatchNone => MatchNone
        case ConstScoreQ(i2, _) => ConstScoreQ(i2, boost) // collapse nesting; outer boost wins
        case i2 => ConstScoreQ(i2, boost)
      }
    // boost distribution (BoostQuery.rewrite + createWeight(boost)
    // propagation): fold into leaf weights where supported
    case BoostQ(inner, b) =>
      rewriteOnce(inner) match {
        case MatchNone => MatchNone
        case MatchAll => MatchAll // our MatchAll scores 0 either way
        case i2 if b == 1f => i2
        case TermQ(t) => BoostTermQ(t, b, -1L)
        case BoostTermQ(t, b0, df, bd) =>
          BoostTermQ(t, b0 * b, df, if (bd >= 0d) bd * b.toDouble else bd)
        case ConstScoreQ(i2, c) => ConstScoreQ(i2, c * b)
        case BoostQ(i2, b2) => BoostQ(i2, b2 * b)
        case DisMaxQ(cs, tb) => DisMaxQ(cs.map(BoostQ(_, b)), tb)
        case BoolQ(m, s, n, msm, f) =>
          // mustNot/filter are non-scoring; boost only the scoring clauses
          BoolQ(m.map(BoostQ(_, b)), s.map(BoostQ(_, b)), n, msm, f)
        case i2 => BoostQ(i2, b)
      }
    case other => other
  }

  /** All literal terms mentioned (multi-term queries excluded — they
    * expand against the term dictionary at planning time).
    */
  def literalTerms(q: Query): Set[String] = q match {
    case TermQ(t) => Set(t)
    case BoostTermQ(t, _, _, _) => Set(t)
    case CombinedFieldQ(t, fields) =>
      fields.map { case (f, _) =>
        if (f == "content") t else graft.build.IndexBuilder.fieldTerm(f, t)
      }.toSet
    case PhraseQ(ts, _) => ts.toSet
    case MultiPhraseQ(slots) => slots.flatten.toSet
    case SynonymQ(ts) => ts.toSet
    case IntervalQ(src, _) => src.leafTerms
    case BoolQ(m, s, n, _, f) => (m ++ s ++ n ++ f).flatMap(literalTerms).toSet
    case DisMaxQ(cs, _) => cs.flatMap(literalTerms).toSet
    case ConstScoreQ(inner, _) => literalTerms(inner)
    case BoostQ(inner, _) => literalTerms(inner)
    case _ => Set.empty
  }

  private def collect[A](q: Query)(pf: PartialFunction[Query, Set[A]]): Set[A] = {
    val self = pf.applyOrElse(q, (_: Query) => Set.empty[A])
    val kids = q match {
      case BoolQ(m, s, n, _, f) => (m ++ s ++ n ++ f).flatMap(collect(_)(pf)).toSet
      case DisMaxQ(cs, _) => cs.flatMap(collect(_)(pf)).toSet
      case ConstScoreQ(inner, _) => collect(inner)(pf)
      case BoostQ(inner, _) => collect(inner)(pf)
      case _ => Set.empty[A]
    }
    self ++ kids
  }

  def prefixes(q: Query): Set[String] = collect[String](q) { case PrefixQ(p) => Set(p) }

  /** Multi-term queries needing dictionary expansion to plain terms. */
  def expansions(q: Query): Set[Query] = collect[Query](q) {
    case w: WildcardQ => Set(w)
    case r: RegexpQ => Set(r)
    case r: TermRangeQ => Set(r)
    case pp: PhrasePrefixQ => Set(pp)
  }

  /** Fuzzy queries (blended rewrite — separate expansion product). */
  def fuzzies(q: Query): Set[FuzzyQ] = collect[FuzzyQ](q) { case f: FuzzyQ => Set(f) }

  def intervalQs(q: Query): Set[IntervalQ] =
    collect[IntervalQ](q) { case iq: IntervalQ => Set(iq) }

  /** Weighted-BM25F nodes (need per-field stats + norms sidecars). */
  def combinedFields(q: Query): Set[CombinedFieldQ] =
    collect[CombinedFieldQ](q) { case c: CombinedFieldQ => Set(c) }

  /** Standalone blended-term nodes (df blending needs live stats). */
  def blendeds(q: Query): Set[BlendedTermQ] =
    collect[BlendedTermQ](q) { case b: BlendedTermQ => Set(b) }

  /** Wide (over-cap) constant-score expansions (scan widened by their
    * pushed pattern predicate — no driver-side term list exists).
    */
  def wides(q: Query): Set[WideTermSetQ] =
    collect[WideTermSetQ](q) { case w: WideTermSetQ => Set(w) }
}

/** Tiny recursive-descent parser for the reference query-set syntax:
  * `AND`, `OR`, `NOT`, parentheses, `"quoted phrases"` (with optional
  * `~slop`), trailing-`*` prefixes, general `*`/`?` wildcards, `~edits`
  * fuzzy. Grammar (lowest precedence first): or := and (OR and)*,
  * and := unary (AND unary)*, unary := NOT unary | atom.
  * Reference analogue: the classic QueryParser surface
  * (`lucene/queryparser/.../classic/QueryParserBase.java:133`) restricted
  * to the shapes in `lucene/benchmark/conf/query-*.txt`.
  */
object QueryParser {
  private final case class Tok(kind: String, value: String)

  private def lex(s: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var pendingField = "" // set by a `field:` word immediately before a range bracket
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += Tok("(", "("); i += 1 }
      else if (c == ')') { out += Tok(")", ")"); i += 1 }
      else if ((c == '+' || c == '-') && i + 1 < s.length &&
          !s.charAt(i + 1).isWhitespace) {
        // occur modifiers `+required` / `-prohibited` at an atom start
        // (`QueryParserBase.java` MOD_REQ/MOD_NOT) — a leading sign binds
        // to the atom that follows (term, phrase, group, range)
        out += Tok(if (c == '+') "+" else "-", c.toString); i += 1
      }
      else if (c == '[' || c == '{') {
        // classic range syntax `[a TO b]` / `{a TO b}` (mixed brackets
        // allowed, `*` = open bound) — `TermRangeQuery.java:44-66` via
        // `QueryParserBase.getRangeQuery`. A preceding `field:` word (see
        // the word branch) is carried in `pendingField`.
        var j = i + 1
        while (j < s.length && s.charAt(j) != ']' && s.charAt(j) != '}') j += 1
        val body = s.substring(i + 1, j)
        val incLo = if (c == '[') "1" else "0"
        val incHi = if (j < s.length && s.charAt(j) == ']') "1" else "0"
        i = if (j < s.length) j + 1 else j
        body.split("\\s+TO\\s+") match {
          case Array(lo, hi) =>
            out += Tok("range", s"$incLo$incHi:$pendingField:$lo:$hi")
          case _ => // malformed: ignore, like an empty atom
        }
        pendingField = ""
      }
      else if (c == '"') {
        val end = s.indexOf('"', i + 1)
        val body = if (end < 0) s.substring(i + 1) else s.substring(i + 1, end)
        i = if (end < 0) s.length else end + 1
        // optional ~slop suffix on a phrase
        var slop = 0
        if (i < s.length && s.charAt(i) == '~') {
          var j = i + 1
          while (j < s.length && s.charAt(j).isDigit) j += 1
          if (j > i + 1) { slop = s.substring(i + 1, j).toInt; i = j }
        }
        out += Tok("phrase", s"$slop:$body")
      } else {
        var j = i
        while (j < s.length && !s.charAt(j).isWhitespace && s.charAt(j) != '(' && s.charAt(j) != ')' && s.charAt(j) != '"' && s.charAt(j) != '[' && s.charAt(j) != '{') j += 1
        val w0 = s.substring(i, j)
        i = j
        // `field:[...` — hand the field to the upcoming range token;
        // `field:(...)` — field-scoped group (`QueryParserBase` field
        // state pushed across a parenthesized clause)
        if (w0.length > 1 && w0.endsWith(":") && j < s.length &&
            (s.charAt(j) == '[' || s.charAt(j) == '{')) {
          pendingField = w0.dropRight(1)
        } else if (w0.length > 1 && w0.endsWith(":") && j < s.length && s.charAt(j) == '(') {
          out += Tok("fieldgroup", w0.dropRight(1))
        } else {
        // trailing ^boost (classic parser `term^2`; a bare `^2` boosts the
        // preceding group/phrase atom)
        val boostRe = "^(.*)\\^([0-9]+(?:\\.[0-9]+)?)$".r
        val (w, boostSuffix) = w0 match {
          case boostRe(base, bs) => (base, Some(bs))
          case _ => (w0, None)
        }
        val fuzzy = "^(.+)~([012])$".r
        val fielded = "^([a-zA-Z]+):(.+)$".r
        if (w.nonEmpty) w match {
          case "AND" => out += Tok("AND", w)
          case "OR" => out += Tok("OR", w)
          case "NOT" => out += Tok("NOT", w)
          // fielded syntax (classic parser field:term,
          // `QueryParserBase.java:133`): `lang:en` -> non-scoring keyword
          // filter; any other field -> SCORED per-field query (term /
          // prefix / wildcard / fuzzy), resolved in atom()
          case fielded(f, v) if f == "lang" =>
            out += Tok("kw", s"#$f:${v.toLowerCase(java.util.Locale.ROOT)}")
          case fielded(f, v) => out += Tok("field", s"$f $v")
          case _ if w.endsWith("*") && w.length > 1 &&
              !w.dropRight(1).exists(ch => ch == '*' || ch == '?') =>
            out += Tok("prefix", w.dropRight(1))
          case _ if w.exists(ch => ch == '*' || ch == '?') && w.length > 1 =>
            out += Tok("wildcard", w)
          case fuzzy(base, edits) => out += Tok("fuzzy", s"$edits:$base")
          case _ if w.endsWith("~") && w.length > 1 => out += Tok("fuzzy", s"2:${w.dropRight(1)}")
          case _ => out += Tok("term", w)
        }
        boostSuffix.foreach(bs => out += Tok("boost", bs))
        }
      }
    }
    out.toList
  }

  /** Push a field scope onto every leaf of a `field:(...)` group — the
    * classic parser keeps the field as parse state across the group
    * (`QueryParserBase` field argument threading). The content field is
    * the default namespace; `lang` stays the non-scoring keyword filter.
    */
  private def fieldify(f: String, q: Query): Query = {
    def pre(s: String) = if (f == "content") s else s"@$f:$s"
    def go(q: Query): Query = q match {
      case TermQ(t) if f == "lang" => ConstScoreQ(TermQ(s"#lang:$t"), 0f)
      case TermQ(t) => TermQ(pre(t))
      case PhraseQ(ts, sl) => PhraseQ(ts.map(pre), sl)
      case MultiPhraseQ(slots) => MultiPhraseQ(slots.map(_.map(pre)))
      case PhrasePrefixQ(ts, p, m) => PhrasePrefixQ(ts.map(pre), pre(p), m)
      case PrefixQ(p) => PrefixQ(pre(p))
      case WildcardQ(p) => WildcardQ(pre(p))
      case RegexpQ(p) => RegexpQ(pre(p))
      case FuzzyQ(t, e, m) => FuzzyQ(pre(t), e, m)
      case TermRangeQ(lo, hi, il, ih) => TermRangeQ(pre(lo), pre(hi), il, ih)
      case SynonymQ(ts) => SynonymQ(ts.map(pre))
      case BoolQ(m, sh, n, msm, fl) =>
        BoolQ(m.map(go), sh.map(go), n.map(go), msm, fl.map(go))
      case DisMaxQ(cs, tb) => DisMaxQ(cs.map(go), tb)
      case ConstScoreQ(i, b) => ConstScoreQ(go(i), b)
      case BoostQ(i, b) => BoostQ(go(i), b)
      case other => other
    }
    go(q)
  }

  def parse(s: String): Query = {
    var toks = lex(s)
    def peek: Option[Tok] = toks.headOption
    def pop(): Tok = { val t = toks.head; toks = toks.tail; t }

    def atom(): Query = {
      var q = atomCore()
      while (peek.exists(_.kind == "boost")) q = BoostQ(q, pop().value.toFloat)
      q
    }

    def atomCore(): Query = peek match {
      case Some(Tok("(", _)) =>
        pop(); val q = or()
        if (peek.exists(_.kind == ")")) pop()
        q
      case Some(Tok("phrase", v)) =>
        pop()
        val Array(slop, body) = v.split(":", 2)
        // `"merge str*"` = phrase ending in a prefix (exact phrases only —
        // a slop would make the star's binding ambiguous)
        val pprefix = slop.toInt == 0 && body.trim.endsWith("*")
        val clean = if (pprefix) body.trim.dropRight(1) else body
        val ts = graft.analysis.CodeAnalyzer.terms(clean).toSeq
        if (pprefix && ts.nonEmpty) {
          if (ts.size == 1) PrefixQ(ts.head) else PhrasePrefixQ(ts.init, ts.last)
        } else PhraseQ(ts, slop.toInt)
      case Some(Tok("kw", t)) =>
        pop(); ConstScoreQ(TermQ(t), 0f) // matches, contributes no score
      case Some(Tok("fieldgroup", f)) =>
        pop(); fieldify(f, atomCore())
      case Some(Tok("range", v)) =>
        pop()
        val Array(inc, f, lo0, hi0) = v.split(":", 4)
        val lc = java.util.Locale.ROOT
        def pre(x: String) = if (f.isEmpty || f == "content") x else s"@$f:$x"
        val lo = if (lo0 == "*") pre("") else pre(lo0.toLowerCase(lc))
        val hi = if (hi0 == "*") pre("￿") else pre(hi0.toLowerCase(lc))
        TermRangeQ(lo, hi, inc.charAt(0) == '1', inc.charAt(1) == '1')
      case Some(Tok("field", fv)) =>
        pop()
        val Array(f, v) = fv.split(" ", 2)
        // the content field is the default (unprefixed) namespace
        def pre(s: String) = if (f == "content") s else s"@$f:$s"
        val lower = v.toLowerCase(java.util.Locale.ROOT)
        val fuzzy = "^(.+)~([012])$".r
        if (v.endsWith("*") && v.length > 1 &&
            !v.dropRight(1).exists(ch => ch == '*' || ch == '?'))
          PrefixQ(pre(lower.dropRight(1)))
        else if (v.exists(ch => ch == '*' || ch == '?') && v.length > 1)
          WildcardQ(pre(lower))
        else v match {
          case fuzzy(base, edits) =>
            FuzzyQ(pre(base.toLowerCase(java.util.Locale.ROOT)), edits.toInt)
          case _ =>
            graft.analysis.CodeAnalyzer.terms(v).map(pre) match {
              case Array(t) => TermQ(t)
              case Array() => MatchNone
              case many => PhraseQ(many.toSeq) // multi-token value = fielded phrase
            }
        }
      case Some(Tok("prefix", p)) =>
        pop(); PrefixQ(p.toLowerCase(java.util.Locale.ROOT))
      case Some(Tok("wildcard", p)) =>
        pop(); WildcardQ(p.toLowerCase(java.util.Locale.ROOT))
      case Some(Tok("fuzzy", v)) =>
        pop()
        val Array(e, base) = v.split(":", 2)
        FuzzyQ(base.toLowerCase(java.util.Locale.ROOT), e.toInt)
      case Some(Tok("term", w)) =>
        pop()
        graft.analysis.CodeAnalyzer.terms(w) match {
          case Array(t) => TermQ(t)
          case Array() => MatchNone
          case many => PhraseQ(many.toSeq) // multi-token word behaves like a phrase
        }
      case _ => MatchNone
    }

    def unary(): Query = peek match {
      case Some(Tok("NOT", _)) =>
        pop(); BoolQ(must = Seq(MatchAll), mustNot = Seq(unary()))
      // modifiers reaching a conjunction position (`a AND +b` / `a AND -b`):
      // required is the conjunction's default; prohibited behaves like NOT
      case Some(Tok("+", _)) => pop(); unary()
      case Some(Tok("-", _)) =>
        pop(); BoolQ(must = Seq(MatchAll), mustNot = Seq(unary()))
      case _ => atom()
    }

    def and(): Query = {
      var clauses = Seq(unary())
      while (peek.exists(t => t.kind == "AND" || t.kind == "NOT")) {
        val neg = pop().kind == "NOT" || {
          // `a AND NOT b` — consume NOT after AND
          if (peek.exists(_.kind == "NOT")) { pop(); true } else false
        }
        if (neg) clauses = clauses :+ BoolQ(must = Seq(MatchAll), mustNot = Seq(unary()))
        else clauses = clauses :+ unary()
      }
      if (clauses.size == 1) clauses.head
      else {
        // fold NOT-wrapped clauses into mustNot of the conjunction
        val (negs, pos) = clauses.partition {
          case BoolQ(Seq(MatchAll), Nil, Seq(_), _, Nil) => true
          case _ => false
        }
        val mustNot = negs.collect { case BoolQ(_, _, Seq(n), _, _) => n }
        BoolQ(must = if (pos.isEmpty) Seq(MatchAll) else pos, mustNot = mustNot)
      }
    }

    def or(): Query = {
      // occur modifier of the upcoming clause: '+' required, '-'
      // prohibited, ' ' unmarked (`QueryParserBase` MOD_REQ/MOD_NOT)
      def nextMod(): Char =
        if (peek.exists(_.kind == "+")) { pop(); '+' }
        else if (peek.exists(_.kind == "-")) { pop(); '-' }
        else ' '
      var clauses = Seq((nextMod(), and()))
      // explicit OR, or implicit OR between adjacent atoms (the classic
      // QueryParser default operator)
      while (peek.exists(t => t.kind == "OR" || t.kind == "term" ||
          t.kind == "phrase" || t.kind == "prefix" || t.kind == "wildcard" ||
          t.kind == "fuzzy" || t.kind == "kw" || t.kind == "field" ||
          t.kind == "(" || t.kind == "range" || t.kind == "fieldgroup" ||
          t.kind == "+" || t.kind == "-")) {
        if (peek.exists(_.kind == "OR")) pop()
        clauses = clauses :+ ((nextMod(), and()))
      }
      if (clauses.size == 1 && clauses.head._1 == ' ') clauses.head._2
      else if (clauses.forall(_._1 == ' '))
        BoolQ(should = clauses.map(_._2), minShouldMatch = 1)
      else {
        // any marked clause switches to the classic occur model: required
        // terms gate, unmarked terms only boost (minShouldMatch 0)
        val must = clauses.collect { case ('+', q) => q }
        val mustNot = clauses.collect { case ('-', q) => q }
        val should = clauses.collect { case (' ', q) => q }
        BoolQ(
          must = if (must.isEmpty && should.isEmpty) Seq(MatchAll) else must,
          should = should, mustNot = mustNot,
          // with no required clause, >=1 optional must match (BooleanWeight
          // semantics); with one, unmarked clauses only boost
          minShouldMatch = if (must.isEmpty && should.nonEmpty) 1 else 0)
      }
    }

    Query.rewrite(or())
  }
}
