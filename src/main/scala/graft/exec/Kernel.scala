package graft.exec

import graft.codec.PostingCodec
import graft.model.PostingList

/** Per-segment scoring kernels.
  *
  * These run inside an executor task over one segment's term -> postings
  * map — the Spark analogue of Lucene's per-leaf bulk scorers
  * (`core/search/Weight.java:230-300`). Physical algorithm selection
  * ([[SegmentKernel.run]]) mirrors
  * `core/search/BooleanScorerSupplier.java:176-349`: single term ->
  * impact block skipping; pure disjunction of at most 16 terms ->
  * block-max WAND (`core/search/WANDScorer.java:55`), the one
  * document-at-a-time disjunction pruner; pure disjunction of more than
  * 16 terms (any minShouldMatch) -> windowed term-at-a-time
  * accumulation; conjunction of terms -> leapfrog with block-max
  * skipping (`core/search/BlockMaxConjunctionScorer.java`); anything
  * else -> generic document-at-a-time cursor composition.
  *
  * Scoring contract: per-term scores in float (or double, see
  * [[BM25.TermScorerD]]), clause sums accumulated in double, cast at the
  * end (`ConjunctionScorer.java:57-63`). Tie-break: score desc, docId asc
  * (`core/search/HitQueue.java:76-82`). Docs stream in ascending docId
  * order, so once the heap is full a candidate with upper bound <= the
  * heap minimum can never win (equal score loses on docId) — the
  * min-competitive feedback of `TopScoreDocCollector.java:147-162`.
  *
  * Work is done once where it can be: a [[TermCursor]] computes a block's
  * impact bound when it loads the block, and every search task shares
  * one [[BlockCache]] per segment, so each position-less block is decoded
  * once for all of the task's queries (up to [[BlockCache.MaxPostings]]
  * cached postings).
  */
object Kernel {
  val NoMoreDocs: Long = Long.MaxValue

  /** Unified scorer handle: float-parity mode or double-oracle mode.
    * OPEN (the custom-Similarity SPI): implementations beyond the BM25
    * wrappers below live in [[graft.exec.SimilarityFactory]] instances
    * (e.g. ClassicSim's TF-IDF scorers).
    */
  trait AnyScorer extends Serializable {
    def score(freq: Int, norm: Byte): Double

    /** Fractional-freq variant (sloppy phrase freq is a float sum). */
    def scoreF(freq: Double, norm: Byte): Double
    def maxScore(maxFreq: Int, minNorm: Byte): Double
    def globalMax: Double
  }
  final case class FloatScorer(s: BM25.TermScorer) extends AnyScorer {
    def score(freq: Int, norm: Byte): Double = s.score(freq, norm).toDouble
    def scoreF(freq: Double, norm: Byte): Double = s.scoreF(freq.toFloat, norm).toDouble
    def maxScore(maxFreq: Int, minNorm: Byte): Double = s.maxScore(maxFreq, minNorm).toDouble
    def globalMax: Double = s.globalMaxScore.toDouble
  }
  final case class DoubleScorer(s: BM25.TermScorerD) extends AnyScorer {
    def score(freq: Int, norm: Byte): Double = s.score(freq, norm)
    def scoreF(freq: Double, norm: Byte): Double = s.scoreF(freq, norm)
    def maxScore(maxFreq: Int, minNorm: Byte): Double = s.maxScore(maxFreq, minNorm)
    def globalMax: Double = s.globalMaxScore
  }

  /** Saturation score over an interval pseudo-freq — similarity-free
    * (`intervals/IntervalScoreFunction.java:72`: weight * (1 - pivot /
    * (pivot + freq)); weight applied externally via BoostQ). Float mode
    * mirrors the reference's float arithmetic; double mode feeds the
    * oracle-comparable pipeline. Bounded by 1 (freq -> inf limit).
    */
  final case class SaturationScorerF(pivot: Float) extends AnyScorer {
    def score(freq: Int, norm: Byte): Double = scoreF(freq.toDouble, norm)
    def scoreF(freq: Double, norm: Byte): Double =
      (1.0f - pivot / (pivot + freq.toFloat)).toDouble
    def maxScore(maxFreq: Int, minNorm: Byte): Double = 1d
    def globalMax: Double = 1d
  }
  final case class SaturationScorerD(pivot: Float) extends AnyScorer {
    def score(freq: Int, norm: Byte): Double = scoreF(freq.toDouble, norm)
    def scoreF(freq: Double, norm: Byte): Double =
      1.0d - pivot.toDouble / (pivot.toDouble + freq)
    def maxScore(maxFreq: Int, minNorm: Byte): Double = 1d
    def globalMax: Double = 1d
  }

  // ---- top-k heap ---------------------------------------------------------

  /** Bounded min-heap with the reference tie-break (HitQueue.java:76-82):
    * entry A is less competitive than B iff A.score < B.score, or equal
    * score and A.doc > B.doc.
    */
  final class HitHeap(k: Int) {
    require(k > 0, "k must be > 0")
    // lazily grown up to k — callers may pass k >> matches (match-all counts)
    private var scores = new Array[Double](math.min(k, 1024))
    private var docs = new Array[Long](math.min(k, 1024))
    var size = 0

    private def ensureCapacity(): Unit = {
      if (size == scores.length && size < k) {
        val cap = math.min(k.toLong, scores.length * 2L).toInt
        scores = java.util.Arrays.copyOf(scores, cap)
        docs = java.util.Arrays.copyOf(docs, cap)
      }
    }

    @inline private def less(s1: Double, d1: Long, s2: Double, d2: Long): Boolean =
      s1 < s2 || (s1 == s2 && d1 > d2)

    /** Pruning may act only once the heap is full: until then every hit
      * is competitive.
      */
    def full: Boolean = size == k
    def minScore: Double = if (full) scores(0) else Double.NegativeInfinity

    /** true if (score, doc) was inserted. */
    def insert(score: Double, doc: Long): Boolean = {
      ensureCapacity()
      if (size < k) {
        var i = size
        scores(i) = score; docs(i) = doc; size += 1
        while (i > 0 && less(scores(i), docs(i), scores((i - 1) / 2), docs((i - 1) / 2))) {
          swap(i, (i - 1) / 2); i = (i - 1) / 2
        }
        true
      } else if (less(scores(0), docs(0), score, doc)) {
        scores(0) = score; docs(0) = doc
        siftDown()
        true
      } else false
    }

    @inline private def swap(i: Int, j: Int): Unit = {
      val s = scores(i); scores(i) = scores(j); scores(j) = s
      val d = docs(i); docs(i) = docs(j); docs(j) = d
    }

    private def siftDown(): Unit = {
      var i = 0
      var cont = true
      while (cont) {
        val l = 2 * i + 1
        val r = 2 * i + 2
        var m = i
        if (l < size && less(scores(l), docs(l), scores(m), docs(m))) m = l
        if (r < size && less(scores(r), docs(r), scores(m), docs(m))) m = r
        if (m != i) { swap(i, m); i = m } else cont = false
      }
    }

    /** Drain, most competitive first. */
    def result(): Array[(Long, Double)] = {
      val out = new Array[(Long, Double)](size)
      var i = size - 1
      while (size > 0) {
        out(i) = (docs(0), scores(0))
        size -= 1
        scores(0) = scores(size); docs(0) = docs(size)
        siftDown()
        i -= 1
      }
      out
    }
  }

  // ---- cursors -------------------------------------------------------------

  /** Sorted-docID iterator contract — `core/search/DocIdSetIterator.java:28`. */
  trait DocCursor {
    def doc: Long
    def nextDoc(): Long
    def advance(target: Long): Long

    /** Score of the current doc (double accumulation). */
    def score(): Double

    /** Static upper bound of any doc's score — impacts-derived. */
    def maxScoreBound: Double
  }

  /** Decoded postings blocks of ONE segment, shared by the cursors of
    * many queries over that segment's term map: a batch task runs every
    * query of its batch over a segment, and without it each query decodes
    * the same hot terms' blocks again. Keyed by (term, block) — the
    * term's posting list in the segment and the block number. Holds
    * position-less decodes only (positional cursors decode directly).
    * Bounded by `maxPostings` cached postings (~13 bytes each): past it
    * no block is added and cursors decode directly. Not thread-safe: one
    * task thread owns it and drops it after the segment.
    */
  final class BlockCache private[graft] (maxPostings: Long) {
    def this() = this(BlockCache.MaxPostings)
    private val slots = new java.util.IdentityHashMap[PostingList, Array[PostingCodec.Decoded]]()
    private var cached = 0L

    /** The block slots of `pl` (null until decoded). */
    private[exec] def slotsOf(pl: PostingList): Array[PostingCodec.Decoded] = {
      var s = slots.get(pl)
      if (s == null) { s = new Array[PostingCodec.Decoded](pl.numBlocks); slots.put(pl, s) }
      s
    }

    /** Block `b` of `pl`, decoded on first use, kept while under the bound. */
    private[exec] def block(pl: PostingList, s: Array[PostingCodec.Decoded], b: Int): PostingCodec.Decoded = {
      var d = s(b)
      if (d == null) {
        d = PostingCodec.decodeBlock(pl, b)
        if (cached < maxPostings) { s(b) = d; cached += pl.counts(b) }
      }
      d
    }

    /** Postings held, for tests of the bound. */
    private[graft] def size: Long = cached
  }

  object BlockCache {
    /** 1M postings: ~13 MB of docIds, freqs and norms per task. */
    val MaxPostings: Long = 1L << 20
  }

  /** Posting-list cursor with lazy block decode and block-skip on
    * advance (skip data analogue, `Lucene103PostingsFormat.java:343-353`).
    * With a [[BlockCache]] (and no positions) a block is decoded once per
    * cache and reused by every cursor over the same list. Each loaded
    * block's impact bound is computed once, on load ([[blockMaxScore]]).
    */
  final class TermCursor(private[exec] val pl: PostingList, val scorer: AnyScorer,
      needPositions: Boolean = false, blocks: BlockCache = null)
      extends DocCursor {
    private val numBlocks = pl.numBlocks
    private val cachedBlocks =
      if (blocks == null || needPositions) null else blocks.slotsOf(pl)
    private var blockIdx = -1
    private var decoded: PostingCodec.Decoded = _
    private var blockMax = 0d
    private var i = 0
    private var n = 0
    var doc: Long = -1

    /** Upper bound over all blocks (scan of metadata only). */
    val maxScoreBound: Double = {
      var m = 0d
      var b = 0
      while (b < numBlocks) {
        val ub = scorer.maxScore(pl.maxFreqs(b), pl.minNorms(b))
        if (ub > m) m = ub
        b += 1
      }
      m
    }

    private def loadBlock(bi: Int): Unit = {
      blockIdx = bi
      decoded =
        if (cachedBlocks == null) PostingCodec.decodeBlock(pl, bi, needPositions)
        else blocks.block(pl, cachedBlocks, bi)
      blockMax = scorer.maxScore(pl.maxFreqs(bi), pl.minNorms(bi))
      i = 0
      n = decoded.docIds.length
    }

    def nextDoc(): Long = {
      if (blockIdx < 0) {
        if (numBlocks == 0) { doc = NoMoreDocs; return doc }
        loadBlock(0)
      } else {
        i += 1
        if (i >= n) {
          if (blockIdx + 1 >= numBlocks) { doc = NoMoreDocs; return doc }
          loadBlock(blockIdx + 1)
        }
      }
      doc = decoded.docIds(i)
      doc
    }

    def advance(target: Long): Long = {
      if (doc == NoMoreDocs) return doc
      // block skip without decoding: binary search the sorted per-block
      // maxDocIds — the log-time analogue of the reference's two skip
      // levels (`Lucene103PostingsFormat.java:343-353` 128/4096-doc hops)
      if (blockIdx < 0 || target > pl.maxDocIds(blockIdx)) {
        var lo = math.max(blockIdx + 1, 0)
        var hi = numBlocks
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (pl.maxDocIds(m) < target) lo = m + 1 else hi = m
        }
        if (lo >= numBlocks) { doc = NoMoreDocs; return doc }
        if (lo != blockIdx) loadBlock(lo)
      }
      while (i < n && decoded.docIds(i) < target) i += 1
      if (i >= n) return nextDocFromBlockEnd()
      doc = decoded.docIds(i)
      doc
    }

    private def nextDocFromBlockEnd(): Long = {
      if (blockIdx + 1 >= numBlocks) { doc = NoMoreDocs; doc }
      else { loadBlock(blockIdx + 1); doc = decoded.docIds(0); doc }
    }

    def freq: Int = decoded.freqs(i)
    def norm: Byte = decoded.norms(i)
    def positions: Array[Int] = decoded.positions(i)
    def score(): Double = scorer.score(decoded.freqs(i), decoded.norms(i))

    /** Upper bound of the current block (for BMW); call only when on a doc. */
    def blockMaxScore: Double = blockMax

    /** Last doc of the current block. */
    def blockLastDoc: Long = pl.maxDocIds(blockIdx)
  }

  /** Leapfrog conjunction — `core/search/ConjunctionScorer.java:24`,
    * lead = rarest first (callers pass cursors sorted by cost).
    */
  final class ConjunctionCursor(subs: Array[DocCursor]) extends DocCursor {
    var doc: Long = -1
    val maxScoreBound: Double = subs.map(_.maxScoreBound).sum

    private def align(startTarget: Long): Long = {
      var target = startTarget
      var agreed = false
      while (!agreed) {
        agreed = true
        var j = 0
        while (j < subs.length && agreed) {
          val d = if (subs(j).doc < target) subs(j).advance(target) else subs(j).doc
          if (d == NoMoreDocs) { doc = NoMoreDocs; return doc }
          if (d > target) { target = d; agreed = false }
          j += 1
        }
      }
      doc = target
      doc
    }

    def nextDoc(): Long = {
      val d = subs(0).nextDoc()
      if (d == NoMoreDocs) { doc = NoMoreDocs; doc } else align(d)
    }
    def advance(target: Long): Long = {
      val d = subs(0).advance(target)
      if (d == NoMoreDocs) { doc = NoMoreDocs; doc } else align(d)
    }
    def score(): Double = {
      var s = 0d
      var j = 0
      while (j < subs.length) { s += subs(j).score(); j += 1 }
      s
    }
  }

  /** Doc-ordered disjunction with minShouldMatch —
    * `core/search/DisjunctionSumScorer.java:24`,
    * `BooleanScorerSupplier.java:283-305`. Linear scan over sub-cursors
    * (clause counts are small after rewrite).
    */
  final class DisjunctionCursor(subs: Array[DocCursor], minShouldMatch: Int) extends DocCursor {
    var doc: Long = -1
    val maxScoreBound: Double = subs.map(_.maxScoreBound).sum

    private def minDoc(): Long = {
      var m = NoMoreDocs
      var j = 0
      while (j < subs.length) { if (subs(j).doc < m) m = subs(j).doc; j += 1 }
      m
    }
    @inline private def matchCount(d: Long): Int = {
      var c = 0
      var j = 0
      while (j < subs.length) { if (subs(j).doc == d) c += 1; j += 1 }
      c
    }
    private def seek(first: Long): Long = {
      var d = first
      while (d != NoMoreDocs && matchCount(d) < minShouldMatch) {
        var j = 0
        while (j < subs.length) { if (subs(j).doc == d) subs(j).nextDoc(); j += 1 }
        d = minDoc()
      }
      doc = d
      doc
    }
    def nextDoc(): Long = {
      if (doc == -1) { var j = 0; while (j < subs.length) { subs(j).nextDoc(); j += 1 } }
      else {
        var j = 0
        while (j < subs.length) { if (subs(j).doc == doc) subs(j).nextDoc(); j += 1 }
      }
      seek(minDoc())
    }
    def advance(target: Long): Long = {
      var j = 0
      while (j < subs.length) { if (subs(j).doc < target) subs(j).advance(target); j += 1 }
      seek(minDoc())
    }
    def score(): Double = {
      var s = 0d
      var j = 0
      while (j < subs.length) { if (subs(j).doc == doc) s += subs(j).score(); j += 1 }
      s
    }
  }

  /** Disjunction scored with max + tieBreak*(sum-max) —
    * `core/search/DisjunctionMaxScorer.java`.
    */
  final class DisMaxCursor(subs: Array[DocCursor], tieBreak: Double) extends DocCursor {
    private val disj = new DisjunctionCursor(subs, 1)
    def doc: Long = disj.doc
    val maxScoreBound: Double =
      subs.map(_.maxScoreBound).max + tieBreak * subs.map(_.maxScoreBound).sum
    def nextDoc(): Long = disj.nextDoc()
    def advance(target: Long): Long = disj.advance(target)
    def score(): Double = {
      var mx = 0d
      var sum = 0d
      var j = 0
      while (j < subs.length) {
        if (subs(j).doc == doc) {
          val s = subs(j).score()
          if (s > mx) mx = s
          sum += s
        }
        j += 1
      }
      mx + tieBreak * (sum - mx)
    }
  }

  /** Terms scored as one pseudo-term (freq = sum at doc) —
    * `core/search/SynonymQuery.java` (blended df handled by the scorer
    * the caller provides).
    */
  final class SynonymCursor(subs: Array[TermCursor], scorer: AnyScorer) extends DocCursor {
    private val disj = new DisjunctionCursor(subs.map(x => x: DocCursor), 1)
    def doc: Long = disj.doc
    val maxScoreBound: Double = scorer.globalMax
    def nextDoc(): Long = disj.nextDoc()
    def advance(target: Long): Long = disj.advance(target)
    def score(): Double = {
      var f = 0
      var norm: Byte = 0
      var j = 0
      while (j < subs.length) {
        if (subs(j).doc == doc) { f += subs(j).freq; norm = subs(j).norm }
        j += 1
      }
      scorer.score(f, norm)
    }
  }

  /** Query-time weighted BM25F — `core/search/CombinedFieldQuery.java:398-447`
    * (CombinedFieldScorer) + `MultiNormsLeafSimScorer.java:147-187`
    * (MultiFieldNormValues): a disjunction over the term's per-field
    * postings; freq = sum of weight * tf over matching fields (float in
    * float mode, `:430-437`); the per-doc norm re-quantises the weighted
    * sum of each PRESENT field's decoded length (`:163-175`), with field
    * presence read from the `@norms:F` sidecar cursors (the norms
    * doc-values analogue). `normSubs`/`normWeights` align with the
    * query's name-sorted field order.
    */
  final class CombinedFieldCursor(
      subs: Array[TermCursor], weights: Array[Float],
      normSubs: Array[TermCursor], normWeights: Array[Float],
      scorer: AnyScorer
  ) extends DocCursor {
    private val disj = new DisjunctionCursor(subs.map(x => x: DocCursor), 1)
    private val floatFreq = scorer.isInstanceOf[FloatScorer]
    def doc: Long = disj.doc
    val maxScoreBound: Double = scorer.globalMax
    def nextDoc(): Long = disj.nextDoc()
    def advance(target: Long): Long = disj.advance(target)
    def score(): Double = {
      // weighted freq in the similarity's precision
      var freq = 0d
      if (floatFreq) {
        var f = 0f
        var j = 0
        while (j < subs.length) {
          if (subs(j).doc == doc) f += subs(j).freq * weights(j)
          j += 1
        }
        freq = f.toDouble
      } else {
        var j = 0
        while (j < subs.length) {
          if (subs(j).doc == doc) freq += subs(j).freq.toDouble * weights(j).toDouble
          j += 1
        }
      }
      // combined norm over PRESENT fields (advanceExact semantics)
      var nv = 0f
      var j = 0
      while (j < normSubs.length) {
        val nc = normSubs(j)
        if (nc.doc < doc) nc.advance(doc)
        if (nc.doc == doc)
          nv += normWeights(j) * graft.util.SmallFloat.LengthTable(nc.norm & 0xff)
        j += 1
      }
      val combined = graft.util.SmallFloat.intToByte4(Math.round(nv))
      scorer.scoreF(freq, combined)
    }
  }

  /** Post-hoc multiplicative boost for clauses whose boost can't fold
    * into a leaf weight (see BoostQ doc) — score = boost * inner score,
    * one double multiply on the clause's (float-valued in float mode)
    * score.
    */
  final class BoostCursor(inner: DocCursor, boost: Double) extends DocCursor {
    def doc: Long = inner.doc
    val maxScoreBound: Double = boost * inner.maxScoreBound
    def nextDoc(): Long = inner.nextDoc()
    def advance(target: Long): Long = inner.advance(target)
    def score(): Double = boost * inner.score()
  }

  /** Required minus excluded — `core/search/ReqExclScorer.java:26`. */
  final class ExclusionCursor(req: DocCursor, excl: DocCursor) extends DocCursor {
    var doc: Long = -1
    val maxScoreBound: Double = req.maxScoreBound
    excl.nextDoc()

    private def skipExcluded(start: Long): Long = {
      var d = start
      while (d != NoMoreDocs) {
        if (excl.doc < d) excl.advance(d)
        if (excl.doc != d) { doc = d; return d }
        d = req.nextDoc()
      }
      doc = NoMoreDocs
      doc
    }
    def nextDoc(): Long = skipExcluded(req.nextDoc())
    def advance(target: Long): Long = skipExcluded(req.advance(target))
    def score(): Double = req.score()
  }

  /** Required with optional score boost — `core/search/ReqOptSumScorer.java:29`. */
  final class ReqOptCursor(req: DocCursor, opt: DocCursor) extends DocCursor {
    var doc: Long = -1
    val maxScoreBound: Double = req.maxScoreBound + opt.maxScoreBound
    opt.nextDoc()
    def nextDoc(): Long = { doc = req.nextDoc(); doc }
    def advance(target: Long): Long = { doc = req.advance(target); doc }
    def score(): Double = {
      var s = req.score()
      if (opt.doc < doc) opt.advance(doc)
      if (opt.doc == doc) s += opt.score()
      s
    }
  }

  /** Exact phrase: conjunction of term cursors + consecutive-position
    * verification (two-phase iteration,
    * `core/search/ExactPhraseMatcher.java:39`,
    * `core/search/TwoPhaseIterator.java:30`). `phraseFreq` = number of
    * phrase starts; scored like a single pseudo-term whose idf is the sum
    * of member idfs (`BM25Similarity.idfExplain` array overload).
    */
  final class PhraseCursor(terms: Array[TermCursor], scorer: AnyScorer) extends DocCursor {
    private val conj = new ConjunctionCursor(terms.map(x => x: DocCursor))
    var doc: Long = -1
    var phraseFreq: Int = 0
    val maxScoreBound: Double = scorer.globalMax

    private def verify(): Boolean = {
      // count start positions p such that term i occurs at p + i
      val first = terms(0).positions
      var count = 0
      var a = 0
      while (a < first.length) {
        val p = first(a)
        var ok = true
        var t = 1
        while (t < terms.length && ok) {
          ok = java.util.Arrays.binarySearch(terms(t).positions, p + t) >= 0
          t += 1
        }
        if (ok) count += 1
        a += 1
      }
      phraseFreq = count
      count > 0
    }

    private def seek(start: Long): Long = {
      var d = start
      while (d != NoMoreDocs && !verify()) d = conj.nextDoc()
      doc = d
      doc
    }
    def nextDoc(): Long = seek(conj.nextDoc())
    def advance(target: Long): Long = seek(conj.advance(target))
    def score(): Double = scorer.score(phraseFreq, terms(0).norm)
  }

  /** Sloppy phrase: conjunction approximation + the reference's greedy
    * match-length minimisation over a position priority queue
    * (`core/search/SloppyPhraseMatcher.java:54,189-221`). A match's weight
    * is 1/(1+matchLength); the doc's sloppy freq is the float sum of match
    * weights (`PhraseScorer`), scored like a phrase pseudo-term.
    *
    * Repeated terms (e.g. `"foo bar foo"~2`) follow the reference's
    * rptGroups algorithm (`SloppyPhraseMatcher.java:296-338,449-481`):
    * slots of the same term form a repetition group sorted by query
    * offset; at each doc the j-th slot of a group starts j occurrences in
    * (the no-collision start condition, `advanceRepeatGroups`), and
    * whenever an advance lands two slots of one group on the SAME actual
    * token position, the lesser of the two (by position, then offset) is
    * advanced until the collision clears (`advanceRpts`/`collide`/
    * `lesser`). So N slots of a term always consume N distinct
    * occurrences — a doc with fewer occurrences than slots never matches.
    * Group DETECTION is static (postings-list identity): on a
    * one-token-per-position index this is exactly the reference's
    * first-candidate-doc tpPos heuristic (`gatherRptGroups`, `:540-569`);
    * the reference's accidental grouping of distinct terms that happen to
    * share a token position in the first doc of a graph-token index is
    * deliberately not reproduced. The differential oracle
    * (NaiveOracle.sloppyFreq) implements the identical algorithm
    * independently, so engine and oracle agree on every repeated-term
    * shape.
    */
  final class SloppyPhraseCursor(terms: Array[TermCursor], slop: Int, scorer: AnyScorer)
      extends DocCursor {
    private val conj = new ConjunctionCursor(terms.map(x => x: DocCursor))
    var doc: Long = -1
    var sloppyFreq: Double = 0d
    val maxScoreBound: Double = scorer.globalMax

    // Repetition groups: slot indices sharing one postings list (= one
    // term), ascending query offset; rptGroup(i) = group id or -1.
    private val rptGroup: Array[Int] = {
      val g = Array.fill(terms.length)(-1)
      var nextG = 0
      var i = 0
      while (i < terms.length) {
        if (g(i) < 0) {
          var j = i + 1
          while (j < terms.length) {
            if (g(j) < 0 && (terms(j).pl eq terms(i).pl)) {
              if (g(i) < 0) { g(i) = nextG; nextG += 1 }
              g(j) = g(i)
            }
            j += 1
          }
        }
        i += 1
      }
      g
    }
    private val rptGroups: Array[Array[Int]] = {
      val n = if (rptGroup.isEmpty) 0 else rptGroup.max + 1
      Array.tabulate(n)(gi => terms.indices.filter(rptGroup(_) == gi).toArray)
    }
    private val hasRpts: Boolean = rptGroups.nonEmpty

    // per-doc greedy-walk state (fields, not locals: nested helpers mutate
    // them without closure boxing; arrays are fixed-size, allocated once)
    private val nSlots = terms.length
    private val streams = new Array[Array[Int]](nSlots)
    private val idx = new Array[Int](nSlots)
    private val cur = new Array[Int](nSlots)
    private var end = 0

    // advance slot k to its next position, maintaining end; false = exhausted
    private def advancePP(k: Int): Boolean = {
      if (idx(k) + 1 >= streams(k).length) false
      else {
        idx(k) += 1
        cur(k) = streams(k)(idx(k))
        if (cur(k) > end) end = cur(k)
        true
      }
    }
    // actual token position of slot k (position + query offset)
    @inline private def tpPos(k: Int): Int = cur(k) + k
    // slot in k's group occupying the same token position, or -1
    private def collide(k: Int): Int = {
      val rg = rptGroups(rptGroup(k))
      val t = tpPos(k)
      var x = 0
      while (x < rg.length) {
        val k2 = rg(x)
        if (k2 != k && tpPos(k2) == t) return k2
        x += 1
      }
      -1
    }
    @inline private def lesser(a: Int, b: Int): Int =
      if (cur(a) < cur(b) || (cur(a) == cur(b) && a < b)) a else b
    // k was just advanced; clear any repeat collision by advancing the
    // lesser of the colliding pair until none remain; false = exhausted
    private def advanceRpts(k0: Int): Boolean = {
      if (rptGroup(k0) < 0) return true
      var k = k0
      var c = collide(k)
      while (c >= 0) {
        k = lesser(k, c)
        if (!advancePP(k)) return false
        c = collide(k)
      }
      true
    }
    // argmin by (position, queryOffset); optionally excluding one index
    private def argMin(exclude: Int): Int = {
      var best = -1
      var j = 0
      while (j < nSlots) {
        if (j != exclude && (best < 0 || cur(j) < cur(best))) best = j
        j += 1
      }
      best
    }

    /** Greedy PQ walk over offset-adjusted positions; returns the summed
      * match weights (0 = no match with span <= slop). Only one cursor is
      * ever "popped" at a time, so the priority queue is modelled
      * implicitly: the popped index `pp` advances until its position
      * exceeds the min of the others (`next`), exactly the loop of
      * `SloppyPhraseMatcher.nextMatch` (`:189-221`), with repeat-collision
      * resolution after every advance when the phrase has repeated terms.
      */
    private def computeFreq(): Double = {
      // adjusted position streams: pos - queryOffset
      var i = 0
      while (i < nSlots) {
        val ps = terms(i).positions
        val adj = new Array[Int](ps.length)
        var j = 0
        while (j < ps.length) { adj(j) = ps(j) - i; j += 1 }
        streams(i) = adj
        idx(i) = 0
        cur(i) = adj(0)
        i += 1
      }
      // start condition for repeats: the j-th slot of each group is
      // advanced j times so the group occupies j distinct occurrences
      // (`advanceRepeatGroups`, simple case `:469-477`)
      if (hasRpts) {
        var gi = 0
        while (gi < rptGroups.length) {
          val rg = rptGroups(gi)
          var j = 1
          while (j < rg.length) {
            val s = rg(j)
            if (idx(s) + j >= streams(s).length) return 0d // PPs exhausted
            idx(s) += j
            cur(s) = streams(s)(idx(s))
            j += 1
          }
          gi += 1
        }
      }
      end = Int.MinValue
      i = 0
      while (i < nSlots) { if (cur(i) > end) end = cur(i); i += 1 }

      var freq = 0d
      var pp = argMin(-1)
      var matchLength = end - cur(pp)
      var next = cur(argMin(pp))
      var live = true
      while (live) {
        if (!advancePP(pp) || (hasRpts && !advanceRpts(pp))) {
          // pps exhausted: the final candidate match
          if (matchLength <= slop) freq += 1d / (1d + matchLength)
          live = false
        } else {
          if (cur(pp) > next) { // done minimising the current match-length
            if (matchLength <= slop) freq += 1d / (1d + matchLength)
            pp = argMin(-1)
            next = cur(argMin(pp))
            matchLength = end - cur(pp)
          } else {
            val m2 = end - cur(pp)
            if (m2 < matchLength) matchLength = m2
          }
        }
      }
      freq
    }

    private def seek(start: Long): Long = {
      var d = start
      while (d != NoMoreDocs) {
        sloppyFreq = computeFreq()
        if (sloppyFreq > 0d) { doc = d; return d }
        d = conj.nextDoc()
      }
      doc = NoMoreDocs
      doc
    }
    def nextDoc(): Long = seek(conj.nextDoc())
    def advance(target: Long): Long = seek(conj.advance(target))
    def score(): Double = scorer.scoreF(sloppyFreq, terms(0).norm)
  }

  /** Interval query cursor (`intervals/IntervalQuery.java:59`):
    * conjunction approximation over the source's leaf terms, two-phase
    * verified per doc by the canonical minimal-interval evaluation
    * ([[IntervalEval]]); scored by the saturation scorer over the
    * interval pseudo-frequency (`IntervalScorer.java:60-67`).
    */
  final class IntervalCursor(termNames: Array[String], terms: Array[TermCursor],
      src: graft.query.ISrc, scorer: AnyScorer)
      extends DocCursor {
    private val conj = new ConjunctionCursor(terms.map(x => x: DocCursor))
    var doc: Long = -1
    private var freqD: Double = 0d
    val maxScoreBound: Double = scorer.globalMax

    private def computeFreq(): Double = {
      val posOf: String => Array[Int] = { t =>
        var i = 0
        while (i < termNames.length && termNames(i) != t) i += 1
        if (i < termNames.length) terms(i).positions else Array.emptyIntArray
      }
      IntervalEval.freq(src, posOf)
    }

    private def seek(start: Long): Long = {
      var d = start
      while (d != NoMoreDocs) {
        freqD = computeFreq()
        if (freqD > 0d) { doc = d; return d }
        d = conj.nextDoc()
      }
      doc = NoMoreDocs
      doc
    }
    def nextDoc(): Long = seek(conj.nextDoc())
    def advance(target: Long): Long = seek(conj.advance(target))
    def score(): Double = scorer.scoreF(freqD, 0)
  }

  /** Phrase with per-slot alternatives —
    * `core/search/MultiPhraseQuery.java:54` (union postings per slot,
    * then exact-phrase verification over merged positions). freq = number
    * of matching start positions; norm taken from any alternative on the
    * doc (norms are per-doc).
    */
  final class MultiPhraseCursor(slots: Array[Array[TermCursor]], scorer: AnyScorer)
      extends DocCursor {
    private val slotCursors: Array[DocCursor] = slots.map { alts =>
      if (alts.length == 1) alts(0): DocCursor
      else new DisjunctionCursor(alts.map(x => x: DocCursor), 1)
    }
    private val conj =
      if (slotCursors.length == 1) slotCursors(0)
      else new ConjunctionCursor(slotCursors)
    var doc: Long = -1
    var phraseFreq: Int = 0
    val maxScoreBound: Double = scorer.globalMax

    private def mergedPositions(alts: Array[TermCursor]): Array[Int] = {
      var single: Array[Int] = null
      var count = 0
      var j = 0
      while (j < alts.length) {
        if (alts(j).doc == doc0) {
          if (single == null) single = alts(j).positions
          else if (count == 1) single = null // fall through to general merge
          count += 1
        }
        j += 1
      }
      if (count == 1) return single
      val bufs = alts.filter(_.doc == doc0).map(_.positions)
      val out = new Array[Int](bufs.map(_.length).sum)
      var o = 0
      bufs.foreach { b => System.arraycopy(b, 0, out, o, b.length); o += b.length }
      java.util.Arrays.sort(out)
      out
    }

    private var doc0: Long = -1

    private def verify(): Boolean = {
      doc0 = conj.doc
      val pos = slots.map(mergedPositions)
      val first = pos(0)
      var count = 0
      var a = 0
      while (a < first.length) {
        val p = first(a)
        var ok = true
        var t = 1
        while (t < pos.length && ok) {
          ok = java.util.Arrays.binarySearch(pos(t), p + t) >= 0
          t += 1
        }
        if (ok) count += 1
        a += 1
      }
      phraseFreq = count
      count > 0
    }

    private def seek(start: Long): Long = {
      var d = start
      while (d != NoMoreDocs && !verify()) d = conj.nextDoc()
      doc = d
      doc
    }
    def nextDoc(): Long = seek(conj.nextDoc())
    def advance(target: Long): Long = seek(conj.advance(target))
    def score(): Double = {
      val norm = slots(0).find(_.doc == doc).map(_.norm).getOrElse(0: Byte)
      scorer.score(phraseFreq, norm)
    }
  }

  /** Required clause that contributes NO score — `Occur.FILTER`
    * (`core/search/BooleanQuery.java:40`).
    */
  final class NonScoringCursor(inner: DocCursor) extends DocCursor {
    def doc: Long = inner.doc
    val maxScoreBound: Double = 0d
    def nextDoc(): Long = inner.nextDoc()
    def advance(target: Long): Long = inner.advance(target)
    def score(): Double = 0d
  }

  /** Matches the inner cursor, scores a constant —
    * `core/search/ConstantScoreQuery.java:28`.
    */
  final class ConstScoreCursor(inner: DocCursor, boost: Double) extends DocCursor {
    def doc: Long = inner.doc
    val maxScoreBound: Double = boost
    def nextDoc(): Long = inner.nextDoc()
    def advance(target: Long): Long = inner.advance(target)
    def score(): Double = boost
  }

  /** Cursor over a sorted docId array — the liveDocs/tombstone exclusion
    * side (`core/codecs/lucene90/Lucene90LiveDocsFormat.java:49` analogue).
    */
  final class SortedDocsCursor(ids: Array[Long]) extends DocCursor {
    private var i = -1
    var doc: Long = -1
    val maxScoreBound: Double = 0d
    def nextDoc(): Long = { i += 1; doc = if (i < ids.length) ids(i) else NoMoreDocs; doc }
    def advance(target: Long): Long = {
      var lo = math.max(i, 0)
      if (doc >= target) return doc
      // galloping then binary search over the remaining range
      var hi = ids.length
      var step = 1
      var probe = lo + step
      while (probe < hi && ids(probe) < target) { lo = probe; step <<= 1; probe = lo + step }
      if (probe < hi) hi = probe + 1
      var a = lo
      var b = hi
      while (a < b) {
        val m = (a + b) >>> 1
        if (ids(m) < target) a = m + 1 else b = m
      }
      i = a
      doc = if (i < ids.length) ids(i) else NoMoreDocs
      doc
    }
    def score(): Double = 0d
  }

  // ---- root drivers ---------------------------------------------------------

  /** Final score cast at the collector boundary. In float mode the double
    * clause sum is cast to float BEFORE heap insertion, so ties are broken
    * by docId exactly as the reference's HitQueue does on float scores
    * (`TopScoreDocCollector` collects `(float)` sums, `HitQueue.java:76-82`).
    * Safe for pruning too: score sums are monotone under the float cast,
    * so casting an upper bound keeps it an upper bound.
    */
  @inline def fin(s: Double, floatMode: Boolean): Double =
    if (floatMode) s.toFloat.toDouble else s

  /** Exhaustive driver: stream every match of the root cursor into the heap. */
  def collectAll(root: DocCursor, k: Int, floatMode: Boolean = false): Array[(Long, Double)] = {
    val heap = new HitHeap(k)
    var d = root.nextDoc()
    while (d != NoMoreDocs) {
      heap.insert(fin(root.score(), floatMode), d)
      d = root.nextDoc()
    }
    heap.result()
  }

  /** Stream matching docIds of the root cursor — no scoring, no heap. */
  def docsAll(root: DocCursor): Iterator[Long] = new Iterator[Long] {
    private var d = root.nextDoc()
    def hasNext: Boolean = d != NoMoreDocs
    def next(): Long = { val out = d; d = root.nextDoc(); out }
  }

  /** Dense/large disjunction: term-at-a-time accumulation —
    * the Spark-kernel analogue of `core/search/BooleanScorer.java:31`
    * (windowed bitset scoring for dense disjunctions; here the "window"
    * is the whole segment, whose size is bounded by build config).
    * Used when the clause count makes document-at-a-time WAND's per-doc
    * cursor overhead dominate (multi-term expansions). Rank-identical.
    */
  def taatTopK(cursors: Array[TermCursor], k: Int, minShouldMatch: Int = 1,
      floatMode: Boolean = false): Array[(Long, Double)] = {
    // windowed accumulation into primitive arrays — the reference's dense-
    // disjunction BooleanScorer (`core/search/BooleanScorer.java:31-34`,
    // 4096-doc windows): no per-doc boxing, sequential memory access.
    val Window = 4096
    val scores = new Array[Double](Window)
    val matches = new Array[Int](Window)
    val heap = new HitHeap(k)
    val live = cursors.filter(_.nextDoc() != NoMoreDocs)
    if (live.isEmpty) return heap.result()
    var done = false
    while (!done) {
      var base = NoMoreDocs
      var j = 0
      while (j < live.length) {
        if (live(j).doc < base) base = live(j).doc
        j += 1
      }
      if (base == NoMoreDocs) done = true
      else {
        val end = base + Window
        var maxOff = 0
        j = 0
        while (j < live.length) {
          val c = live(j)
          var d = c.doc
          while (d < end && d != NoMoreDocs) {
            val off = (d - base).toInt
            scores(off) += c.score()
            matches(off) += 1
            if (off > maxOff) maxOff = off
            d = c.nextDoc()
          }
          j += 1
        }
        var off = 0
        while (off <= maxOff) {
          if (matches(off) >= minShouldMatch)
            heap.insert(fin(scores(off), floatMode), base + off)
          scores(off) = 0d
          matches(off) = 0
          off += 1
        }
      }
    }
    heap.result()
  }

  /** Block-max WAND over term cursors (pure disjunction, msm=1) —
    * `core/search/WANDScorer.java:55` (Broder et al. two-level retrieval),
    * with block-max skipping. Rank-identical to exhaustive evaluation.
    */
  def wandTopK(cursors: Array[TermCursor], k: Int, floatMode: Boolean = false): Array[(Long, Double)] = {
    val heap = new HitHeap(k)
    val subs: Array[TermCursor] = cursors.filter(_.nextDoc() != NoMoreDocs)
    if (subs.isEmpty) return heap.result()

    val ub = subs.map(_.maxScoreBound) // static per-term upper bounds

    // order(0..live-1): cursor indices sorted by current doc; exhausted at the end
    val order = subs.indices.toArray

    def sortOrder(): Unit = {
      // insertion sort by current doc — order is nearly sorted between
      // iterations (only advanced cursors move right), so this is ~O(moved)
      var a = 1
      while (a < order.length) {
        val v = order(a)
        val dv = subs(v).doc
        var b = a - 1
        while (b >= 0 && subs(order(b)).doc > dv) { order(b + 1) = order(b); b -= 1 }
        order(b + 1) = v
        a += 1
      }
    }

    // every cursor is live after the filter above
    var live = order.length

    while (live > 0) {
      sortOrder()
      // exhausted cursors sit on NoMoreDocs (Long.MaxValue) and sort last
      live = order.length
      while (live > 0 && subs(order(live - 1)).doc == NoMoreDocs) live -= 1
      if (live == 0) return heap.result()
      val threshold = heap.minScore
      // find pivot: smallest prefix of live cursors whose UB sum can beat threshold
      var acc = 0d
      var p = -1
      var j = 0
      while (j < live && p < 0) {
        acc += ub(order(j))
        if (!heap.full || fin(acc, floatMode) > threshold) p = j
        j += 1
      }
      if (p < 0) return heap.result() // nothing can be competitive any more
      val pivotDoc = subs(order(p)).doc
      if (pivotDoc == NoMoreDocs) return heap.result()
      // extend the pivot group over every cursor already on pivotDoc, so the
      // block-max bound below covers the doc's full potential score
      while (p + 1 < live && subs(order(p + 1)).doc == pivotDoc) p += 1
      if (subs(order(0)).doc == pivotDoc) {
        // all cursors [0..p] are on pivotDoc (doc-sorted): block-max check
        var blockUb = 0d
        var jj = 0
        while (jj <= p) { blockUb += subs(order(jj)).blockMaxScore; jj += 1 }
        if (!heap.full || fin(blockUb, floatMode) > threshold) {
          // score pivotDoc fully: advance all cursors to pivotDoc
          var s = 0d
          var m = 0
          while (m < subs.length) {
            val c = subs(m)
            if (c.doc < pivotDoc) c.advance(pivotDoc)
            if (c.doc == pivotDoc) s += c.score()
            m += 1
          }
          heap.insert(fin(s, floatMode), pivotDoc)
          // advance everything sitting on pivotDoc
          m = 0
          while (m < subs.length) {
            if (subs(m).doc == pivotDoc) subs(m).nextDoc()
            m += 1
          }
        } else {
          // skip: jump the pivot group past the earliest block boundary, but
          // never past the next non-group cursor's doc — docs from there on
          // get additional score mass the block bound didn't cover
          var upTo = Long.MaxValue
          var jj2 = 0
          while (jj2 <= p) {
            val c = subs(order(jj2))
            if (c.blockLastDoc < upTo) upTo = c.blockLastDoc
            jj2 += 1
          }
          var nextOutside = NoMoreDocs
          if (p + 1 < order.length && subs(order(p + 1)).doc != NoMoreDocs)
            nextOutside = subs(order(p + 1)).doc
          val target = math.max(pivotDoc + 1, math.min(upTo + 1, nextOutside))
          var jj3 = 0
          while (jj3 <= p) {
            val c = subs(order(jj3))
            if (c.doc < target) c.advance(target)
            jj3 += 1
          }
        }
      } else {
        // advance the first cursor below pivot up to pivotDoc
        subs(order(0)).advance(pivotDoc)
      }
    }
    heap.result()
  }

  /** Conjunction of terms with block-max pruning —
    * `core/search/BlockMaxConjunctionBulkScorer.java`. Rank-identical to
    * exhaustive evaluation.
    */
  def conjunctionTopK(cursors: Array[TermCursor], k: Int,
      floatMode: Boolean = false): Array[(Long, Double)] = {
    val heap = new HitHeap(k)
    val sorted = cursors // caller orders by cost (rarest lead)
    val conj = new ConjunctionCursor(sorted.map(x => x: DocCursor))
    var d = conj.nextDoc()
    while (d != NoMoreDocs) {
      if (heap.full) {
        // block-max check before scoring
        var ub = 0d
        var j = 0
        while (j < sorted.length) { ub += sorted(j).blockMaxScore; j += 1 }
        if (fin(ub, floatMode) > heap.minScore) heap.insert(fin(conj.score(), floatMode), d)
      } else heap.insert(fin(conj.score(), floatMode), d)
      d = conj.nextDoc()
    }
    heap.result()
  }

  /** Single term with impact-based block skipping once the heap is full —
    * `core/search/TermScorer.java:35` + `ImpactsDISI.java:74-97`.
    */
  def termTopK(cursor: TermCursor, k: Int, floatMode: Boolean = false): Array[(Long, Double)] = {
    val heap = new HitHeap(k)
    var d = cursor.nextDoc()
    while (d != NoMoreDocs) {
      if (heap.full && fin(cursor.blockMaxScore, floatMode) <= heap.minScore) {
        // whole block non-competitive -> skip it
        d = cursor.advance(cursor.blockLastDoc + 1)
      } else {
        heap.insert(fin(cursor.score(), floatMode), d)
        d = cursor.nextDoc()
      }
    }
    heap.result()
  }
}
