package graft.exec

import graft.model.{FieldStats, TermStats}
import graft.util.SmallFloat

/** BM25 scoring with reference float-op-order parity.
  *
  * Math re-derived from `core/search/similarities/BM25Similarity.java`:
  *  - idf = (float) log(1 + (N - df + 0.5) / (df + 0.5))   (`:101-103`)
  *  - avgdl = (float)(sumTotalTermFreq / (double) docCount) (`:106-108`)
  *  - cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl)) (`:178-181`)
  *  - weight = boost * idf (float)                           (`:216`)
  *  - score(freq, norm) = weight - weight / (1f + freq * cache[norm & 0xFF]) (`:221-233`)
  * Defaults k1=1.2, b=0.75 (`:96-97`). Clause scores are summed in double
  * then cast to float at the end (`ConjunctionScorer.java:57-63`,
  * `WANDScorer.java:553-561`).
  *
  * A parallel double-precision mode (`TermScorerD`) exists for
  * SQL-oracle-comparable outputs; the float mode is the rank-identity
  * contract.
  */
object BM25 {
  val K1: Float = 1.2f
  val B: Float = 0.75f

  def idf(df: Long, docCount: Long): Float =
    Math.log(1 + (docCount - df + 0.5d) / (df + 0.5d)).toFloat

  def idfDouble(df: Long, docCount: Long): Double =
    Math.log(1 + (docCount - df + 0.5d) / (df + 0.5d))

  /** Per-term float scorer over its field's shared 256-entry norm-inverse
    * table ([[cacheF]]).
    */
  final class TermScorer(val weight: Float, cache: Array[Float]) extends Serializable {
    @inline def score(freq: Int, norm: Byte): Float = {
      val normInverse = cache(norm & 0xff)
      weight - weight / (1f + freq * normInverse)
    }

    /** Float-freq variant — sloppy phrase freq is a float sum of match
      * weights (`SloppyPhraseMatcher.sloppyWeight`, `PhraseScorer`).
      */
    @inline def scoreF(freq: Float, norm: Byte): Float = {
      val normInverse = cache(norm & 0xff)
      weight - weight / (1f + freq * normInverse)
    }

    /** Upper bound of the score for any posting with freq <= maxFreq and
      * doc length >= length(minNorm) — block-max pruning bound
      * (reference: impacts, `core/index/ImpactsEnum.java`,
      * `core/search/ImpactsDISI.java:74-97`). Valid because score is
      * monotone increasing in freq and in normInverse.
      */
    @inline def maxScore(maxFreq: Int, minNorm: Byte): Float = score(maxFreq, minNorm)

    /** Absolute cap used before any block metadata is known. */
    def globalMaxScore: Float = weight // limit of score as freq -> inf
  }

  def termScorer(stats: TermStats, field: FieldStats, boost: Float = 1f): TermScorer =
    new TermScorer(boost * idf(stats.df, field.docCount), cacheF(field))

  /** Double-precision scorer over byte-quantised lengths; used for the
    * driver's DuckDB-oracle-checked queries (same quantisation, double
    * arithmetic both sides, rounded on output).
    */
  final class TermScorerD(val weight: Double, cache: Array[Double]) extends Serializable {
    @inline def score(freq: Int, norm: Byte): Double = {
      val normInverse = cache(norm & 0xff)
      weight - weight / (1d + freq * normInverse)
    }
    @inline def scoreF(freq: Double, norm: Byte): Double = {
      val normInverse = cache(norm & 0xff)
      weight - weight / (1d + freq * normInverse)
    }
    @inline def maxScore(maxFreq: Int, minNorm: Byte): Double = score(maxFreq, minNorm)
    def globalMaxScore: Double = weight
  }

  /** Norm-inverse tables, one per field statistics: every term and
    * phrase scorer of a field holds the same (read-only) array, so a
    * shipped scorer table serializes each field's table once. Memoized
    * JVM-wide; the maps are cleared past a fixed size, like
    * `FileLiveDocs.cache`.
    */
  def cacheF(fs: FieldStats): Array[Float] =
    memo(tablesF, fs) {
      val avgdl = fs.avgdl
      Array.tabulate(256)(i =>
        1f / (K1 * ((1 - B) + B * SmallFloat.LengthTable(i) / avgdl)))
    }
  def cacheD(fs: FieldStats): Array[Double] =
    memo(tablesD, fs) {
      val avgdl = fs.avgdlDouble
      Array.tabulate(256)(i =>
        1d / (1.2d * (0.25d + 0.75d * SmallFloat.byte4ToInt(i.toByte) / avgdl)))
    }

  private val MaxTables = 1024
  private val tablesF = new java.util.concurrent.ConcurrentHashMap[FieldStats, Array[Float]]()
  private val tablesD = new java.util.concurrent.ConcurrentHashMap[FieldStats, Array[Double]]()

  private def memo[A <: AnyRef](m: java.util.concurrent.ConcurrentHashMap[FieldStats, A],
      fs: FieldStats)(build: => A): A = {
    val hit = m.get(fs)
    if (hit != null) hit
    else {
      if (m.size > MaxTables) m.clear()
      val v = build
      val prev = m.putIfAbsent(fs, v)
      if (prev != null) prev else v
    }
  }

  /** Double mode uses the exact decimal constants 1.2 / 0.75 (not the
    * float-widened values) so a SQL oracle can reproduce it literally.
    */
  def termScorerD(stats: TermStats, field: FieldStats, boost: Double = 1d): TermScorerD =
    new TermScorerD(boost * idfDouble(stats.df, field.docCount), cacheD(field))
}
