package graft.driverapi

import graft.build.{Index, IndexBuilder, InputDoc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

/** Adapter: the driver's `documents` table -> engine corpus.
  *
  * Segment routing is by doc_id *range* (not hash) so engine docIds are
  * monotone in doc_id — then the engine's tie-break (score desc, docId
  * asc, `core/search/HitQueue.java:76-82`) is expressible in ANSI SQL as
  * `ORDER BY score DESC, doc_id ASC` for the DuckDB oracle.
  */
object Corpus {
  /** Segments scale with corpus size (one segment ~ the docs an executor
    * inverts in memory; ~25k docs/segment here), clamped so tiny test
    * tables still exercise multi-segment paths — no fixed segment count.
    */
  def numSegments(docSpan: Long): Int =
    math.max(4, math.min(128, (docSpan / 25000L).toInt + 1))

  /** How one variant index is made from the documents table: the
    * analyzer mode, the posting format, and an optional text derivation
    * `(regex, replacement)` applied to `text` first — deterministic, so
    * the engine and the DuckDB oracle see the same table.
    */
  final case class Variant(mode: String,
      codec: String = graft.codec.PostingFormats.Default,
      derive: Option[(String, String)] = None)

  /** Every variant index of the documents table by name, in `prep` order. */
  val variants: ListMap[String, Variant] = ListMap(
    "std" -> Variant("std"),
    // WordDelimiterGraphFilter path ([[graft.analysis.CodeAnalyzer
    // .subTokenize]], `ft_subtoken_topk`) over a compound-word
    // derivation: adjacent word pairs are joined with '_'
    "sub" -> Variant("sub", derive = Some("([a-z]+) ([a-z0-9]+)" -> "$1_$2")),
    // combined content+path field, the BM25F/CombinedFieldQuery
    // materialisation (`ft_bm25f_topk`): `srcN` terms hit via the path field
    "all" -> Variant("all"),
    // position-preserving StopFilter (`ft_stop_*` entries)
    "stop" -> Variant("stop"),
    // ShingleFilter: unigrams + 2-shingles (`ft_shingle_topk`)
    "shingle" -> Variant("shingle"),
    // character-trigram NGramTokenizer (`ft_ngram_topk`)
    "ngram" -> Variant("ngram"),
    // std tokens encoded with [[graft.codec.VByteFormat]] (`ft_vbyte_topk`):
    // results must equal the PFOR index (codecs are semantics-transparent)
    "vbyte" -> Variant("std", codec = "vbyte"),
    // classic Porter algorithm ([[graft.analysis.Stemmer.porter]], `ft_porter_topk`)
    "porter" -> Variant("porter"),
    // std tokens, each carrying a 4-byte float payload = token length
    // ([[graft.analysis.Payloads.lengthFloat]], `ft_payload_topk`): per-
    // occurrence payloads a DuckDB oracle can recompute from the text
    "lenpayload" -> Variant("lenpayload"),
    // minimal English s-stemmer (`ft_stem_topk`) over a pluralized
    // derivation: the stemmer restores the ORIGINAL token stream exactly,
    // so the oracle is the plain BM25 SQL over the underived table, and a
    // hash match proves the stemmer ran (unstemmed, `stream` matches nothing)
    "enmin" -> Variant("enmin", derive = Some("\\bstream\\b" -> "streams")),
    // Savoy minimal French stemmer (`ft_french_topk`): `streams` is the
    // French plural marker and is restored exactly on this vocabulary
    "frmin" -> Variant("frmin", derive = Some("\\bstream\\b" -> "streams")),
    // Savoy minimal German stemmer (`ft_german_topk`): its `-nen` rule
    // restores the German infinitive `scannen` to `scan` exactly
    "demin" -> Variant("demin", derive = Some("\\bscan\\b" -> "scannen")),
    // german2 normalization (`ft_denorm_topk`) folds the umlauted
    // `gröup` back to `group` exactly
    "denorm" -> Variant("denorm", derive = Some("\\bgroup\\b" -> "gröup")))

  private val registry = TrieMap.empty[(SparkSession, String, String), Any]

  /** The artifact `name` of `dir`'s tables in `spark`, built on first use
    * and shared by every later caller in that session (cached Datasets die
    * with their session). A build may itself call `shared`: a concurrent
    * first use can build twice, and one result wins.
    */
  private[driverapi] def shared[A](spark: SparkSession, dir: String, name: String)(build: => A): A =
    registry.getOrElseUpdate((spark, dir, name), build).asInstanceOf[A]

  /** (engine index, docId->doc_id mapping) of one [[variants]] row. */
  def index(spark: SparkSession, dir: String, variant: String = "std"): (Index, DataFrame) = {
    val v = variants.getOrElse(variant,
      throw new IllegalArgumentException(s"unknown index variant: $variant"))
    shared(spark, dir, s"idx_$variant") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      build(spark, v.derive.fold(docs) { case (re, rep) =>
        docs.withColumn("text", regexp_replace(col("text"), re, rep))
      }, v.mode, v.codec)
    }
  }

  /** Char-ngram infix-pruning artifact over the std index's dictionary
    * ([[graft.exec.Suggest.infixGrams]]).
    */
  def infixGrams(spark: SparkSession, dir: String): DataFrame =
    shared(spark, dir, "infix_grams") {
      graft.exec.Suggest.infixGrams(index(spark, dir)._1).persist()
    }

  /** Backoff-ordered top-N unigram artifact for FreeText next-token
    * ([[graft.exec.Suggest.topUnigrams]], default alpha).
    */
  def topUnigrams(spark: SparkSession, dir: String): DataFrame =
    shared(spark, dir, "unigram_top") {
      graft.exec.Suggest.topUnigrams(index(spark, dir)._1).persist()
    }

  /** Documents table + a `ts` token-array column, tokenized ONCE per
    * session and cached — at 100 TB you tokenize into a shared column
    * instead of re-running the regex per analysis query. Consumers:
    * token counts, quality scoring, language id, fingerprints, dedup.
    */
  def docTokens(spark: SparkSession, dir: String): DataFrame =
    shared(spark, dir, "doc_tokens") {
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("ts", expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
        .persist()
    }

  /** `path` carries the table's `source` column — the second SCORED field
    * (`@path:` terms + `@norms:path` sidecar, see IndexBuilder.fieldTerm);
    * `commit` carries doc_id for the docId<->doc_id mapping.
    */
  private def build(spark: SparkSession, docs: DataFrame, analyzerMode: String,
      codec: String): (Index, DataFrame) = {
    import spark.implicits._
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val span = maxId / numSegments(maxId + 1) + 1
    val input = docs.select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)]
      .map { case (id, text, lang, source) =>
        InputDoc(
          seg = (id / span).toInt,
          sortKey = f"$id%012d",
          repo = "documents", path = source, commit = id.toString, lang = lang,
          content = text)
      }
    val index = IndexBuilder.buildInMemory(spark, input, analyzerMode, codec)
    index.postings.persist()
    index.docmeta.persist()
    index.termStats.persist()
    val mapping = index.docmeta
      .select($"docId", $"commit".cast("long").as("doc_id"))
      .persist()
    (index, mapping)
  }
}
