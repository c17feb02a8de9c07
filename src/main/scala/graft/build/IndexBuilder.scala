package graft.build

import graft.analysis.{CodeAnalyzer, Uax29}
import graft.codec.PostingCodec
import graft.model._
import graft.util.SmallFloat
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A document routed to a build segment.
  *
  * `seg` is the document-partition id (disjoint docId ranges per segment,
  * SURVEY.md §1.1 "Segment"); `sortKey` fixes ingestion order inside a
  * segment so docId assignment is deterministic and resume-safe (no
  * `zipWithIndex`, SURVEY.md §7.4.4).
  */
final case class InputDoc(
    seg: Int,
    sortKey: String,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String
)

/** Unified single-pass build output: each input row is tokenized exactly
  * once (like Lucene's indexing chain, `core/index/IndexingChain.java:553`)
  * and fans out into one `meta` row + one `post` row per distinct term.
  * Reading it back filtered by `kind` gives the doc-meta table and the
  * postings table without re-tokenizing.
  */
final case class BuildRow(
    kind: String, // "m" (doc meta) | "p" (posting list)
    seg: Int,
    // meta fields (kind = "m")
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    sha256: String,
    tokenCount: Int,
    norm: Byte,
    // posting fields (kind = "p") — flat payload layout, see PostingList
    term: String,
    df: Int,
    ttf: Long,
    counts: Array[Int],
    baseDocIds: Array[Long],
    maxDocIds: Array[Long],
    maxFreqs: Array[Int],
    minNorms: Array[Byte],
    offsets: Array[Int],
    payload: Array[Byte]
)

/** In-memory (or Parquet-backed) index handle.
  *
  * `live` is the per-segment tombstone view (the liveDocs analogue,
  * `core/codecs/lucene90/Lucene90LiveDocsFormat.java:49`): sidecar files
  * loaded lazily EXECUTOR-side — see [[LiveDocs]]. Kernels exclude these
  * docs; `docmeta` is already tombstone-filtered by [[IndexBuilder.open]].
  */
final class Index(
    val postings: Dataset[PostingList],
    val docmeta: Dataset[DocMeta],
    val termStats: Dataset[TermStats],
    val fieldStats: FieldStats,
    val live: LiveDocs = NoDeletes,
    /** Evaluated LAZILY on first use (see [[segAligned]]) so open paths
      * that never run a per-segment query (CheckIndex, delete, stats
      * tooling) skip the alignment probe's job entirely.
      */
    segAlignedInit: () => Boolean = () => false,
    /** Resident reader of a serving open: one persisted
      * (seg, term -> postings) map per segment, each term's rows already
      * concatenated — the per-reader state the reference builds once
      * when a `SegmentReader` opens. Queries read it instead of scanning
      * `postings` (see `Searcher.segmentMaps`). Driver-side only; Spark's
      * ContextCleaner unpersists it after the dropped Index is garbage
      * collected, `reader.foreach(_.unpersist())` at once.
      */
    @transient val reader: Option[RDD[(Int, Map[String, PostingList])]] = None
) extends Serializable {

  /** True when `postings`' PHYSICAL partitioning co-locates every row of
    * a segment (the groupByKey(seg) build shuffle guarantees it, and
    * narrow ops preserve it; opened parquet indexes PROBE it on first
    * use). Queries that scan `postings` then group rows by segment
    * partition-locally — ONE stage, ZERO query-time shuffle — instead of
    * shuffling on `seg` per query.
    */
  @transient lazy val segAligned: Boolean = segAlignedInit()


  /** Snapshot identity for the executor-side hot-filter cache
    * ([[graft.exec.FilterCache]]): every Index instance is an immutable
    * snapshot, so a fresh token per instance guarantees cached filter
    * match sets can never outlive the data they were computed from.
    */
  val filterCacheToken: String = java.util.UUID.randomUUID().toString


  /** Driver-side per-term stats cache — the reference's per-reader
    * `TermStates` caching: an Index is an immutable snapshot, so looked-up
    * term stats never go stale. Misses are cached as df=0 rows (callers
    * treat df=0 as absent). Bounded by LRU eviction at 100k entries
    * (see [[graft.util.Lru]]).
    */
  @transient lazy val termStatsCache: java.util.Map[String, TermStats] =
    graft.util.Lru.map[String, TermStats](100000)

  /** Driver-side multi-term expansion cache (pattern kind + pattern ->
    * expanded terms) — the per-reader rewrite cache. Same snapshot
    * immutability argument; LRU-bounded at 10k entries.
    */
  @transient lazy val expansionCache: java.util.Map[String, Seq[String]] =
    graft.util.Lru.map[String, Seq[String]](10000)
}

/** Inverted-index builder: one shuffle, one tokenize pass, per-segment
  * in-memory inversion.
  *
  * Lifecycle mirrors SURVEY.md §3.1's Spark restatement of the reference
  * indexing chain: route rows to segments (shuffle on `seg`) -> sort
  * within segment by `sortKey` (index-time sort,
  * `core/index/IndexWriterConfig.setIndexSort`) -> assign docIds as
  * (seg << 40 | localOrd) -> tokenize once -> invert into per-term
  * posting arrays (`core/index/TermsHashPerField.java:35,190`) -> encode
  * 128-doc blocks with impacts (`Lucene103PostingsWriter.java:388-401`)
  * -> emit terms in sorted order (flush walks terms sorted,
  * `core/index/FreqProxTermsWriter.java:43,83`).
  *
  * Scale notes: a segment is the unit of build memory and of query
  * parallelism; at 10^12 files the segment count is chosen so one
  * segment's docs fit an executor (the analogue of the reference's
  * 16 MB RAM-buffer flush trigger, `core/index/IndexWriterConfig.java:83`).
  * Skewed mega-terms (keywords in ~every file) cost O(segmentDocs) per
  * segment — bounded, because the skew is spread across all segments by
  * doc-partitioning rather than concentrated on one term key.
  */
object IndexBuilder {
  val SegShift = 40 // docId = seg << 40 | ord; 2^40 docs per segment max

  /** Keyword-field pseudo-term prefix. Lucene indexes keyword fields
    * (e.g. the demo's `path` KeywordField,
    * `lucene/demo/.../IndexFiles.java:206-239`) as separate per-field
    * postings; we reuse ONE postings table with a reserved `#field:`
    * prefix ('#' sorts below and never collides with analyzer output).
    * These power non-scoring FILTER clauses (`ft_lang_filter_topk`);
    * dictionary expansions and collection stats exclude them.
    */
  val KeywordPrefix = "#"
  def langTerm(lang: String): String = s"#lang:$lang"

  /** Scored-field pseudo-term prefix: a field F's token T is indexed as
    * `@F:T` with F's OWN norm byte on each posting — the per-field
    * postings+norms of the reference indexing chain
    * (`core/index/IndexingChain.java:553-726`) re-expressed in the one
    * postings table ('@' sorts below analyzer output and '#', never
    * collides). The default (unprefixed) field is `content`. Dictionary
    * expansions stay within one field: an unprefixed pattern excludes
    * '@'/'#' terms; a `@F:`-prefixed pattern is already namespace-anchored.
    */
  val FieldPrefix = "@"
  def fieldTerm(field: String, token: String): String = s"@$field:$token"

  /** Per-segment per-field norms sidecar, stored AS a posting list under
    * the reserved pseudo-term `@norms:F`: one posting per doc that has
    * field F, with freq = F's EXACT token count and the norm byte = F's
    * quantised length (the doc-values norms file of the reference,
    * `Lucene90NormsFormat.java:83`). Because freq is the field length,
    * the row's df/ttf ARE the field's (docCount, sumTotalTermFreq) — so
    * per-field collection stats aggregate through the ordinary termStats
    * pipeline, and merges (which drop deleted postings and re-sum freqs)
    * keep them exact for free. Norms rows are the ONLY position-less
    * rows in the index (positions would have to match freq); every
    * decoder must pass withPositions=false for `@norms:` terms —
    * see [[hasPositions]]. Consumed by query-time weighted BM25F
    * (`CombinedFieldQ`), which needs BOTH fields' lengths for every
    * candidate doc.
    */
  def normsTerm(field: String): String = s"@norms:$field"

  /** Whether a stored term's postings carry a positions section. */
  def hasPositions(term: String): Boolean = !term.startsWith("@norms:")

  /** Field of a stored term: `@F:...` -> F, else the default content field. */
  def fieldOf(term: String): String =
    if (term.length > 1 && term.charAt(0) == '@') {
      val i = term.indexOf(':', 1)
      if (i > 1) term.substring(1, i) else "content"
    } else "content"

  val DocBits: Long = (1L << SegShift) - 1

  def segOf(docId: Long): Int = (docId >> SegShift).toInt
  def ordOf(docId: Long): Long = docId & DocBits

  private val HexChars = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Growable primitive postings buffer — avoids boxing in the inversion
    * hot loop (the byte-slice pools of `core/index/TermsHashPerField.java:35`
    * play the same role in the reference). Positions live in ONE flat int
    * buffer with per-posting offsets (no per-posting array allocation);
    * the norm byte is patched in at end-of-doc once the field length is
    * known.
    */
  private final class Postings {
    var docIds = new Array[Long](4)
    var freqs = new Array[Int](4)
    var norms = new Array[Byte](4)
    var posOff = new Array[Int](4)
    var n = 0
    var posFlat = new Array[Int](8)
    var posN = 0
    // optional flat payload lane, parallel to posFlat: payOff(j) = start
    // of position j's payload bytes in payFlat (end = next start / payN).
    // Allocated lazily on the FIRST payload — earlier positions backfill
    // as empty (payN was 0, so zeros are correct start offsets).
    var payFlat: Array[Byte] = null
    var payOff: Array[Int] = null
    var payN = 0

    @inline def lastDocId: Long = docIds(n - 1)

    @inline private def addPos(p: Int, pay: Array[Byte]): Unit = {
      if (posN == posFlat.length) {
        posFlat = java.util.Arrays.copyOf(posFlat, posN * 2)
        if (payOff != null) payOff = java.util.Arrays.copyOf(payOff, posN * 2)
      }
      if (pay != null && payOff == null) {
        payOff = new Array[Int](posFlat.length) // zeros backfill earlier positions
        payFlat = new Array[Byte](16)
      }
      if (payOff != null) payOff(posN) = payN
      posFlat(posN) = p
      posN += 1
      if (pay != null) {
        while (payN + pay.length > payFlat.length)
          payFlat = java.util.Arrays.copyOf(payFlat, payFlat.length * 2)
        System.arraycopy(pay, 0, payFlat, payN, pay.length)
        payN += pay.length
      }
    }

    /** New posting for `docId` with its first position. */
    def start(docId: Long, pos: Int, pay: Array[Byte] = null): Unit = {
      if (n == docIds.length) {
        val cap = n * 2
        docIds = java.util.Arrays.copyOf(docIds, cap)
        freqs = java.util.Arrays.copyOf(freqs, cap)
        norms = java.util.Arrays.copyOf(norms, cap)
        posOff = java.util.Arrays.copyOf(posOff, cap)
      }
      docIds(n) = docId; freqs(n) = 1; norms(n) = 0; posOff(n) = posN
      n += 1
      addPos(pos, pay)
    }

    /** Another occurrence in the same (last) doc. */
    def bump(pos: Int, pay: Array[Byte] = null): Unit = {
      freqs(n - 1) += 1
      addPos(pos, pay)
    }

    def setLastNorm(b: Byte): Unit = norms(n - 1) = b

    /** Override the last posting's freq (norms sidecars: freq = field length). */
    def setFreq(f: Int): Unit = freqs(n - 1) = f
  }

  /** Analyzer modes: "std" (word+lower), "uax29" (full UAX#29 word
    * segmentation — identical to "std" on the fixture/driver ASCII
    * alphabet, faithful on general Unicode), "sub" (word-delimiter
    * sub-tokens), "stop" (std + position-preserving StopFilter with
    * [[CodeAnalyzer.DefaultStops]]), "all" (combined content+path field —
    * the BM25F / CombinedFieldQuery materialisation, see below).
    */
  def analyze(mode: String, text: String): Array[graft.analysis.Token] = mode match {
    case "uax29" => Uax29.tokenize(text)
    case "sub" => CodeAnalyzer.subTokenize(text)
    case "stop" => CodeAnalyzer.tokenizeStops(text, CodeAnalyzer.DefaultStops)
    case "ws" => CodeAnalyzer.whitespaceTokenize(text)
    case "letter" => CodeAnalyzer.letterTokenize(text)
    case "keyword" => CodeAnalyzer.keywordTokenize(text)
    case "shingle" => CodeAnalyzer.shingleTokenize(text)
    case "ngram" => CodeAnalyzer.ngramTokenize(text)
    case "fold" => CodeAnalyzer.tokenize(CodeAnalyzer.foldAscii(text))
    // payload-attaching filters (tokens gain a per-occurrence payload;
    // the postings rows grow the optional payload lane)
    case "delimpayload" =>
      graft.analysis.Payloads.delimitedFloat(CodeAnalyzer.whitespaceTokenize(text))
    case "lenpayload" =>
      graft.analysis.Payloads.lengthFloat(CodeAnalyzer.tokenize(text))
    // stemming filters (1:1 on tokens: positions and field length keep)
    case "porter" => CodeAnalyzer.tokenize(text).map(t =>
      t.copy(term = graft.analysis.Stemmer.porter(t.term)))
    case "enmin" => CodeAnalyzer.tokenize(text).map(t =>
      t.copy(term = graft.analysis.Stemmer.englishMinimal(t.term)))
    case "frmin" => CodeAnalyzer.tokenize(text).map(t =>
      t.copy(term = graft.analysis.Stemmer.frenchMinimal(t.term)))
    case "demin" => CodeAnalyzer.tokenize(text).map(t =>
      t.copy(term = graft.analysis.Stemmer.germanMinimal(t.term)))
    case "denorm" => CodeAnalyzer.tokenize(text).map(t =>
      t.copy(term = graft.analysis.Stemmer.germanNormalize(t.term)))
    case _ => CodeAnalyzer.tokenize(text)
  }

  /** BM25F norm combination (`core/search/MultiNormsLeafSimScorer.java:165-175`
    * with weights 1.0): combined norm = intToByte4(round(sum over fields of
    * LENGTH_TABLE[field norm byte])) — each field's length is quantised
    * FIRST, then the quantised lengths are summed and re-quantised.
    */
  def combinedNorm(fieldTokenCounts: Seq[Int]): Byte = {
    var sum = 0f
    fieldTokenCounts.foreach { n =>
      sum += SmallFloat.LengthTable(SmallFloat.intToByte4(n) & 0xff)
    }
    SmallFloat.intToByte4(Math.round(sum))
  }

  def buildSegment(seg: Int, docs: Iterator[InputDoc], preSorted: Boolean = false,
      analyzerMode: String = "std",
      codec: String = graft.codec.PostingFormats.Default): Iterator[BuildRow] = {
    val fmt = graft.codec.PostingFormats.byName(codec)
    val sorted = if (preSorted) docs.toArray else docs.toArray.sortBy(_.sortKey)
    val inv = new java.util.HashMap[String, Postings]()
    val metas = new mutable.ArrayBuffer[BuildRow](sorted.length)
    // term buffers that gained a NEW posting this doc — their norm byte is
    // patched once the field length is known at end-of-doc
    val touched = new mutable.ArrayBuffer[Postings](128)
    // path-field buffers touched this doc (patched with the PATH norm)
    val touchedP = new mutable.ArrayBuffer[Postings](8)
    // per-field norms sidecars ("std" mode)
    val normsContent = new Postings
    val normsPath = new Postings
    val pathPrefix = FieldPrefix + "path:"
    var ord = 0L
    sorted.foreach { d =>
      val docId = (seg.toLong << SegShift) | ord
      ord += 1
      touched.clear()
      touchedP.clear()
      // streaming inversion: tokens arrive in position order, so a term's
      // occurrences in one doc are consecutive appends to its buffer —
      // no per-doc sort, no per-run position arrays (the reference's
      // TermsHashPerField does the same hash-then-append)
      val handle: (String, Int) => Unit = (term, pos) => {
        var buf = inv.get(term)
        if (buf == null) { buf = new Postings; inv.put(term, buf) }
        if (buf.n > 0 && buf.lastDocId == docId) buf.bump(pos)
        else { buf.start(docId, pos); touched += buf }
      }
      // "all" mode = the CombinedFieldQuery/BM25F materialisation
      // (`core/search/CombinedFieldQuery.java:79`, weights 1.0): one
      // combined content+path field — freq is the per-term sum across
      // fields (token streams concatenated), the norm byte uses the
      // reference's quantise-then-sum-then-requantise combination, and
      // df is the union df (the reference approximates with max df,
      // `CombinedFieldQuery.java:284` — union is exact; documented
      // divergence). Searching the path field costs no second query.
      val (tokenCount, norm) = analyzerMode match {
        case "std" =>
          val c = CodeAnalyzer.foreachToken(d.content)(handle)
          // per-field indexing (IndexingChain per-field postings+norms):
          // path tokens as `@path:` terms carrying the PATH norm byte
          val p =
            if (d.path == null) 0
            else CodeAnalyzer.foreachToken(d.path) { (tok, pos) =>
              val term = pathPrefix + tok
              var buf = inv.get(term)
              if (buf == null) { buf = new Postings; inv.put(term, buf) }
              if (buf.n > 0 && buf.lastDocId == docId) buf.bump(pos)
              else { buf.start(docId, pos); touchedP += buf }
            }
          val cNorm = SmallFloat.intToByte4(c)
          val pNorm = SmallFloat.intToByte4(p)
          var pi = 0
          while (pi < touchedP.length) { touchedP(pi).setLastNorm(pNorm); pi += 1 }
          // norms sidecar postings: freq = EXACT field length (no positions)
          if (c > 0) {
            normsContent.start(docId, 0); normsContent.setFreq(c)
            normsContent.setLastNorm(cNorm)
          }
          if (p > 0) {
            normsPath.start(docId, 0); normsPath.setFreq(p)
            normsPath.setLastNorm(pNorm)
          }
          (c, cNorm)
        case "all" =>
          val c = CodeAnalyzer.foreachToken(d.content)(handle)
          val p = CodeAnalyzer.foreachToken(d.path)((t, pos) => handle(t, pos + c))
          (c + p, combinedNorm(Seq(c, p)))
        case m =>
          val ts = analyze(m, d.content)
          // payload-aware inversion: same hash-then-append as `handle`,
          // threading each token's optional payload into the buffer
          ts.foreach { t =>
            var buf = inv.get(t.term)
            if (buf == null) { buf = new Postings; inv.put(t.term, buf) }
            if (buf.n > 0 && buf.lastDocId == docId) buf.bump(t.pos, t.payload)
            else { buf.start(docId, t.pos, t.payload); touched += buf }
          }
          (ts.length, SmallFloat.intToByte4(ts.length))
      }
      var ti = 0
      while (ti < touched.length) { touched(ti).setLastNorm(norm); ti += 1 }
      // keyword field: one freq-1 posting per doc under the reserved
      // '#lang:' pseudo-term (content stats/norms unaffected)
      if (d.lang != null && d.lang.nonEmpty) {
        val kt = langTerm(d.lang)
        var buf = inv.get(kt)
        if (buf == null) { buf = new Postings; inv.put(kt, buf) }
        buf.start(docId, 0)
        buf.setLastNorm(norm)
      }
      metas += BuildRow(
        kind = "m", seg = seg, docId = docId, repo = d.repo, path = d.path,
        commit = d.commit, lang = d.lang, sha256 = sha256Hex(d.content),
        tokenCount = tokenCount, norm = norm,
        term = null, df = 0, ttf = 0L, counts = null, baseDocIds = null,
        maxDocIds = null, maxFreqs = null, minNorms = null, offsets = null,
        payload = null
      )
    }
    // norms sidecars join the ordinary term emit (position-less rows:
    // freq = field length, so df/ttf = field docCount/sumTotalTermFreq)
    if (normsContent.n > 0) inv.put(normsTerm("content"), normsContent)
    if (normsPath.n > 0) inv.put(normsTerm("path"), normsPath)
    val terms = inv.keySet().toArray(new Array[String](0))
    java.util.Arrays.sort(terms.asInstanceOf[Array[Object]])
    val posts = terms.iterator.map { term =>
      val buf = inv.get(term)
      val pl =
        if (hasPositions(term))
          fmt.encodeFlat(seg, term, buf.docIds, buf.freqs, buf.norms,
            buf.n, buf.posFlat, buf.posOff, buf.posN,
            buf.payFlat, buf.payOff, buf.payN)
        else fmt.encode(seg, term,
          java.util.Arrays.copyOf(buf.docIds, buf.n),
          java.util.Arrays.copyOf(buf.freqs, buf.n),
          java.util.Arrays.copyOf(buf.norms, buf.n), positions = null)
      BuildRow(
        kind = "p", seg = seg, docId = -1L, repo = null, path = null, commit = null,
        lang = null, sha256 = null, tokenCount = 0, norm = 0,
        term = term, df = pl.df, ttf = pl.ttf, counts = pl.counts,
        baseDocIds = pl.baseDocIds, maxDocIds = pl.maxDocIds,
        maxFreqs = pl.maxFreqs, minNorms = pl.minNorms, offsets = pl.offsets,
        payload = pl.payload
      )
    }
    metas.iterator ++ posts
  }

  private def toIndex(spark: SparkSession, out: Dataset[BuildRow]): Index = {
    import spark.implicits._
    // query-side partition count tracks the session's parallelism, not the
    // build shuffle width: every query job schedules one task per cached
    // partition, so 128 build partitions on 32 cores would pay 4 waves of
    // pure task overhead per query. coalesce merges WHOLE partitions —
    // narrow, segment co-location preserved.
    val target = math.max(1, spark.sparkContext.defaultParallelism)
    val outC = if (out.rdd.getNumPartitions > target) out.coalesce(target) else out
    val postings = outC.filter(_.kind == "p")
      .map(r => PostingList(r.seg, r.term, r.df, r.ttf, r.counts, r.baseDocIds,
        r.maxDocIds, r.maxFreqs, r.minNorms, r.offsets, r.payload))
    val docmeta = outC.filter(_.kind == "m")
      .map(r => DocMeta(r.docId, r.repo, r.path, r.commit, r.lang, r.sha256, r.tokenCount, r.norm))
    // global term stats: partial (per-seg df/ttf already aggregated) ->
    // final; coalesced so the per-query stats collect is one task wave
    val termStats = postings.groupBy($"term")
      .agg(sum($"df").as("df"), sum($"ttf").as("ttf"))
      .as[TermStats]
      .coalesce(math.min(8, target))
    val fs = docmeta.agg(count(lit(1)), coalesce(sum($"tokenCount".cast("long")), lit(0L)))
      .as[(Long, Long)].head()
    // `out` came through the groupByKey(seg) build shuffle, so each
    // segment's rows are physically co-located -> no-shuffle query path
    new Index(postings, docmeta, termStats, FieldStats(fs._1, fs._2),
      segAlignedInit = () => true)
  }

  /** Build fully in memory (cached) — test/driver-query path. */
  def buildInMemory(spark: SparkSession, docs: Dataset[InputDoc],
      analyzerMode: String = "std",
      codec: String = graft.codec.PostingFormats.Default): Index = {
    import spark.implicits._
    val mode = analyzerMode
    val cdc = codec // capture the NAME, resolved registry-side in the task
    val out = docs.groupByKey(_.seg)
      .flatMapGroups((seg, it) =>
        buildSegment(seg, it, preSorted = false, analyzerMode = mode, codec = cdc))
      .persist()
    toIndex(spark, out)
  }

  /** Shuffle-free build: each INPUT partition becomes a segment — the
    * distributed restatement of the reference's per-thread DWPT buffers
    * (`core/index/DocumentsWriterPerThread.java:52`: ingestion parallelism
    * = private per-worker buffers, no data exchange). Content never moves;
    * docId order inside a segment is input order. The general hash-routed
    * path (with its explicit `seg`/`sortKey`) remains for inputs whose
    * partitioning isn't trusted; consolidation of many mini-segments is
    * `IndexMerger.forceMerge`'s job.
    */
  def buildPartitionLocal(spark: SparkSession, source: Dataset[SourceRow], dir: String,
      codec: String = graft.codec.PostingFormats.Default): Seq[SegmentManifest] = {
    import spark.implicits._
    val acc = new SegMetricsAccumulator
    spark.sparkContext.register(acc, "segMetrics")
    val cdc = codec
    val out = source.mapPartitions { it =>
      val seg = org.apache.spark.TaskContext.getPartitionId()
      buildSegment(seg, it.map(r =>
        InputDoc(seg, "", r.repo, r.path, r.commit, r.lang, r.content)),
        preSorted = true, codec = cdc)
        .map { r => acc.add(r); r }
    }
    val gen = nextGen(dir)
    out.write.mode("overwrite").parquet(s"$dir/segments/$gen")
    val manifests = scala.collection.mutable.ArrayBuffer.empty[SegmentManifest]
    acc.value.forEach { (seg, m) =>
      val man = SegmentManifest(seg, "complete", m(0), m(1), m(2),
        s"partition-local:${m(0)}", codeConfigHash(codec), gen)
      writeManifest(dir, man)
      manifests += man
    }
    writeStats(spark, dir)
    manifests.toSeq.sortBy(_.seg)
  }

  /** Next write-once generation dir name — the `segments_N` counter. */
  private[build] def nextGen(dir: String): String = {
    val existing = IndexFs.listNames(s"$dir/segments")
      .collect { case g if g.startsWith("gen_") => g.stripPrefix("gen_").toLong }
    "gen_" + (if (existing.isEmpty) 0L else existing.max + 1L)
  }

  // ---------- persistent, resumable build (north rule: checkpoint + lineage) ----------

  /** Config hash for lineage: analyzer + codec + layout version. The
    * codec NAME participates, so switching posting formats invalidates
    * (and resume rebuilds) segments written under the other one.
    */
  def codeConfigHash(codec: String): String = sha256Hex(
    s"analyzer=word+lower+max${CodeAnalyzer.MaxTokenLength};codec=$codec-delta-b${PostingCodec.BlockSize};layout=v8-codec-spi"
  ).take(16)
  val CodeConfigHash: String = codeConfigHash(graft.codec.PostingFormats.Default)

  /** Order-independent fingerprint of a segment's input slice
    * (xor+count of per-row key hashes; commit pins content).
    */
  private def fingerprints(docs: Dataset[InputDoc]): Map[Int, String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"seg",
        xxhash64(concat_ws("|", $"repo", $"path", $"commit")).as("h"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("s"))
      .as[(Int, Long, Long)].collect()
      .map { case (seg, n, s) => seg -> s"$n:${java.lang.Long.toHexString(s)}" }
      .toMap
  }

  /** Per-segment (docs, postings, bytes, sumTokens) tally. */
  final class SegMetricsAccumulator
      extends org.apache.spark.util.AccumulatorV2[BuildRow, java.util.HashMap[Int, Array[Long]]] {
    private var map = new java.util.HashMap[Int, Array[Long]]()
    def isZero: Boolean = map.isEmpty
    def copy(): SegMetricsAccumulator = {
      val c = new SegMetricsAccumulator
      map.forEach((k, v) => c.map.put(k, v.clone()))
      c
    }
    def reset(): Unit = map = new java.util.HashMap[Int, Array[Long]]()
    def add(r: BuildRow): Unit = {
      var slot = map.get(r.seg)
      if (slot == null) { slot = new Array[Long](4); map.put(r.seg, slot) }
      if (r.kind == "m") { slot(0) += 1; slot(3) += r.tokenCount }
      else { slot(1) += r.df; slot(2) += r.payload.length }
    }
    def merge(other: org.apache.spark.util.AccumulatorV2[BuildRow, java.util.HashMap[Int, Array[Long]]]): Unit =
      other.value.forEach { (k, v) =>
        var slot = map.get(k)
        if (slot == null) { slot = new Array[Long](4); map.put(k, slot) }
        var i = 0
        while (i < 4) { slot(i) += v(i); i += 1 }
      }
    def value: java.util.HashMap[Int, Array[Long]] = map
  }

  private[build] def manifestPath(dir: String, seg: Int) = s"$dir/manifest/seg_$seg.json"

  private def readManifest(dir: String, seg: Int): Option[SegmentManifest] = {
    val path = manifestPath(dir, seg)
    if (!IndexFs.exists(path)) None
    else {
      // minimal JSON parse of our own flat writes
      val s = IndexFs.readString(path)
      def f(k: String): String = {
        val m = ("\"" + k + "\"\\s*:\\s*\"?([^\",}]*)\"?").r.findFirstMatchIn(s)
        m.map(_.group(1)).getOrElse("")
      }
      try Some(SegmentManifest(f("seg").toInt, f("status"), f("docs").toLong,
        f("postings").toLong, f("bytes").toLong, f("inputFingerprint"), f("codeConfigHash"),
        f("dataDir")))
      catch { case _: Exception => None }
    }
  }

  private[build] def writeManifest(dir: String, m: SegmentManifest): Unit = {
    val json =
      s"""{"seg":${m.seg},"status":"${m.status}","docs":${m.docs},"postings":${m.postings},""" +
        s""""bytes":${m.bytes},"inputFingerprint":"${m.inputFingerprint}",""" +
        s""""codeConfigHash":"${m.codeConfigHash}","dataDir":"${m.dataDir}"}"""
    IndexFs.writeString(manifestPath(dir, m.seg), json)
  }

  /** Resumable persistent build.
    *
    * Layout: `dir/segments/` parquet partitioned by (kind, seg);
    * `dir/manifest/seg_K.json` per-segment checkpoint rows with lineage
    * (input fingerprint + code/config hash) and metrics (docs, postings,
    * bytes) — the `segments_N` analogue (`core/index/SegmentInfos.java:55-106`).
    * A segment is only believed if its manifest row exists, matches the
    * recomputed input fingerprint and the current code/config hash;
    * partial parquet output from a killed run is overwritten via dynamic
    * partition overwrite. Returns per-segment manifests.
    */
  def buildPersistent(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      dir: String,
      resume: Boolean = true,
      codec: String = graft.codec.PostingFormats.Default
  ): Seq[SegmentManifest] = {
    import spark.implicits._
    val cch = codeConfigHash(codec)
    val fps = fingerprints(docs)
    val todo = fps.filter { case (seg, fp) =>
      !resume || !readManifest(dir, seg).exists(m =>
        m.status == "complete" && m.inputFingerprint == fp && m.codeConfigHash == cch)
    }.keySet

    if (todo.nonEmpty) {
      // per-segment metrics tallied in-flight (no read-back jobs); local
      // mode has no task retries — on a cluster, retried write tasks could
      // double-tally, in which case derive metrics from the read-back path
      val acc = new SegMetricsAccumulator
      spark.sparkContext.register(acc, "segMetrics")
      val cdc = codec
      val out = docs.filter($"seg".isin(todo.toSeq: _*))
        .as[InputDoc]
        .groupByKey(_.seg)
        .flatMapGroups { (seg, it) =>
          buildSegment(seg, it, codec = cdc).map { r => acc.add(r); r }
        }
      val gen = nextGen(dir)
      out.write.mode("overwrite").parquet(s"$dir/segments/$gen")

      val metrics = acc.value
      todo.foreach { seg =>
        val m = metrics.getOrDefault(seg, new Array[Long](4))
        writeManifest(dir, SegmentManifest(seg, "complete", m(0),
          m(1), m(2), fps(seg), cch, gen))
      }
      // refresh global stats (invalid once any segment changed)
      writeStats(spark, dir)
      // a rebuild can shadow a whole generation (all its segs replaced):
      // mark it for the grace-windowed purge like a merge would
      markDereferencedGens(dir)
    } else if (!statsFresh(dir)) {
      // covers a crash between manifest writes and the stats refresh
      writeStats(spark, dir)
    }
    fps.keys.toSeq.sorted.flatMap(seg => readManifest(dir, seg))
  }

  /** Live file set: manifests pick (gen dir, segs) pairs — write-once
    * files + manifest selection, the `segments_N` commit-point model.
    * A seg rebuilt into a newer generation shadows its old files.
    * `manifestRoot` defaults to the live manifest set; snapshot opens
    * pass a commit dir (same layout) so the SAME selection logic reads a
    * point-in-time file set.
    */
  private[build] def openRaw(spark: SparkSession, dir: String,
      manifestRoot: String = null): DataFrame =
    rawFor(spark, dir, listManifests(if (manifestRoot == null) dir else manifestRoot))

  private def rawFor(spark: SparkSession, dir: String,
      manifests: Seq[SegmentManifest]): DataFrame = {
    import spark.implicits._
    val byGen = manifests.groupBy(_.dataDir)
    byGen.map { case (gen, ms) =>
      spark.read.parquet(s"$dir/segments/$gen")
        .filter($"seg".isin(ms.map(_.seg): _*))
    }.reduce(_ unionByName _)
  }

  private[build] def listManifests(dir: String): Seq[SegmentManifest] = {
    IndexFs.listNames(s"$dir/manifest")
      .collect { case n if n.startsWith("seg_") && n.endsWith(".json") =>
        n.stripPrefix("seg_").stripSuffix(".json").toInt }
      .sorted.flatMap(seg => readManifest(dir, seg))
  }

  /** Fingerprint of the live manifest set — stats are only trusted if
    * they were computed for exactly this set (a crash between manifest
    * writes and the stats refresh must not leave stale stats behind).
    */
  private[build] def manifestSetHash(dir: String): String =
    sha256Hex(listManifests(dir)
      .map(m => s"${m.seg}:${m.inputFingerprint}:${m.dataDir}").sorted.mkString("|")).take(16)

  private def statsFresh(dir: String): Boolean = {
    val p = s"$dir/stats/field.json"
    IndexFs.exists(p) && {
      val s = IndexFs.readString(p)
      ("\"manifestSetHash\"\\s*:\\s*\"([0-9a-f]+)\"").r.findFirstMatchIn(s)
        .exists(_.group(1) == manifestSetHash(dir))
    }
  }

  private[build] def writeStats(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val raw = openRaw(spark, dir)
    val posts = raw.filter($"kind" === "p")
    posts.groupBy($"term").agg(sum($"df").as("df"), sum($"ttf").as("ttf"))
      // range-partitioned + sorted on term: the stats table IS the term
      // dictionary, and a sorted layout gives cold term/expansion lookups
      // tight parquet min/max pruning (a groupBy's hash output has no
      // term locality, so every row group would match every predicate
      // at a large vocabulary). Few write tasks: per-task Hadoop-conf
      // deser is costly.
      .repartitionByRange(8, $"term")
      .sortWithinPartitions($"term")
      .write.mode("overwrite").parquet(s"$dir/stats/terms")
    val metas = raw.filter($"kind" === "m")
    val (n, sttf) = metas.agg(count(lit(1)), coalesce(sum($"tokenCount".cast("long")), lit(0L)))
      .as[(Long, Long)].head()
    IndexFs.writeString(s"$dir/stats/field.json",
      s"""{"docCount":$n,"sumTotalTermFreq":$sttf,"manifestSetHash":"${manifestSetHash(dir)}"}""")
  }

  // ---------- deletes / updates (live docs) ----------

  private def tombstoneDir(dir: String) = s"$dir/tombstones"

  /** Delete documents by exact version key (repo, path, commit) — the
    * analogue of `IndexWriter.deleteDocuments(Term)`
    * (`core/index/IndexWriter.java:1796`). Tombstones are append-only
    * parquet; duplicates are harmless (set semantics), so retried batches
    * are idempotent. Deleted docs stay in the segment files (liveDocs
    * model, `Lucene90LiveDocsFormat.java:49`) until a merge rewrites them
    * out; readers exclude them via [[Index.liveFilter]].
    */
  def deleteDocs(spark: SparkSession, dir: String, keys: DataFrame): Unit = {
    keys.select("repo", "path", "commit")
      .write.mode("append").parquet(tombstoneDir(dir))
  }

  private[build] def readTombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    if (!IndexFs.listNames(tombstoneDir(dir)).exists(_.endsWith(".parquet"))) None
    else Some(spark.read.parquet(tombstoneDir(dir)).distinct())
  }

  /** Fingerprint of the on-disk tombstone file set (names + sizes) —
    * with the live manifest set it keys the resolved livedocs sidecars:
    * either changing forces one distributed re-resolution, otherwise
    * opens reuse the cached sidecars with no job at all.
    */
  private[build] def tombstoneSetKey(dir: String): String = {
    val files = IndexFs.list(tombstoneDir(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => s"${st.getPath.getName}:${st.getLen}").sorted
    sha256Hex(files.mkString("|")).take(16)
  }

  // ---------- commit-point snapshots ----------
  // The IndexDeletionPolicy / SnapshotDeletionPolicy analogue
  // (`core/index/SnapshotDeletionPolicy.java:43`, `IndexDeletionPolicy
  // .java:38`): a snapshot pins a point-in-time commit — its segment
  // files (write-once generation dirs), its manifest selection, and its
  // delete view — so a reader can open it unchanged across later
  // appends, deletes, and merges. A commit is stored as a COPY of the
  // live per-segment manifests under `commits/commit_<id>/manifest/`
  // (same layout as the live set, so the ordinary manifest reader reads
  // it) plus a meta.json recording the tombstone file list at commit
  // time and the livedocs scope key snapshot opens resolve under.
  // Retained snapshots also pin that scope against livedocs GC and
  // their generation dirs against [[purgeGenerations]].

  private def commitsDir(dir: String) = s"$dir/commits"
  private def commitRoot(dir: String, id: Int) = s"${commitsDir(dir)}/commit_$id"

  /** Pin the current commit point; returns the snapshot id. Ids are
    * allocated from a persisted monotonic counter (never from
    * max(remaining)+1 alone), so a released snapshot's id is never
    * reissued — a stale snapId held by a reader fails to open rather
    * than silently resolving to a DIFFERENT point-in-time state.
    *
    * SINGLE-WRITER assumption (same as the build/merge/commit path as a
    * whole): the counter update is a read-modify-write, so the
    * never-reissued guarantee holds for one sequential snapshotter —
    * concurrent snapshotters could read the same counter value and
    * allocate the same id. A multi-writer deployment must serialize
    * snapshot creation externally (or allocate by atomic commit-dir
    * create + retry), exactly like the reference's single IndexWriter
    * lock discipline.
    */
  def commitSnapshot(dir: String): Int = {
    val manifests = listManifests(dir)
    require(manifests.nonEmpty, s"nothing to snapshot in $dir")
    val tombs = IndexFs.list(tombstoneDir(dir))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
    val counterPath = s"${commitsDir(dir)}/next_id"
    val persisted =
      if (IndexFs.exists(counterPath)) IndexFs.readString(counterPath).trim.toInt else 0
    val id = math.max(persisted, listSnapshots(dir).foldLeft(-1)(math.max) + 1)
    // counter first: a crash between counter and commit dir burns an id,
    // never reuses one
    IndexFs.writeString(counterPath, (id + 1).toString)
    val root = commitRoot(dir, id)
    val scope = sha256Hex("snap:" + tombs.mkString("|") + ":" +
      manifests.map(m => s"${m.seg}:${m.inputFingerprint}:${m.dataDir}")
        .sorted.mkString("|")).take(16)
    manifests.foreach { m =>
      IndexFs.writeString(manifestPath(root, m.seg),
        IndexFs.readString(manifestPath(dir, m.seg)))
    }
    // meta last = the snapshot's commit record (readers require it)
    IndexFs.writeString(s"$root/meta.json",
      s"""{"id":$id,"scope":"$scope","tombstones":[${tombs.map("\"" + _ + "\"").mkString(",")}]}""")
    id
  }

  def listSnapshots(dir: String): Seq[Int] =
    IndexFs.listNames(commitsDir(dir))
      .collect { case n if n.startsWith("commit_") => n.stripPrefix("commit_").toInt }
      .filter(id => IndexFs.exists(s"${commitRoot(dir, id)}/meta.json")) // half-written commits invisible
      .sorted

  /** Release a pinned snapshot (its generations/scopes become
    * purgeable; data is not deleted here — see [[purgeGenerations]]).
    */
  def releaseSnapshot(dir: String, id: Int): Boolean =
    IndexFs.delete(commitRoot(dir, id), recursive = true)

  private def readSnapshotMeta(dir: String, id: Int): (String, Seq[String]) = {
    val s = IndexFs.readString(s"${commitRoot(dir, id)}/meta.json")
    val scope = "\"scope\"\\s*:\\s*\"([0-9a-f]+)\"".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse(sys.error(s"corrupt snapshot meta for $id"))
    val tombs = "\"([^\"]+\\.parquet)\"".r.findAllMatchIn(s).map(_.group(1)).toSeq
    (scope, tombs)
  }

  /** Livedocs scope keys pinned by retained snapshots — excluded from
    * [[LiveDocs.gc]] regardless of age.
    */
  def snapshotScopes(dir: String): Set[String] =
    listSnapshots(dir).map(id => readSnapshotMeta(dir, id)._1).toSet

  /** Generation dirs referenced by the live manifest set or any retained
    * snapshot — everything else is purgeable garbage.
    */
  private def referencedGens(dir: String): Set[String] =
    (listManifests(dir) ++
      listSnapshots(dir).flatMap(id => listManifests(commitRoot(dir, id))))
      .map(_.dataDir).toSet

  /** Delete unreferenced generation dirs — the IndexFileDeleter analogue
    * (`core/index/IndexFileDeleter.java:54`), shared-storage-safe:
    * a merge only MARKS dereferenced generations (`_deref` marker, the
    * dereference timestamp); this purge deletes a marked generation
    * once the marker is older than the reader lease ([[LiveDocs.gcGraceMs]])
    * AND it is still unreferenced (a snapshot taken before the merge
    * keeps its generations alive indefinitely). Returns purged dir names.
    */
  def purgeGenerations(dir: String, graceMs: Long = LiveDocs.gcGraceMs): Seq[String] = {
    // releasing a snapshot can newly dereference generations the merge
    // couldn't mark (they were pinned then) — re-mark before purging
    markDereferencedGens(dir)
    val live = referencedGens(dir)
    val cutoff = System.currentTimeMillis() - graceMs
    IndexFs.list(s"$dir/segments")
      .filter(st => st.getPath.getName.startsWith("gen_"))
      .filter(st => !live.contains(st.getPath.getName))
      .filter { st =>
        IndexFs.list(s"$dir/segments/${st.getPath.getName}")
          .find(_.getPath.getName == "_deref")
          .exists(_.getModificationTime <= cutoff)
      }
      .map { st =>
        IndexFs.delete(s"$dir/segments/${st.getPath.getName}", recursive = true)
        st.getPath.getName
      }
  }

  /** Compact the tombstone set after a merge physically purged deleted
    * docs — the reference analogue of merges clearing applied deletes
    * (`core/index/ReadersAndUpdates.java` dropping liveDocs on merge):
    * a tombstone row whose doc no longer EXISTS in any live segment
    * matches nothing and only adds open-time scan cost forever. Keeps
    * (a) rows still matching a live doc (deletes not yet merged away),
    * written to a fresh file via tmp + rename, and (b) FILES pinned by
    * retained snapshots (their point-in-time delete view reads those
    * exact files). Crash-safe: survivors land before originals are
    * removed — duplicates are harmless (tombstones are a set).
    */
  def compactTombstones(spark: SparkSession, dir: String): Unit = {
    val tdir = tombstoneDir(dir)
    val pinned: Set[String] = listSnapshots(dir)
      .flatMap(id => readSnapshotMeta(dir, id)._2).toSet
    val old = IndexFs.listNames(tdir).filter(_.endsWith(".parquet")).filterNot(pinned)
    if (old.isEmpty || listManifests(dir).isEmpty) return
    val tombs = spark.read.parquet(old.map(n => s"$tdir/$n"): _*).distinct()
    val liveKeys = openRaw(spark, dir).filter(org.apache.spark.sql.functions.col("kind") === "m")
      .select("repo", "path", "commit")
    val survivors = tombs.join(liveKeys, Seq("repo", "path", "commit"), "left_semi")
    if (!survivors.isEmpty) {
      val tmp = s"$dir/_tombstone_compact_${java.util.UUID.randomUUID().toString.take(8)}"
      survivors.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = IndexFs.fsOf(new org.apache.hadoop.fs.Path(tdir))
      fs.mkdirs(new org.apache.hadoop.fs.Path(tdir))
      IndexFs.listNames(tmp).filter(_.endsWith(".parquet")).foreach { n =>
        fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/$n"),
          new org.apache.hadoop.fs.Path(s"$tdir/compact-$n"))
      }
      IndexFs.delete(tmp, recursive = true)
    }
    old.foreach(n => IndexFs.delete(s"$tdir/$n"))
  }

  /** Mark generations that just lost their last live reference (called
    * by merges after the manifest swap). Purge happens later, after the
    * reader lease — see [[purgeGenerations]].
    */
  private[build] def markDereferencedGens(dir: String): Unit = {
    val live = referencedGens(dir)
    IndexFs.listNames(s"$dir/segments")
      .filter(g => g.startsWith("gen_") && !live.contains(g))
      .foreach { g =>
        val marker = s"$dir/segments/$g/_deref"
        if (!IndexFs.exists(marker))
          IndexFs.writeString(marker, System.currentTimeMillis().toString)
      }
  }

  /** One cheap columnar probe: does the parquet read's AMBIENT
    * partitioning already co-locate every segment? Build tasks emit whole
    * segments into their output files, so it almost always does — the
    * only breaker is a file large enough to be split across read
    * partitions (row-group splits). The probe scans ONLY the `seg`
    * column (one narrow job, no shuffle, tiny collect of (seg,
    * partition) pairs); a later filtered query scan re-plans the SAME
    * file splits (splits derive from the cached file listing, not from
    * pushed filters), so a positive probe holds for every query against
    * this Index snapshot.
    */
  private def segAlignmentProbe(postings: Dataset[PostingList]): Boolean = {
    val spark = postings.sparkSession
    import spark.implicits._
    val pairs = postings.select($"seg").as[Int].mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val segs = scala.collection.mutable.Set.empty[Int]
        it.foreach(segs += _)
        segs.iterator.map(s => (s, pid))
      }
    }.collect()
    pairs.groupBy(_._1).valuesIterator.forall(_.map(_._2).distinct.length == 1)
  }

  /** Open a persistent index. `docmeta` excludes tombstoned docs;
    * `live` carries their sidecar view for kernel-side exclusion.
    *
    * Seg alignment: a plain open PROBES the read's ambient partitioning
    * (one narrow seg-column job) and, when each segment is already
    * co-located in one read partition — the build write layout
    * guarantees it unless a file got split — every query runs the
    * no-shuffle seg-aligned path with NO up-front repartition.
    *
    * `serving = true` opens a long-lived reader: [[Index.reader]] holds
    * one persisted term map per segment (grouped partition-locally when
    * the probe succeeds, through one shuffle on `seg` when it fails),
    * built by the first query or an explicit `reader.foreach(_.count())`.
    * Queries then look their terms up in it: one job with one stage, no
    * per-query scan, concatenation or Catalyst plan for the kernel pass.
    */
  def open(spark: SparkSession, dir: String, serving: Boolean = false,
      snapshot: Option[Int] = None): Index = {
    import spark.implicits._
    val seg = snapshot match {
      case None => openRaw(spark, dir)
      case Some(id) =>
        require(IndexFs.exists(s"${commitRoot(dir, id)}/meta.json"), s"no snapshot $id in $dir")
        openRaw(spark, dir, manifestRoot = commitRoot(dir, id))
    }
    val postings = seg.filter($"kind" === "p")
      .select($"seg", $"term", $"df", $"ttf", $"counts", $"baseDocIds",
        $"maxDocIds", $"maxFreqs", $"minNorms", $"offsets", $"payload")
      .as[PostingList]
    // serving opens probe EAGERLY (the reader's grouping needs it);
    // plain opens defer the probe to the Index's lazy segAligned, so
    // one-shot tooling (CheckIndex, stats) never pays the job
    lazy val aligned = segAlignmentProbe(postings)
    val reader =
      if (!serving) None
      else Some(graft.exec.Searcher.bySegment(postings.rdd, aligned,
          math.max(1, spark.sparkContext.defaultParallelism))
        .setName(s"graft reader $dir")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val docmeta0 = seg.filter($"kind" === "m")
      .select($"docId", $"repo", $"path", $"commit", $"lang", $"sha256", $"tokenCount", $"norm")
      .as[DocMeta]
    // delete view: live opens see the current tombstone set; snapshot
    // opens see EXACTLY the tombstone files recorded at commit time
    // (point-in-time contract), resolved under the snapshot's pinned
    // scope (excluded from livedocs GC while the snapshot is retained)
    val (scopeKey, tombsOpt) = snapshot match {
      case None =>
        (sha256Hex("open:" + tombstoneSetKey(dir) + ":" + manifestSetHash(dir)).take(16),
          readTombstones(spark, dir))
      case Some(id) =>
        val (scope, tombNames) = readSnapshotMeta(dir, id)
        (scope,
          if (tombNames.isEmpty) None
          else Some(spark.read.parquet(
            tombNames.map(n => s"${tombstoneDir(dir)}/$n"): _*).distinct()))
    }
    val (docmeta, live) = tombsOpt match {
      case None => (docmeta0, NoDeletes: LiveDocs)
      case Some(tombs) =>
        // executor-side delete application: tombstones resolve to
        // per-segment sidecar files read lazily by kernels/merges —
        // the deleted ids NEVER pass through the driver (liveDocs model)
        val ld = LiveDocs.resolve(spark, dir, scopeKey, docmeta0.toDF(), tombs)
        if (ld.isEmpty) (docmeta0, ld)
        else (docmeta0.join(tombs, Seq("repo", "path", "commit"), "left_anti").as[DocMeta], ld)
    }
    // stats: live opens read the maintained stats tables; snapshot opens
    // recompute from the pinned segment rows (same partial->final agg
    // the stats writer runs, so df/ttf sums — and therefore BM25
    // scores — are exactly what the live index produced at commit time)
    val (termStats, fieldStats) = snapshot match {
      case None =>
        val fsJson = IndexFs.readString(s"$dir/stats/field.json")
        def num(k: String): Long =
          ("\"" + k + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(fsJson)
            .map(_.group(1).toLong).getOrElse(0L)
        (spark.read.parquet(s"$dir/stats/terms").as[TermStats],
          FieldStats(num("docCount"), num("sumTotalTermFreq")))
      case Some(_) =>
        val ts = seg.filter($"kind" === "p")
          .groupBy($"term").agg(sum($"df").as("df"), sum($"ttf").as("ttf"))
          .as[TermStats]
        val (n, sttf) = seg.filter($"kind" === "m")
          .agg(count(lit(1)), coalesce(sum($"tokenCount".cast("long")), lit(0L)))
          .as[(Long, Long)].head()
        (ts, FieldStats(n, sttf))
    }
    new Index(postings, docmeta, termStats, fieldStats, live,
      segAlignedInit = () => aligned, reader = reader)
  }
}
