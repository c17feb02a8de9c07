package graft.model

/** Core data model of the engine (SURVEY.md §1.2, FIXTURES.md).
  *
  * The input table shape is fixed by the driver
  * (`BASELINE.json` input_hint): an Iceberg/Parquet table of source code.
  * Reference analogue: one Lucene `Document` per row
  * (`core/document/Document.java:40`), with `content` playing the role of
  * the demo's `contents` TextField
  * (`lucene/demo/src/java/org/apache/lucene/demo/IndexFiles.java:206-239`).
  */
final case class SourceRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String
)

/** Per-document metadata — Lucene's stored fields + norms, columnar.
  *
  * `norm` is the byte-encoded field length, exactly Lucene's
  * `SmallFloat.intToByte4(tokenCount)` (`core/util/SmallFloat.java:147`;
  * consumed by `BM25Similarity.java:111-117`). `sha256` is the per-row
  * invariant vs the source table demanded by the driver.
  */
final case class DocMeta(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    sha256: String,
    tokenCount: Int,
    norm: Byte
)

/** One posting list for (term) within one segment.
  *
  * Design note (Spark-first, not a port): the index is
  * *document-partitioned* — each `seg` covers a disjoint docId range, the
  * distributed analogue of Lucene's per-segment independence
  * (`core/index/SegmentInfos.java:55-106`, leaf slices
  * `core/search/IndexSearcher.java:323`). A query fans out to all
  * segments, each runs the scoring kernel locally over its own posting
  * rows and emits a local top-k; the global reduce is a tiny
  * `orderBy(score desc, docId asc).limit(k)` shuffle. This keeps query
  * cost independent of total corpus size per executor at 10^12-file scale.
  *
  * Norm bytes are denormalised into the posting blocks (Lucene instead
  * random-accesses a per-doc norms file, `Lucene90NormsFormat.java:83`;
  * its impacts/skip data already duplicate competitive (freq, norm) pairs
  * — `Lucene103PostingsWriter.java:388-401`). On a cluster the norms of
  * arbitrary docIds are not locally addressable, so embedding one byte
  * per posting makes each segment's kernel self-contained — no
  * norms join/broadcast at query time.
  *
  * `blocks` mirrors the 128-doc block structure of the reference codec
  * (`core/codecs/lucene103/ForUtil.java:32` BLOCK_SIZE=128) with
  * block-max skip metadata (`Lucene103PostingsFormat.java:343-353`).
  */
/** Posting list layout: flat primitive metadata arrays (one entry per
  * 128-doc block) + ONE binary payload. Chosen over an
  * array-of-block-structs because Tungsten encodes primitive arrays and a
  * single binary orders of magnitude faster than nested structs — the
  * layout is shuffled at merge time and written/read at build/query time,
  * so its encoding cost IS the build cost.
  *
  * Skip/impact metadata (`maxDocIds`, `maxFreqs`, `minNorms` — the
  * reference's inlined skip data + impacts,
  * `Lucene103PostingsFormat.java:343-353`) is readable without touching
  * the payload; `baseDocIds(i)` is the docId block i's first delta is
  * relative to (-1 = absolute), making every block self-contained so
  * rows can be split (mega-term salting) and concatenated (merge,
  * query-time) freely.
  *
  * Payload per block at `offsets(i)..offsets(i+1)`:
  * [docId-delta varints][freq-1 varints][norm bytes][position-delta varints].
  */
final case class PostingList(
    seg: Int, // segment id = docId-range partition
    term: String,
    df: Int, // segment-local doc freq
    ttf: Long, // segment-local total term freq
    counts: Array[Int], // postings per block
    baseDocIds: Array[Long],
    maxDocIds: Array[Long],
    maxFreqs: Array[Int],
    minNorms: Array[Byte],
    offsets: Array[Int], // numBlocks + 1 entries into payload
    payload: Array[Byte]
) {
  def numBlocks: Int = counts.length
}

/** Global per-term statistics (BM25 idf inputs) — Lucene's
  * `TermStatistics` (`core/search/TermStatistics.java`).
  */
final case class TermStats(term: String, df: Long, ttf: Long)

/** Global collection statistics — Lucene's `CollectionStatistics`,
  * consumed at `BM25Similarity.java:172-181`.
  */
final case class FieldStats(docCount: Long, sumTotalTermFreq: Long) {
  def avgdl: Float = (sumTotalTermFreq / docCount.toDouble).toFloat
  def avgdlDouble: Double = sumTotalTermFreq / docCount.toDouble
}

/** Per-build-shard checkpoint row — the resumable-build manifest
  * (north rule). Reference analogue: the `segments_N` generation
  * protocol (`core/index/SegmentInfos.java:55-106`). Its `docs` and
  * `sumTotalTermFreq` are the segment's content-field collection
  * statistics: an open's [[FieldStats]] is their sum over the manifests
  * it reads.
  */
final case class SegmentManifest(
    seg: Int,
    status: String, // "complete"
    docs: Long, // the segment's share of the content field's docCount
    sumTotalTermFreq: Long, // sum of its docs' content token counts
    postings: Long, // number of (term, doc) pairs in the segment
    bytes: Long, // encoded posting payload bytes
    inputFingerprint: String, // fingerprint of the input slice this seg was built from
    codeConfigHash: String, // analyzer/codec config hash (lineage)
    dataDir: String // generation dir under segments/ holding this seg's files
)

/** A scored hit. Tie-break contract: score desc, then docId asc —
  * `core/search/HitQueue.java:76-82`.
  */
final case class ScoredDoc(docId: Long, score: Float)
final case class ScoredDocD(docId: Long, score: Double)
