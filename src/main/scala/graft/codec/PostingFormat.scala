package graft.codec

import graft.model.PostingList

/** Pluggable posting format — the Codec SPI
  * (`core/codecs/Codec.java:34`: named, registry-loaded, recorded
  * per segment so readers pick the right decoder). The engine's
  * restatement: every NEW PostingList payload is SELF-DESCRIBING — byte
  * 0 is the format id and `offsets(0) = 1` points past it; rows written
  * before the SPI (`offsets(0) = 0`) decode as PFOR. Decoding therefore
  * dispatches per ROW, so segments written under different codecs
  * coexist in one index exactly like the reference's per-segment codec
  * recording; ENCODES take the format explicitly (captured at
  * build/merge planning time — never read from mutable global state
  * inside an executor task).
  */
trait PostingFormat extends Serializable {
  def id: Byte
  def name: String
  def encode(seg: Int, term: String, docIds: Array[Long], freqs: Array[Int],
      norms: Array[Byte], positions: Array[Array[Int]] = null,
      payloads: Array[Array[Array[Byte]]] = null): PostingList
  def encodeFlat(seg: Int, term: String, docIds: Array[Long], freqs: Array[Int],
      norms: Array[Byte], n: Int, posFlat: Array[Int], posOff: Array[Int],
      posEnd: Int, payFlat: Array[Byte] = null, payOff: Array[Int] = null,
      payEnd: Int = 0): PostingList
  private[codec] def decodeBlockImpl(pl: PostingList, b: Int,
      withPositions: Boolean, withPayloads: Boolean): PostingCodec.Decoded
}

/** Format registry (the codec SPI lookup, `Codec.forName`). */
object PostingFormats {
  val Default = "pfor"
  private val formats = Seq(PForFormat, VByteFormat)
  private val all: Map[String, PostingFormat] = formats.map(f => f.name -> f).toMap
  // indexed by format id: every block decode dispatches here, so no
  // boxed-key map lookup
  private val byIdArr: Array[PostingFormat] = {
    val a = new Array[PostingFormat](formats.map(_.id.toInt).max + 1)
    formats.foreach(f => a(f.id) = f)
    a
  }

  def byName(name: String): PostingFormat =
    all.getOrElse(name, throw new IllegalArgumentException(s"unknown posting format '$name'"))
  def byId(id: Byte): PostingFormat = {
    val f = if (id >= 0 && id < byIdArr.length) byIdArr(id) else null
    if (f == null) throw new IllegalArgumentException(s"unknown posting format id $id")
    f
  }

  /** Format that wrote `pl` (legacy prefix-less rows are PFOR). */
  def of(pl: PostingList): PostingFormat =
    if (pl.offsets.length == 0 || pl.offsets(0) == 0) PForFormat else byId(pl.payload(0))
}

/** Delta + FOR/PFOR 128-doc blocks — the default; delegates to
  * [[PostingCodec]] (see that object for the layout).
  */
object PForFormat extends PostingFormat {
  val id: Byte = 0
  val name = "pfor"
  def encode(seg: Int, term: String, docIds: Array[Long], freqs: Array[Int],
      norms: Array[Byte], positions: Array[Array[Int]],
      payloads: Array[Array[Array[Byte]]]): PostingList =
    PostingCodec.encode(seg, term, docIds, freqs, norms, positions, payloads)
  def encodeFlat(seg: Int, term: String, docIds: Array[Long], freqs: Array[Int],
      norms: Array[Byte], n: Int, posFlat: Array[Int], posOff: Array[Int],
      posEnd: Int, payFlat: Array[Byte], payOff: Array[Int],
      payEnd: Int): PostingList =
    PostingCodec.encodeFlat(seg, term, docIds, freqs, norms, n, posFlat, posOff,
      posEnd, payFlat, payOff, payEnd)
  private[codec] def decodeBlockImpl(pl: PostingList, b: Int,
      withPositions: Boolean, withPayloads: Boolean): PostingCodec.Decoded =
    PostingCodec.decodeBlockPFor(pl, b, withPositions, withPayloads)
}

/** Variable-byte posting format: same 128-doc block structure, skip
  * metadata, and impacts as PFOR, but every run is plain varints —
  * byte-aligned decode with no bit unpacking (the classic VInt postings
  * layout of older reference codecs, cf.
  * `core/codecs/lucene103/...` VByte tails). Block payload:
  *   [varint firstDocDelta][varint docDelta x (count-1)]
  *   [varint (freq-1) x count]
  *   [norm byte x count]
  *   [varint posDelta x sum(freq)]   (when positions kept)
  *   [varint payLen + payLen bytes x sum(freq)]   (when payload lane on;
  *     2-byte [id, flags] header with offsets(0)=2, see PostingCodec)
  */
object VByteFormat extends PostingFormat {
  val id: Byte = 1
  val name = "vbyte"
  private val BlockSize = PostingCodec.BlockSize

  /** Growable PRIMITIVE byte sink. `ArrayBuffer[Byte]` is unspecialized —
    * every append boxes a java.lang.Byte into an Object[] — which made
    * the original vbyte encode ~11x slower than the PFOR path at build
    * time (BENCH_r04 prep: idx_vbyte 37.7 s vs idx_std 3.3 s). Plain
    * byte-array writes with doubling growth restore array-speed appends.
    */
  private final class ByteWriter(initial: Int) {
    private var arr = new Array[Byte](math.max(16, initial))
    var len = 0
    @inline private def ensure(extra: Int): Unit =
      if (len + extra > arr.length) {
        var cap = arr.length << 1
        while (cap < len + extra) cap <<= 1
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    @inline def add(b: Byte): Unit = { ensure(1); arr(len) = b; len += 1 }
    @inline def writeV(value: Long): Unit = {
      ensure(10)
      var v = value
      while ((v & ~0x7fL) != 0) {
        arr(len) = ((v & 0x7f) | 0x80).toByte
        len += 1
        v >>>= 7
      }
      arr(len) = v.toByte
      len += 1
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  def encode(seg: Int, term: String, docIds: Array[Long], freqs: Array[Int],
      norms: Array[Byte], positions: Array[Array[Int]],
      payloads: Array[Array[Array[Byte]]]): PostingList =
    if (positions == null)
      encodeGeneric(seg, term, docIds, freqs, norms, docIds.length, null, null, 0)
    else {
      // flatten once up front — encodeGeneric writes positions straight
      // from the flat buffer, no per-posting array slicing
      val n = docIds.length
      val posOff = new Array[Int](n)
      var total = 0
      var i = 0
      while (i < n) { posOff(i) = total; total += positions(i).length; i += 1 }
      val flat = new Array[Int](total)
      i = 0
      while (i < n) {
        System.arraycopy(positions(i), 0, flat, posOff(i), positions(i).length)
        i += 1
      }
      if (payloads == null)
        encodeGeneric(seg, term, docIds, freqs, norms, n, flat, posOff, total)
      else {
        // flatten the payload lane the same way
        val pOff = new Array[Int](total)
        var payTotal = 0
        i = 0
        var o = 0
        while (i < n) {
          val pa = payloads(i)
          var j = 0
          while (j < positions(i).length) {
            pOff(o) = payTotal
            if (pa != null && pa(j) != null) payTotal += pa(j).length
            j += 1; o += 1
          }
          i += 1
        }
        val pFlat = new Array[Byte](payTotal)
        i = 0; o = 0
        while (i < n) {
          val pa = payloads(i)
          var j = 0
          while (j < positions(i).length) {
            if (pa != null && pa(j) != null)
              System.arraycopy(pa(j), 0, pFlat, pOff(o), pa(j).length)
            j += 1; o += 1
          }
          i += 1
        }
        encodeGeneric(seg, term, docIds, freqs, norms, n, flat, posOff, total,
          pFlat, pOff, payTotal)
      }
    }

  def encodeFlat(seg: Int, term: String, docIds: Array[Long], freqs: Array[Int],
      norms: Array[Byte], n: Int, posFlat: Array[Int], posOff: Array[Int],
      posEnd: Int, payFlat: Array[Byte], payOff: Array[Int],
      payEnd: Int): PostingList =
    encodeGeneric(seg, term, docIds, freqs, norms, n, posFlat, posOff, posEnd,
      payFlat, payOff, payEnd)

  private def encodeGeneric(seg: Int, term: String, docIds: Array[Long],
      freqs: Array[Int], norms: Array[Byte], n: Int,
      posFlat: Array[Int], posOff: Array[Int], posEnd: Int,
      payFlat: Array[Byte] = null, payOff: Array[Int] = null,
      payEnd: Int = 0): PostingList = {
    val numBlocks = (n + BlockSize - 1) / BlockSize
    val counts = new Array[Int](numBlocks)
    val bases = new Array[Long](numBlocks)
    val maxDocs = new Array[Long](numBlocks)
    val maxFreqs = new Array[Int](numBlocks)
    val minNorms = new Array[Byte](numBlocks)
    val offsets = new Array[Int](numBlocks + 1)
    val buf = new ByteWriter(1 + n * 3 + (if (posFlat == null) 0 else posEnd))
    buf.add(id) // self-describing payload
    if (payOff != null) { buf.add(1.toByte); offsets(0) = 2 } // flags: payload lane
    else offsets(0) = 1
    var ttf = 0L
    var from = 0
    var prevBlockLast = -1L
    var b = 0
    while (from < n) {
      val until = math.min(from + BlockSize, n)
      counts(b) = until - from
      bases(b) = prevBlockLast
      maxDocs(b) = docIds(until - 1)
      var maxFreq = 0
      var minNormLen = Int.MaxValue
      var minNorm: Byte = 0
      var prev = prevBlockLast
      var i = from
      while (i < until) {
        buf.writeV(docIds(i) - prev - (if (prev < 0) 0 else 1))
        prev = docIds(i)
        i += 1
      }
      i = from
      while (i < until) {
        val f = freqs(i)
        buf.writeV((f - 1).toLong)
        if (f > maxFreq) maxFreq = f
        ttf += f
        i += 1
      }
      i = from
      while (i < until) {
        val nb = norms(i)
        buf.add(nb)
        val len = graft.util.SmallFloat.byte4ToInt(nb)
        if (len < minNormLen) { minNormLen = len; minNorm = nb }
        i += 1
      }
      if (posFlat != null) {
        i = from
        while (i < until) {
          val start = posOff(i)
          val end = if (i + 1 < n) posOff(i + 1) else posEnd
          var prevPos = -1
          var j = start
          while (j < end) {
            buf.writeV((posFlat(j) - prevPos - 1).toLong)
            prevPos = posFlat(j)
            j += 1
          }
          i += 1
        }
        if (payOff != null) {
          val blockPosStart = posOff(from)
          val blockPosEnd = if (until < n) posOff(until) else posEnd
          var j = blockPosStart
          while (j < blockPosEnd) {
            val pEndB = if (j + 1 < posEnd) payOff(j + 1) else payEnd
            buf.writeV((pEndB - payOff(j)).toLong)
            var bi = payOff(j)
            while (bi < pEndB) { buf.add(payFlat(bi)); bi += 1 }
            j += 1
          }
        }
      }
      maxFreqs(b) = maxFreq
      minNorms(b) = minNorm
      offsets(b + 1) = buf.len
      prevBlockLast = docIds(until - 1)
      from = until
      b += 1
    }
    PostingList(seg, term, n, ttf, counts, bases, maxDocs, maxFreqs, minNorms,
      offsets, buf.toArray)
  }

  private[codec] def decodeBlockImpl(pl: PostingList, b: Int,
      withPositions: Boolean, withPayloads: Boolean): PostingCodec.Decoded = {
    val count = pl.counts(b)
    val r = new PostingCodec.Reader(pl.payload, pl.offsets(b))
    val ids = new Array[Long](count)
    var prev = pl.baseDocIds(b)
    var i = 0
    while (i < count) {
      ids(i) = prev + r.readVLong() + (if (prev < 0) 0 else 1)
      prev = ids(i)
      i += 1
    }
    val freqs = new Array[Int](count)
    var totalFreq = 0
    i = 0
    while (i < count) {
      freqs(i) = (r.readVLong() + 1).toInt
      totalFreq += freqs(i)
      i += 1
    }
    val norms = new Array[Byte](count)
    i = 0
    while (i < count) { norms(i) = r.readByte(); i += 1 }
    var poss: Array[Array[Int]] = null
    if (withPositions) {
      poss = new Array[Array[Int]](count)
      i = 0
      while (i < count) {
        val ps = new Array[Int](freqs(i))
        var prevPos = -1
        var j = 0
        while (j < ps.length) {
          ps(j) = prevPos + r.readVLong().toInt + 1
          prevPos = ps(j)
          j += 1
        }
        poss(i) = ps
        i += 1
      }
    }
    var pays: Array[Array[Array[Byte]]] = null
    if (withPayloads) {
      pays = new Array[Array[Array[Byte]]](count)
      i = 0
      while (i < count) {
        val pa = new Array[Array[Byte]](freqs(i))
        var j = 0
        while (j < pa.length) {
          val len = r.readVLong().toInt
          if (len > 0) {
            pa(j) = java.util.Arrays.copyOfRange(r.bytesRef, r.pos, r.pos + len)
            r.pos += len
          }
          j += 1
        }
        pays(i) = pa
        i += 1
      }
    }
    PostingCodec.Decoded(ids, freqs, norms, poss, pays)
  }
}
