package graftbench

import graft.build.{CheckIndex, Datagen, Index, IndexBuilder, IndexMerger, InputDoc, SourceReader}
import graft.exec.Searcher
import graft.query.{Query, QueryParser, TermQ}
import org.apache.spark.sql.Dataset

import Stats.{median, quantile}

/** A persistent index built from the seeded corpus. */
final case class Built(dir: String, docs: Long, sourceBytes: Long, indexBytes: Long)

object Common {
  /** Builds a persistent index of the seeded corpus from an empty
    * directory and checks the manifest doc sum.
    */
  def buildIndex(ctx: Ctx, dir: String, docs: Long, segs: Int): Built =
    buildFrom(ctx, dir, docs,
      Datagen.toInputDocs(Datagen.corpus(ctx.spark, docs, seed = Inputs.dataSeed(ctx.o.seed), numPartitions = segs), segs))

  def buildFrom(ctx: Ctx, dir: String, docs: Long, src: Dataset[InputDoc]): Built = {
    val seed = Inputs.dataSeed(ctx.o.seed)
    Harness.deleteTree(dir)
    val t0 = System.nanoTime()
    val ms = ctx.tracer.span("build.persistent")(IndexBuilder.buildPersistent(ctx.spark, src, dir))
    ctx.rec.info("build_s") = (System.nanoTime() - t0) / 1e9
    ctx.rec.check("build.manifest_docs", ms.map(_.docs).sum == docs, s"manifests hold ${ms.map(_.docs).sum} docs, corpus has $docs")
    Built(dir, docs, sourceBytes(seed, docs), ms.map(_.bytes).sum)
  }

  /** Opens `b` for serving (postings persisted) after releasing `prev`,
    * so the new index starts with cold caches.
    */
  def reopen(ctx: Ctx, b: Built, prev: Option[Index]): Index = {
    prev.foreach(_.postings.unpersist(blocking = true))
    ctx.tracer.span("build.open")(IndexBuilder.open(ctx.spark, b.dir, serving = true))
  }

  def checkIndex(ctx: Ctx, index: Index, when: String): Unit = {
    val v = ctx.tracer.span("build.checkindex")(CheckIndex.run(index))
    ctx.rec.check(s"checkindex.$when", v.isEmpty, v.take(3).mkString("; "))
  }

  /** UTF-8 bytes of the corpus content (the indexed field). */
  def sourceBytes(seed: Long, docs: Long): Long =
    (0L until docs).iterator.map(i => Datagen.content(seed, i, Inputs.Vocab).length.toLong).sum

  def topRows(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Float)] =
    rows.toSeq.map(r => (r.getLong(0), r.getFloat(1)))

  /** `topKBatch` rows of queries named `q<i>`, as pool index -> ranked
    * (docId, score).
    */
  def batchRows(rows: Array[org.apache.spark.sql.Row]): Map[Int, Seq[(Long, Float)]] =
    rows.groupBy(_.getString(0)).map { case (q, rs) =>
      q.drop(1).toInt -> rs.sortBy(_.getLong(3)).toSeq.map(r => (r.getLong(1), r.getFloat(2)))
    }
}

/** `serve`: one client, one query at a time, k = 10, against a serving
  * index. Queries are drawn Zipf-skewed from a seeded pool of the
  * reference shapes; the most popular part of the pool is warmed in
  * set-up, so most lookups hit the driver caches and the rest miss.
  */
object Serve {
  /** `samples`: the timed phase runs at least this many queries, so that
    * a tenth of them lie beyond the p90.
    */
  final case class Size(docs: Long, segs: Int, pool: Int, warm: Int, setupReps: Int, samples: Int)
  val Full = Size(docs = 8000, segs = 8, pool = 16, warm = 12, setupReps = 3, samples = 100)
  val Smoke = Size(docs = 3000, segs = 4, pool = 13, warm = 8, setupReps = 2, samples = 10)

  def run(ctx: Ctx, sz: Size): Unit = {
    val spark = ctx.spark
    val pool = Inputs.servePool(ctx.o.seed, sz.docs, sz.pool)
    val draws = new Rng(ctx.o.seed ^ 0x21bf).zipf(pool.size, 1.0, 100000)
    ctx.rec.info("pool") = pool
    ctx.rec.info("loop") = "closed, 1 client"

    def search(idx: Index, q: String): Array[org.apache.spark.sql.Row] = {
      val parsed = ctx.tracer.span("query.parse")(QueryParser.parse(q))
      Harness.execute(ctx, Searcher.topKQ(idx, parsed, 10))
    }

    // first result of each pool query: from the last set-up's warm-up,
    // else from its first timed execution; every later execution must match
    val first = scala.collection.mutable.HashMap.empty[Int, Seq[(Long, Float)]]
    val b = Common.buildIndex(ctx, ctx.work("serve"), sz.docs, sz.segs)
    var prev: Option[Index] = None
    val idx = ctx.setup(sz.setupReps) { _ =>
      val idx = Common.reopen(ctx, b, prev)
      prev = Some(idx)
      first.clear()
      // twice: the first pass fills the caches, the second lets the JIT catch up
      for (_ <- 0 until 2; i <- 0 until sz.warm) first(i) = Common.topRows(search(idx, pool(i)))
      idx
    }
    val cache0 = (idx.termStatsCache.size, idx.expansionCache.size)
    var same = true
    ctx.loop(ctx.o.seconds, minOps = sz.samples) { i =>
      val qi = draws(i % draws.length)
      var rows: Seq[(Long, Float)] = Nil
      ctx.timed("query") { rows = Common.topRows(search(idx, pool(qi))); true }
      if (first.getOrElseUpdate(qi, rows) != rows) same = false
    }
    ctx.rec.check("serve.digest_stable", same, "a pool query returned different top-k rows across passes")
    if (ctx.tracer.enabled) Layers.caches(ctx, cache0, idx)

    val lat = ctx.latencies("query") ++ ctx.latencies("query:untraced")
    ctx.rec.metric("latency_p50_ms", median(lat), "ms")
    ctx.rec.metric("latency_p90_ms", quantile(lat, 0.9), "ms")
    ctx.rec.metric("throughput_per_s", lat.size / ctx.rec.info("timed_s").asInstanceOf[Double], "1/s")
    ctx.rec.metric("spark.cached_mb", Harness.cachedMb(spark), "MB")

    // gate: every pool query's top-k equals its rows in one topKBatch
    val tracerOn = ctx.tracer.on
    ctx.tracer.on = false
    pool.indices.filterNot(first.contains).foreach(i => first(i) = Common.topRows(search(idx, pool(i))))
    val batch = Common.batchRows(Searcher.topKBatch(idx, pool.indices.map(i => s"q$i" -> QueryParser.parse(pool(i))), 10).collect())
    val bad = pool.indices.filter(i => first(i) != batch.getOrElse(i, Nil))
    ctx.rec.check("serve.topk_equals_batch", bad.isEmpty, s"${bad.size} pool queries differ, e.g. ${bad.take(3).map(pool).mkString(" | ")}")
    ctx.tracer.on = tracerOn
    if (ctx.tracer.enabled) {
      Layers.codec(ctx, Layers.postingRows(idx, Datagen.Keywords.take(8).toSeq))
      Layers.analysis(ctx, Inputs.dataSeed(ctx.o.seed), 400)
    }
    ctx.rec.metric("build.bytes_per_source_byte", b.indexBytes.toDouble / b.sourceBytes, "ratio")
    ctx.rec.info("index") = Map("docs" -> b.docs, "segments" -> sz.segs, "index_bytes" -> b.indexBytes, "source_bytes" -> b.sourceBytes)
  }
}

/** `batch`: repeated `topKBatch` calls, each carrying the same seeded set
  * of distinct queries (mostly disjunctions and conjunctions of high-df
  * keywords). The driver floor is paid once per call, so the postings
  * scan and the scoring kernels carry the time.
  */
object Batch {
  /** `checked`: how many pool queries the gate runs through `topKQ`. */
  final case class Size(docs: Long, segs: Int, pool: Int, setupReps: Int, warmCalls: Int, checked: Int)
  val Full = Size(docs = 12000, segs = 8, pool = 256, setupReps = 3, warmCalls = 3, checked = 20)
  val Smoke = Size(docs = 3000, segs = 4, pool = 32, setupReps = 2, warmCalls = 2, checked = 10)

  def run(ctx: Ctx, sz: Size): Unit = {
    val spark = ctx.spark
    val pool = Inputs.batchPool(ctx.o.seed, sz.pool)
    ctx.rec.info("pool") = pool
    ctx.rec.info("loop") = "closed, 1 client"

    def call(idx: Index): Array[org.apache.spark.sql.Row] = {
      val qs = ctx.tracer.span("query.parse")(pool.indices.map(i => s"q$i" -> QueryParser.parse(pool(i))))
      Harness.execute(ctx, Searcher.topKBatch(idx, qs, 10))
    }

    var firstRows = Array.empty[org.apache.spark.sql.Row]
    var reference = ""
    var same = true
    val b = Common.buildIndex(ctx, ctx.work("batch"), sz.docs, sz.segs)
    var prev: Option[Index] = None
    val idx = ctx.setup(sz.setupReps) { _ =>
      val idx = Common.reopen(ctx, b, prev)
      prev = Some(idx)
      // the first warm-up call pays the cache misses, the others let the JIT catch up
      firstRows = call(idx)
      reference = Harness.digest(firstRows)
      (1 until sz.warmCalls).foreach(_ => if (Harness.digest(call(idx)) != reference) same = false)
      idx
    }
    val cache0 = (idx.termStatsCache.size, idx.expansionCache.size)
    ctx.loop(ctx.o.seconds) { _ =>
      var rows: Array[org.apache.spark.sql.Row] = null
      ctx.timed("call") { rows = call(idx); true }
      if (rows != null && Harness.digest(rows) != reference) same = false
    }
    ctx.rec.check("batch.digest_stable", same, "a topKBatch call returned a different result digest")
    if (ctx.tracer.enabled) Layers.caches(ctx, cache0, idx)

    // gate: the first pool queries' rows equal their own topKQ results
    val tracerOn = ctx.tracer.on
    ctx.tracer.on = false
    val rows = Common.batchRows(firstRows)
    val bad = pool.indices.take(sz.checked).filter { i =>
      Common.topRows(Searcher.topKQ(idx, QueryParser.parse(pool(i)), 10).collect()) != rows.getOrElse(i, Nil)
    }
    ctx.rec.check("batch.rows_equal_topk", bad.isEmpty, s"${bad.size} pool queries differ, e.g. ${bad.take(3).map(pool).mkString(" | ")}")
    ctx.tracer.on = tracerOn

    val lat = ctx.latencies("call") ++ ctx.latencies("call:untraced")
    ctx.rec.metric("latency_p50_ms", median(lat), "ms")
    ctx.rec.metric("latency_p90_ms", quantile(lat, 0.9), "ms")
    ctx.rec.metric("throughput_per_s", lat.size * pool.size / ctx.rec.info("timed_s").asInstanceOf[Double], "1/s")
    ctx.rec.metric("spark.cached_mb", Harness.cachedMb(spark), "MB")
    if (ctx.tracer.enabled) {
      val terms = pool.flatMap(q => Query.literalTerms(QueryParser.parse(q))).distinct
      Layers.codec(ctx, Layers.postingRows(idx, terms))
      Layers.analysis(ctx, Inputs.dataSeed(ctx.o.seed), 400)
    }
    ctx.rec.metric("build.bytes_per_source_byte", b.indexBytes.toDouble / b.sourceBytes, "ratio")
    ctx.rec.info("index") = Map("docs" -> b.docs, "segments" -> sz.segs, "index_bytes" -> b.indexBytes, "source_bytes" -> b.sourceBytes)
  }
}

/** `ingest`: the write path beside reads, as a fresh JVM running the
  * `Cli build` / `delete` / `merge` verbs sees it. Set-up writes the
  * seeded corpus as a parquet source table. A cycle builds it from an
  * empty directory, checks it, tombstones seeded keys in a few batches
  * (each followed by a reopen and a query), runs a tiered merge that
  * rewrites segments, and checks the index again.
  */
object Ingest {
  final case class Size(docs: Long, segs: Int, deletes: Int, updates: Int, setupReps: Int)
  val Full = Size(docs = 10000, segs = 8, deletes = 120, updates = 5, setupReps = 5)
  val Smoke = Size(docs = 2000, segs = 8, deletes = 20, updates = 2, setupReps = 2)

  private val Probe = "return"

  def run(ctx: Ctx, sz: Size): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = Inputs.dataSeed(ctx.o.seed)
    ctx.rec.info("loop") = "closed, 1 client"

    /** One write cycle over `docs` documents; `step` times each step. */
    def cycle(dir: String, src: String, step: String => (=> Boolean) => Unit): Built = {
      val docs = sz.docs
      val keys = Inputs.deleteIdx(ctx.o.seed, docs, sz.deletes * sz.updates)
        .map(i => Datagen.row(seed, i, 100, Inputs.Vocab))
        .map(r => (r.repo, r.path, r.commit)).grouped(sz.deletes).toSeq
      var built: Built = null
      step("build") { built = Common.buildFrom(ctx, dir, docs, SourceReader.readDocs(spark, src, sz.segs)); true }
      step("check") { Common.checkIndex(ctx, IndexBuilder.open(spark, dir), "build"); true }
      var live = 0L
      keys.foreach { batch =>
        step("update") {
          ctx.tracer.span("build.delete")(IndexBuilder.deleteDocs(spark, dir, batch.toDF("repo", "path", "commit")))
          val idx = ctx.tracer.span("build.open")(IndexBuilder.open(spark, dir))
          val q = ctx.tracer.span("query.parse")(QueryParser.parse(Probe))
          val ok = Harness.execute(ctx, Searcher.topKQ(idx, q, 10)).nonEmpty
          live = ctx.tracer.span("build.livedocs")(idx.docmeta.count())
          ok
        }
      }
      val deleted = keys.map(_.size).sum
      ctx.rec.check("ingest.live_docs", live == docs - deleted, s"$live live docs after deleting $deleted of $docs")
      val before = Searcher.countQ(IndexBuilder.open(spark, dir), TermQ(Probe))
      var merged = Seq.empty[graft.model.SegmentManifest]
      step("merge") { merged = ctx.tracer.span("build.merge")(IndexMerger.tieredMerge(spark, dir, segsPerTier = 4)); merged.nonEmpty }
      ctx.rec.metric("build.merge_bytes_rewritten", merged.map(_.bytes).sum.toDouble, "bytes")
      var after = -1L
      step("check") {
        val idx = IndexBuilder.open(spark, dir)
        Common.checkIndex(ctx, idx, "merge")
        after = Searcher.countQ(idx, TermQ(Probe))
        true
      }
      ctx.rec.check("ingest.count_unchanged_by_merge", before == after, s"countQ($Probe) $before before merge, $after after")
      built
    }

    val src = ctx.setup(sz.setupReps) { rep =>
      val src = ctx.work(s"ingest-source-$rep")
      ctx.tracer.span("source.write") {
        Datagen.corpus(spark, sz.docs, seed = seed, numPartitions = sz.segs).write.mode("overwrite").parquet(src)
      }
      src
    }
    var built: Built = null
    var c = 0
    // one cycle fills a run, so every operation is traced
    ctx.loop(ctx.o.seconds, traceBlock = 0) { _ =>
      built = cycle(ctx.work(s"ingest-$c"), src, kind => body => { ctx.timed(kind)(body); () })
      c += 1
    }
    def ms(kind: String) = ctx.latencies(kind) ++ ctx.latencies(s"$kind:untraced")
    ctx.rec.metric("latency_p50_ms", median(ms("update")), "ms")
    ctx.rec.metric("latency_p90_ms", quantile(ms("update"), 0.9), "ms")
    // source docs per second over the whole write cycle
    val cycleMs = Seq("build", "check", "update", "merge").map(ms(_).sum).sum / c
    ctx.rec.metric("throughput_per_s", sz.docs / (cycleMs / 1000), "1/s")
    ctx.rec.metric("build.docs_per_s", median(ms("build").map(t => sz.docs / (t / 1000))), "1/s")
    ctx.rec.metric("build.update_ms", median(ms("update")), "ms")
    ctx.rec.metric("build.merge_ms", median(ms("merge")), "ms")
    ctx.rec.metric("build.bytes_per_source_byte", built.indexBytes.toDouble / built.sourceBytes, "ratio")
    if (ctx.tracer.enabled) {
      Layers.codec(ctx, Layers.postingRows(IndexBuilder.open(spark, built.dir), Datagen.Keywords.take(8).toSeq))
      Layers.analysis(ctx, seed, 400)
    }
    ctx.rec.metric("spark.cached_mb", Harness.cachedMb(spark), "MB")
    ctx.rec.info("cycles") = c
    ctx.rec.info("index") = Map("docs" -> sz.docs, "segments" -> sz.segs, "index_bytes" -> built.indexBytes, "source_bytes" -> built.sourceBytes)
  }
}
