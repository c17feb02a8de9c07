package graftbench

import graft.build.{Datagen, Index}
import graft.codec.{PostingCodec, PostingFormats}
import graft.model.PostingList

/** Per-layer metrics, computed from the spans of traced operations and
  * from small timed calls into single layers.
  */
object Layers {
  import Stats.{mean, median}

  private def unitOf(field: String): String =
    if (field.endsWith("_ms")) "ms" else if (field.endsWith("_bytes")) "bytes" else "count"

  /** Scheduler and task metrics per operation (`spark.*`). */
  def spark(ctx: Ctx, t: Trace, ops: Seq[Node]): Unit = {
    val rec = ctx.rec
    val jobs = ops.map(t.jobRecs)
    rec.metric("spark.jobs", mean(jobs.map(_.size.toDouble)), "count")
    rec.metric("spark.stages", mean(jobs.map(_.map(_.stages).sum.toDouble)), "count")
    rec.metric("spark.tasks", mean(jobs.map(_.map(_.tasks).sum.toDouble)), "count")
    rec.metric("spark.in_job_ms", median(ops.map(t.inJobMs)), "ms")
    rec.metric("spark.driver_gap_ms", median(ops.map(o => o.dur / 1e6 - t.inJobMs(o))), "ms")
    JobRec.Fields.zipWithIndex.foreach { case (f, i) =>
      rec.metric(s"spark.$f", mean(jobs.map(_.map(_.m(i)).sum.toDouble)), unitOf(f))
    }
    rec.metric("trace.unattributed_share", median(ops.map(t.unattributed)), "ratio")
    rec.metric("trace.ops", ops.size.toDouble, "count")
  }

  /** Search-path layers of [[Harness.execute]] calls (`query.*`, `exec.*`). */
  def exec(ctx: Ctx, t: Trace, ops: Seq[Node]): Unit = {
    val rec = ctx.rec
    rec.metric("query.parse_ms", median(ops.map(t.ms(_, "query.parse"))), "ms")
    Seq("build", "catalyst", "execute").foreach { s =>
      rec.metric(s"exec.${s}_ms", median(ops.map(t.ms(_, s"exec.$s"))), "ms")
    }
    val planJobs = ops.map(o => t.subtree(o).filter(_.name == "exec.build").map(b => t.jobNodes(b).size).sum)
    rec.metric("exec.plan_jobs", mean(planJobs.map(_.toDouble)), "count")
    rec.metric("exec.warm_plan_ratio", planJobs.count(_ == 0).toDouble / math.max(1, planJobs.size), "ratio")
    // the tracker counts whole milliseconds, so take the mean
    Harness.phases.foreach { case (p, xs) =>
      rec.metric(s"spark.${p}_ms", if (xs.isEmpty) 0d else mean(xs), "ms")
    }
  }

  /** Cache growth of an index's driver-side stats and expansion caches
    * over the timed phase.
    */
  def caches(ctx: Ctx, before: (Int, Int), idx: Index): Unit = {
    ctx.rec.metric("exec.stats_cache_growth", (idx.termStatsCache.size - before._1).toDouble, "count")
    ctx.rec.metric("exec.expansion_cache_growth", (idx.expansionCache.size - before._2).toDouble, "count")
  }

  /** `buildPersistent` split by job order: the jobs before the first one
    * that writes output fingerprint the input; the jobs of that write's
    * SQL execution invert and write the segments; later jobs refresh the
    * stats. The rest of the wall time is driver work (manifests,
    * listings, file writes).
    */
  def build(ctx: Ctx, t: Trace, spans: Seq[Node]): Unit = {
    val outIdx = JobRec.idx("output_bytes")
    val parts = spans.map { s =>
      val jobs = t.jobNodes(s).sortBy(_.start).flatMap(n => t.jobs.get(n.id - Tracer.JobIdBase).map(n -> _))
      val first = jobs.indexWhere(_._2.m(outIdx) > 0)
      val exec = if (first < 0) "" else jobs(first)._2.sqlExecution
      val (before, after) = if (first < 0) (Nil, jobs) else jobs.splitAt(first)
      val (write, stats) = after.partition(j => j._2.sqlExecution == exec && exec.nonEmpty)
      def ms(js: Seq[(Node, JobRec)]) = js.map(_._1.dur).sum / 1e6
      (ms(before), ms(write), ms(stats), s.dur / 1e6 - t.inJobMs(s))
    }
    if (parts.nonEmpty) {
      ctx.rec.metric("build.fingerprint_ms", median(parts.map(_._1)), "ms")
      ctx.rec.metric("build.invert_write_ms", median(parts.map(_._2)), "ms")
      ctx.rec.metric("build.stats_ms", median(parts.map(_._3)), "ms")
      ctx.rec.metric("build.driver_ms", median(parts.map(_._4)), "ms")
    }
  }

  /** Median duration (ms) of the spans called `name`. */
  def spanMs(ctx: Ctx, t: Trace, name: String, metric: String): Unit = {
    val xs = t.nodes.filter(n => n.kind == "call" && n.name == name).map(_.dur / 1e6)
    ctx.rec.metric(metric, if (xs.isEmpty) 0d else median(xs), "ms")
  }

  /** Posting codec read, write and space over the given posting rows:
    * `PostingCodec.decodeAll` per posting, the default format re-encoding
    * the decoded arrays per posting, and encoded bytes per posting.
    */
  def codec(ctx: Ctx, rows: Array[PostingList]): Unit = {
    val postings = rows.map(_.df.toLong).sum.toDouble
    def perPosting(body: => Unit): Double = {
      var n = 0
      val t0 = System.nanoTime()
      while (n < 3 || System.nanoTime() - t0 < 150000000L) { body; n += 1 }
      (System.nanoTime() - t0) / (n * postings)
    }
    perPosting(rows.foreach(pl => PostingCodec.decodeAll(pl))) // JIT warm-up
    ctx.rec.metric("codec.decode_ns_per_posting", perPosting(rows.foreach(pl => PostingCodec.decodeAll(pl))), "ns")
    val fmt = PostingFormats.byName(PostingFormats.Default)
    val dec = rows.map(pl => (pl, PostingCodec.decodeAll(pl, withPositions = true)))
    def enc(): Unit = dec.foreach { case (pl, d) =>
      fmt.encode(pl.seg, pl.term, d.docIds, d.freqs, d.norms, d.positions)
    }
    enc()
    ctx.rec.metric("codec.encode_ns_per_posting", perPosting(enc()), "ns")
    ctx.rec.metric("codec.bytes_per_posting", rows.map(_.payload.length.toLong).sum / postings, "bytes")
  }

  /** Posting rows of `terms` in `idx`, collected to the driver. */
  def postingRows(idx: Index, terms: Seq[String]): Array[PostingList] = {
    import idx.postings.sparkSession.implicits._
    idx.postings.filter($"term".isin(terms: _*)).collect()
  }

  /** `CodeAnalyzer.tokenize` over a seeded sample of corpus documents. */
  def analysis(ctx: Ctx, seed: Long, docs: Int): Unit = {
    val texts = (0 until docs).map(i => Datagen.content(seed, i.toLong * 7919L, Inputs.Vocab))
    var tokens = 0L
    texts.foreach(s => tokens += graft.analysis.CodeAnalyzer.tokenize(s).length) // warm-up
    var n = 0
    val t0 = System.nanoTime()
    while (n < 2 || System.nanoTime() - t0 < 150000000L) {
      texts.foreach(s => graft.analysis.CodeAnalyzer.tokenize(s))
      n += 1
    }
    ctx.rec.metric("analysis.ns_per_token", (System.nanoTime() - t0).toDouble / (n * tokens), "ns")
  }

  /** Tracing overhead: traced vs untraced median latency of `kind`. */
  def overhead(ctx: Ctx, kind: String): Unit = {
    val on = ctx.latencies(kind)
    val off = ctx.latencies(s"$kind:untraced")
    ctx.rec.metric("trace.overhead_pct",
      if (on.isEmpty || off.isEmpty) 0d else (median(on) / median(off) - 1) * 100, "%")
  }
}
