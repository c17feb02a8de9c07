package graftbench

/** Runs one workload in one Spark session and writes the run record
  * (metrics, samples with start offsets, checks and, when traced, spans)
  * to `--out`. `run.py` is the entry point that builds this harness and
  * prints the result line.
  */
object Main {
  /** Operation kinds whose spans the per-layer metrics are taken from. */
  private val opKinds = Map(
    "serve" -> Seq("query"), "batch" -> Seq("call"),
    "ingest" -> Seq("update", "build", "check", "merge"))

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    require(opKinds.contains(o.workload), s"unknown workload ${o.workload}")
    val t0 = System.nanoTime()
    val spark = Harness.session(o)
    val rec = new RunRecord(o.workload, o.seed, o.trace)
    rec.metric("spark.session_start_s", (System.nanoTime() - t0) / 1e9, "s")
    val tracer = new Tracer(spark, o.trace)
    val ctx = new Ctx(spark, tracer, rec, o)
    try o.workload match {
      case "serve" => Serve.run(ctx, if (o.smoke) Serve.Smoke else Serve.Full)
      case "batch" => Batch.run(ctx, if (o.smoke) Batch.Smoke else Batch.Full)
      case "ingest" => Ingest.run(ctx, if (o.smoke) Ingest.Smoke else Ingest.Full)
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        rec.check("run", ok = false, e.toString)
    }
    val trace = tracer.finish()
    if (o.trace) layers(ctx, trace)
    val out = new java.io.PrintWriter(o.out, "UTF-8")
    try out.println(rec.json(Map("spans" -> (if (o.trace) trace.json else Nil))))
    finally out.close()
    // the record is written and run.py deletes the work directory, so the
    // run skips Spark's shutdown
    Runtime.getRuntime.halt(0)
  }

  private def layers(ctx: Ctx, t: Trace): Unit = {
    val kinds = opKinds(ctx.o.workload)
    val ops = kinds.flatMap(t.ops)
    Layers.spark(ctx, t, ops)
    Layers.exec(ctx, t, ops.filter(o => t.subtree(o).exists(_.name == "exec.build")))
    Layers.build(ctx, t, t.nodes.filter(n => n.kind == "call" && n.name == "build.persistent"))
    Seq("open", "delete", "livedocs", "checkindex").foreach { s =>
      Layers.spanMs(ctx, t, s"build.$s", s"build.${s}_ms")
    }
    val merges = t.nodes.filter(n => n.kind == "call" && n.name == "build.merge")
    ctx.rec.metric("build.merge_jobs",
      if (merges.isEmpty) 0d else Stats.mean(merges.map(m => t.jobNodes(m).size.toDouble)), "count")
    Layers.overhead(ctx, kinds.find(k => ctx.latencies(k).nonEmpty).getOrElse(kinds.head))
  }
}
