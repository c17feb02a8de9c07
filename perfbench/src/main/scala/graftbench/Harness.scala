package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Command-line options of one run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    smoke: Boolean, out: String, work: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), m.get("smoke").contains("1"), need("out"), need("work"))
  }
}

/** Driver-JVM garbage collection, from the GC MXBeans. Pauses are taken
  * from GC notifications; concurrent (non-pause) collectors are skipped.
  */
final class GcWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .filterNot(_.getName.contains("Concurrent")).toSeq
  @volatile private var maxPause = 0L
  private var t0 = 0L
  beans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (!info.getGcAction.contains("concurrent") && !info.getGcName.contains("Concurrent"))
            maxPause = math.max(maxPause, info.getGcInfo.getDuration)
        }
      }, null, null)
    case _ =>
  }
  private def total: Long = beans.map(_.getCollectionTime).sum
  def reset(): Unit = { t0 = total; maxPause = 0L }
  def gcMs: Double = (total - t0).toDouble
  def maxPauseMs: Double = maxPause.toDouble
  def heapUsedMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}

/** Everything a workload needs: the session, the tracer, the run record. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rec: RunRecord, val o: Opts) {
  val gc = new GcWatch
  private var phaseStart = 0L

  def work(name: String): String = s"${o.work}/$name"

  /** Times `reps` repetitions of a set-up step and records their median as
    * `setup_s`; returns the result of the last repetition.
    */
  def setup[A](reps: Int)(body: Int => A): A = {
    var last: Option[A] = None
    val secs = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      last = Some(tracer.span("setup")(body(r)))
      (System.nanoTime() - t0) / 1e9
    }
    rec.metric("setup_s", Stats.median(secs), "s")
    rec.info("setup_samples_s") = secs
    last.get
  }

  /** Closed loop, one client: runs `op(i)` back to back until `seconds`
    * have passed (and at least `minOps` times). With `traceBlock` > 0 a
    * traced run traces alternate blocks of that many operations, so the
    * untraced blocks give the tracing overhead; 0 traces every operation.
    */
  def loop(seconds: Double, minOps: Int = 1, traceBlock: Int = 4)(op: Int => Unit): Unit = {
    phaseStart = System.nanoTime()
    gc.reset()
    Harness.phases.values.foreach(_.clear())
    var i = 0
    while (i < minOps || System.nanoTime() - phaseStart < seconds * 1e9) {
      if (tracer.enabled && traceBlock > 0) tracer.on = (i / traceBlock) % 2 == 0
      op(i)
      i += 1
    }
    tracer.on = tracer.enabled
    val wall = (System.nanoTime() - phaseStart) / 1e9
    rec.info("timed_s") = wall
    rec.metric("driver.gc_ms", gc.gcMs, "ms")
    rec.metric("driver.gc_pause_max_ms", gc.maxPauseMs, "ms")
    rec.metric("driver.heap_used_mb", gc.heapUsedMb, "MB")
  }

  /** One timed operation. A failed operation (exception or a `false`
    * result) counts in `failed` and never becomes a latency sample.
    */
  def timed(kind: String)(body: => Boolean): Double = {
    rec.attempted += 1
    val off = (System.nanoTime() - phaseStart) / 1e9
    val t0 = System.nanoTime()
    val ok = try tracer.span(kind)(body) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e"); false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (ok) rec.samples += ((if (tracer.enabled && !tracer.on) s"$kind:untraced" else kind, off, ms))
    else rec.failed += 1
    ms
  }

  def latencies(kind: String): Seq[Double] = rec.samples.filter(_._1 == kind).map(_._3).toSeq
}

object Harness {
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-insensitive digest of a result: rows rendered, sorted, SHA-256. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Runs a DataFrame-returning call the way every workload does: build
    * the lazy DataFrame, force its physical plan, collect. The three
    * stages are separate spans; the Catalyst phase times are recorded
    * from the query's planning tracker.
    */
  def execute(ctx: Ctx, build: => DataFrame): Array[Row] = {
    val df = ctx.tracer.span("exec.build")(build)
    ctx.tracer.span("exec.catalyst")(df.queryExecution.executedPlan)
    val rows = ctx.tracer.span("exec.execute")(df.collect())
    if (ctx.tracer.on) {
      val ph = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases(p) += ph.get(p).map(_.durationMs.toDouble).getOrElse(0d)
      }
    }
    rows
  }

  /** Catalyst phase durations (ms) of the traced executions, per phase. */
  val phases: Map[String, mutable.ArrayBuffer[Double]] =
    Seq("analysis", "optimization", "planning").map(_ -> mutable.ArrayBuffer.empty[Double]).toMap

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.getPath)))
    f.delete()
  }

  /** Storage memory (MB) held by persisted RDDs and Datasets. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
