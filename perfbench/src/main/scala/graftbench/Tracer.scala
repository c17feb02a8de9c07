package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval: a harness-side call into the program (`kind`
  * "call") or a Spark job attached to the call that launched it ("job").
  * Times are driver `System.nanoTime` values.
  */
final class Node(val id: Int, val parent: Int, val op: Int, val name: String,
    val kind: String, val start: Long, var end: Long) {
  var self: Long = 0L
  def dur: Long = end - start
}

/** A Spark job as seen by [[JobListener]], with its task metrics summed. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long, val name: String,
    val sqlExecution: String) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  val m = new Array[Long](JobRec.Fields.length)
}

object JobRec {
  /** Task-metric sums kept per job; times in ms, sizes in bytes. */
  val Fields: IndexedSeq[String] = IndexedSeq("task_run_ms", "task_cpu_ms",
    "task_deser_ms", "task_gc_ms", "scheduler_delay_ms", "input_records",
    "input_bytes", "result_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "output_bytes")
  def idx(f: String): Int = Fields.indexOf(f)
}

/** Counts jobs, stages and tasks and sums task metrics per job. Each job
  * carries the id of the harness span that launched it in the
  * [[Tracer.SpanProp]] local property.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanProp).map(_.toInt).getOrElse(0)
    // the result stage has the highest id; its name is the job's call site
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new JobRec(e.jobId, span, e.time, name, prop("spark.sql.execution.id").getOrElse(""))
    e.stageIds.foreach(s => stageJob.put(s, j))
    jobs.put(e.jobId, j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val j = stageJob.get(e.stageInfo.stageId)
    if (j != null) j.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val t = e.taskMetrics
    if (j == null || t == null) return
    val i = e.taskInfo
    j.tasks += 1
    val m = j.m
    m(0) += t.executorRunTime
    m(1) += t.executorCpuTime / 1000000L
    m(2) += t.executorDeserializeTime
    m(3) += t.jvmGCTime
    m(4) += math.max(0L, i.duration - t.executorRunTime - t.executorDeserializeTime -
      t.resultSerializationTime - i.gettingResultTime)
    m(5) += t.inputMetrics.recordsRead
    m(6) += t.inputMetrics.bytesRead
    m(7) += t.resultSize
    m(8) += t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead
    m(9) += t.shuffleWriteMetrics.bytesWritten
    m(10) += t.memoryBytesSpilled + t.diskBytesSpilled
    m(11) += t.outputMetrics.bytesWritten
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  /** Wait until every started job has ended (events arrive asynchronously). */
  def drain(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = jobs.values.asScala.exists(_.endMs < 0)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    !pending
  }
}

/** Harness-side tracer: a span around each call into the program, kept in
  * memory and analysed when the run ends. Spark jobs become child spans
  * of the span that was open on the driver thread when they started.
  * Tracing is off for the whole untraced run; a traced run switches it
  * per operation (`on`), so its own overhead can be measured. The job
  * listener is detached while tracing is off, so untraced operations pay
  * none of its cost.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Node]
  private var stack: List[Node] = Nil
  private var nextId = 0
  private var traced = enabled

  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  def on: Boolean = traced

  def on_=(v: Boolean): Unit = if (enabled && v != traced) {
    listener.foreach { l =>
      if (v) sc.addSparkListener(l)
      else { fence(l); sc.removeSparkListener(l) }
    }
    traced = v
  }

  /** Waits until `l` has seen every job event posted so far: the listener
    * bus delivers events in order, so once a one-task fence job has ended
    * on `l`, so has every earlier job. The fence job belongs to no span.
    */
  private def fence(l: JobListener): Unit = {
    sc.setLocalProperty(SpanProp, FenceSpan.toString)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    def seen = l.jobs.values.asScala.exists(j => j.span == FenceSpan && j.endMs >= 0)
    val deadline = System.currentTimeMillis() + 10000
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(1)
    l.jobs.values.removeIf(_.span == FenceSpan)
  }

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    nextId += 1
    val parent = stack.headOption
    val s = new Node(nextId, parent.fold(0)(_.id), parent.fold(nextId)(_.op), name,
      "call", System.nanoTime(), -1L)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Ends tracing: drains the listener and returns every span with its
    * self time (duration minus the union of its children's intervals).
    */
  def finish(): Trace = {
    listener.foreach { l => l.drain(30000); sc.removeSparkListener(l) }
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = listener.toSeq.flatMap(_.jobs.values.asScala).filter(j => j.endMs >= 0)
    val jobNodes = jobs.flatMap { j =>
      byId.get(j.span).map { p =>
        val st = math.min(math.max(toNs(j.startMs), p.start), p.end)
        val en = math.max(math.min(toNs(j.endMs), p.end), st)
        new Node(JobIdBase + j.jobId, p.id, p.op, j.name, "job", st, en)
      }
    }
    val all = spans.toSeq ++ jobNodes
    val kids = all.groupBy(_.parent)
    all.foreach { n =>
      val iv = kids.getOrElse(n.id, Nil).map(c => (math.max(c.start, n.start), math.min(c.end, n.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var cs = Long.MinValue
      var ce = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
        else ce = math.max(ce, e)
      }
      if (ce > cs) covered += ce - cs
      n.self = n.dur - covered
    }
    new Trace(all, jobs.map(j => j.jobId -> j).toMap, ns0)
  }

  private def toNs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L
}

object Tracer {
  val SpanProp = "graftbench.span"
  private val FenceSpan = -1
  val JobIdBase = 100000000
}

/** The analysed spans of one run. */
final class Trace(val nodes: Seq[Node], val jobs: Map[Int, JobRec], ns0: Long) {
  private val kids = nodes.groupBy(_.parent)

  /** Top-level spans (operations) with the given name. */
  def ops(name: String): Seq[Node] = nodes.filter(n => n.parent == 0 && n.name == name)

  def subtree(n: Node): Seq[Node] = n +: kids.getOrElse(n.id, Nil).flatMap(subtree)

  /** Summed duration (ms) of the spans called `name` under `n`. */
  def ms(n: Node, name: String): Double =
    subtree(n).filter(c => c.kind == "call" && c.name == name).map(_.dur).sum / 1e6

  def jobNodes(n: Node): Seq[Node] = subtree(n).filter(_.kind == "job")
  def jobRecs(n: Node): Seq[JobRec] = jobNodes(n).flatMap(j => jobs.get(j.id - Tracer.JobIdBase))

  /** Wall time (ms) covered by the jobs under `n`. */
  def inJobMs(n: Node): Double = {
    val iv = jobNodes(n).map(j => (j.start, j.end)).sortBy(_._1)
    var covered = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    covered / 1e6
  }

  /** The share of an operation's wall time that no child span or job covers. */
  def unattributed(n: Node): Double = n.self.toDouble / math.max(1L, n.dur)

  def json: Seq[Map[String, Any]] = nodes.sortBy(_.start).map { n =>
    Map("id" -> n.id, "parent" -> n.parent, "op" -> n.op, "name" -> n.name, "kind" -> n.kind,
      "start_ms" -> (n.start - ns0) / 1e6, "dur_ms" -> n.dur / 1e6, "self_ms" -> n.self / 1e6)
  }
}
