package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code launches, seen by a
  * `SparkListener`: each job's stages (skipped ones included), the
  * shuffle bytes its completed stages read and wrote, and the records
  * they read from input sources.
  */
final case class JobTrace(jobs: Seq[Seq[StageInfo]], shuffleBytes: Long, inputRecords: Long) {
  def stages: Int = jobs.map(_.size).sum
}

object JobProbe {
  private val Key = "graft.test.probe"

  /** Runs `body` and returns its result with the jobs it launched on
    * this thread (tagged through a local property). A one-task fence job
    * after `body` is awaited on the listener, so every event of `body`'s
    * jobs has been delivered before the trace is read.
    */
  def apply[A](spark: SparkSession)(body: => A): (A, JobTrace) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val shuffle = new java.util.concurrent.atomic.AtomicLong(0L)
    val input = new java.util.concurrent.atomic.AtomicLong(0L)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Key)).foreach {
          case `tag` => jobs.add(e); e.stageIds.foreach(stageIds.add(_))
          case t if t == tag + ":fence" => fenced.countDown()
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) {
          val m = e.stageInfo.taskMetrics
          shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(m.inputMetrics.recordsRead)
        }
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    try {
      sc.setLocalProperty(Key, tag)
      val a = body
      sc.setLocalProperty(Key, tag + ":fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener never saw the fence job")
      (a, JobTrace(jobs.asScala.toSeq.map(_.stageInfos), shuffle.get(), input.get()))
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}

/** The messages Spark's closure cleaner (`org.apache.spark.util
  * .ClosureCleaner`) logs at DEBUG while a block of driver code runs:
  * "Cleaning indylambda closure: ..." for each lambda it parses and
  * trial-serializes, "Expected a closure; got ..." for each named
  * function it passes through.
  */
object CleanerProbe {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Logger = "org.apache.spark.util.ClosureCleaner"

  /** Runs `body` with the cleaner's logger at DEBUG (through its own
    * appender only) and returns what it logged on this thread.
    */
  def apply(body: => Unit): Seq[String] = {
    val thread = Thread.currentThread.getName
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-cleaner-probe", null, null, true, Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit =
        if (e.getThreadName == thread) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    require(!cfg.getLoggers.containsKey(Logger), s"$Logger is already configured")
    val lc = new LoggerConfig(Logger, Level.DEBUG, false)
    lc.addAppender(appender, Level.DEBUG, null)
    cfg.addLogger(Logger, lc)
    ctx.updateLoggers()
    try {
      body
      seen.asScala.toSeq
    } finally {
      cfg.removeLogger(Logger)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
