package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.SparkSession

/** Auxiliary measurement harness (guide §1: measure first, §1.4 noop-style
  * isolation). NOT part of the driver contract — `Bench` stays the
  * artifact of record; this main exists so optimization work can time
  * individual catalog queries in the exact phase-3 environment (same
  * master, same shuffle partitions, same prewarm) without paying the
  * scaling phases, and can dump `.explain("formatted")` per query.
  *
  * Usage: sbt "runMain graft.BenchExtra [reps] [plansDir] [name ...]"
  *   reps     — timing repetitions per query (default 1; rep 1 matches
  *              what Bench would record, later reps show steady state)
  *   plansDir — if non-"-", write <name>.txt explain(formatted) there
  *   name...  — subset of catalog query names (default: all)
  *
  * Prints one JSON line: "queries" holds each entry's successful rep
  * times; a rep that throws is left out of them and its message listed
  * under "errors" ({name: [message, ...]}, empty when none failed).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = args.headOption.map(_.toInt).getOrElse(1)
    val plansDir = args.drop(1).headOption.getOrElse("-")
    val only = args.drop(2).toSet

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.get("GRAFT_EXTRA_JOBLOG").contains("1"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, System.nanoTime())
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = starts.getOrDefault(j.jobId, 0L)
          if (t0 > 0) System.err.println(
            f"[job] ${j.jobId} ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      })

    val t0 = System.nanoTime()
    val prep = driverapi.Queries.prewarm(spark, sfDir)
    System.err.println(f"[prewarm] total ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      prep.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    names.foreach { name =>
      spark.sparkContext.setJobDescription(name)
      val fn = SparkEntry.queries(name)
      val (failed, samples) = timeReps(reps)(fn(spark, sfDir).collect())
      failed.foreach(m => System.err.println(s"[err] $name: $m"))
      out(name) = samples
      if (failed.nonEmpty) errors(name) = failed
      System.err.println(f"[q] $name ${samples.map(s => f"$s%.3f").mkString(" ")}")
      if (plansDir != "-") {
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(plansDir)
          java.nio.file.Files.createDirectories(p)
          java.nio.file.Files.write(p.resolve(s"$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch { case e: Throwable => System.err.println(s"[plan-err] $name: $e") }
      }
      spark.sparkContext.setJobDescription(null)
    }
    val qs = out.map { case (k, v) =>
      "\"" + k + "\":" + v.map(s => f"$s%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val prepJson = prep.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"extra","prep":$prepJson,"queries":$qs,"errors":${errorsJson(errors.toSeq)}}""")
    spark.stop()
  }

  /** Run `body` `reps` times: (messages of the reps that threw, seconds
    * of the reps that completed). A failed rep yields no time sample.
    */
  private[graft] def timeReps(reps: Int)(body: => Unit): (Seq[String], Seq[Double]) =
    (1 to reps).map { _ =>
      val s0 = System.nanoTime()
      try { body; Right((System.nanoTime() - s0) / 1e9) }
      catch { case e: Throwable => Left(e.toString) }
    }.partitionMap(identity)

  /** `{name: [message, ...]}` as JSON, messages string-escaped. */
  private[graft] def errorsJson(errors: Seq[(String, Seq[String])]): String = {
    def str(v: String) = "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(v)) + "\""
    errors.map { case (k, ms) => str(k) + ":" + ms.map(str).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
  }
}
