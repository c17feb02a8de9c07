package graft.tools

import graft.build.{Datagen, IndexBuilder}
import org.apache.spark.sql.SparkSession

/** Dev tool: locate the phase that breaks build scaling.
  * usage: ScalingProbe <cpus> <nDocs> [segments]
  * Every probe in this file deletes what it writes before it exits.
  */
object ScalingProbe {
  /** Delete a probe's output tree (a no-op if it is absent). */
  private[tools] def delete(path: String): Unit =
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()

  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val n = args(1).toLong
    val segs = if (args.length > 2) args(2).toInt else 128
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", segs.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PROBE $name cpus=$cpus: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    timed("datagen-only")(Datagen.corpus(spark, n).map(_.content.length).reduce(_ + _))
    timed("datagen+route")(Datagen.toInputDocs(Datagen.corpus(spark, n), segs)
      .map(_.content.length.toLong).reduce(_ + _))
    timed("full-invert-count") {
      val docs = Datagen.toInputDocs(Datagen.corpus(spark, n), segs)
      docs.groupByKey(_.seg).flatMapGroups((s, it) => IndexBuilder.buildSegment(s, it))
        .map(_.seg).reduce(_ + _)
    }
    val dir = java.nio.file.Files.createTempDirectory(s"probe$cpus").toString
    try {
      timed("invert+write-parquet") {
        val docs = Datagen.toInputDocs(Datagen.corpus(spark, n), segs)
        docs.groupByKey(_.seg).flatMapGroups((s, it) => IndexBuilder.buildSegment(s, it))
          .write.partitionBy("kind", "seg").mode("overwrite").parquet(s"$dir/segments")
      }
      timed("metrics-readback") {
        import org.apache.spark.sql.functions._
        spark.read.parquet(s"$dir/segments").filter($"kind" === "p")
          .select($"seg", octet_length($"payload").cast("long").as("bytes"))
          .groupBy($"seg").agg(sum($"bytes")).collect()
      }
    } finally ScalingProbe.delete(dir)
    spark.stop()
  }
}
/** Variant probes for the write path. */
object WriteProbe {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val n = args(1).toLong
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"WPROBE $name cpus=$cpus: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val docs = graft.build.Datagen.toInputDocs(graft.build.Datagen.corpus(spark, n), 128)
    val built = docs.groupByKey(_.seg).flatMapGroups((s, it) => graft.build.IndexBuilder.buildSegment(s, it))
    val dir = java.nio.file.Files.createTempDirectory(s"wprobe$cpus").toString
    try {
      timed("write-no-partitionBy")(built.write.mode("overwrite").parquet(s"$dir/a"))
      timed("write-partitionBy")(built.write.partitionBy("kind","seg").mode("overwrite").parquet(s"$dir/b"))
      timed("write-uncompressed")(built.write.option("compression","none").mode("overwrite").parquet(s"$dir/c"))
    } finally ScalingProbe.delete(dir)
    timed("noop-count")(println(built.map(_.seg).reduce(_ + _)))
    spark.stop()
  }
}
/** Partition-local build probe with phase split. */
object PLocalProbe {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val n = args(1).toLong
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PPROBE $name cpus=$cpus: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val dir = java.nio.file.Files.createTempDirectory(s"pprobe$cpus").toString
    try {
      val source = graft.build.Datagen.corpus(spark, n, numPartitions = 128)
      timed("invert-only") {
        source.mapPartitions { it =>
          val seg = org.apache.spark.TaskContext.getPartitionId()
          graft.build.IndexBuilder.buildSegment(seg, it.map(r =>
            graft.build.InputDoc(seg, "", r.repo, r.path, r.commit, r.lang, r.content)), preSorted = true)
        }.map(_.seg).reduce(_ + _)
      }
      timed("invert+write") {
        source.mapPartitions { it =>
          val seg = org.apache.spark.TaskContext.getPartitionId()
          graft.build.IndexBuilder.buildSegment(seg, it.map(r =>
            graft.build.InputDoc(seg, "", r.repo, r.path, r.commit, r.lang, r.content)), preSorted = true)
        }.write.partitionBy("seg").mode("overwrite").parquet(s"$dir/segments")
      }
      timed("stats-job") {
        import org.apache.spark.sql.functions._
        val posts = spark.read.parquet(s"$dir/segments").filter($"kind" === "p")
        posts.groupBy($"term").agg(sum($"df"), sum($"ttf")).write.mode("overwrite").parquet(s"$dir/stats")
      }
    } finally ScalingProbe.delete(dir)
    spark.stop()
  }
}
/** Isolate the pure write cost from a cached build. */
object WriteOnlyProbe {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val n = args(1).toLong
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", "128")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"WOPROBE $name cpus=$cpus: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val source = graft.build.Datagen.corpus(spark, n, numPartitions = 128)
    val built = source.mapPartitions { it =>
      val seg = org.apache.spark.TaskContext.getPartitionId()
      graft.build.IndexBuilder.buildSegment(seg, it.map(r =>
        graft.build.InputDoc(seg, "", r.repo, r.path, r.commit, r.lang, r.content)), preSorted = true)
    }.persist()
    timed("materialize")(built.count())
    val dir = java.nio.file.Files.createTempDirectory(s"wo$cpus").toString
    val shm = s"/dev/shm/wo$cpus"
    try {
      timed("write-partitionBy-seg")(built.write.partitionBy("seg").mode("overwrite").parquet(s"$dir/a"))
      timed("write-plain")(built.write.mode("overwrite").parquet(s"$dir/b"))
      timed("write-shm")(built.write.mode("overwrite").parquet(shm))
      println("WOPROBE sizes: " + Seq(s"$dir/a", s"$dir/b").map(p =>
        scala.reflect.io.Path(p).walkFilter(_.isFile).map(_.length).sum / 1e6).mkString(" MB, ") + " MB")
    } finally {
      ScalingProbe.delete(dir)
      ScalingProbe.delete(shm)
    }
    spark.stop()
  }
}
