package graft.streaming

import graft.build.{IndexBuilder, InputDoc}
import graft.model.SourceRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Incremental index maintenance via Structured Streaming.
  *
  * The reference's near-real-time story — flushed segments become
  * searchable without a full rebuild (`core/search/SearcherManager.java`,
  * `ControlledRealTimeReopenThread.java`) — maps to: `readStream` over
  * the arriving source files, `foreachBatch` turning every micro-batch
  * into a fresh set of segments appended to the persistent index
  * (new `segments_N` generation), `Trigger.AvailableNow` for catch-up
  * runs. Readers simply re-open the index (`IndexBuilder.open`) to see
  * the new segments — segment immutability makes this safe, exactly like
  * the reference's commit-point protocol.
  *
  * Exactly-once: segment ids derive DETERMINISTICALLY from the batch id
  * (`segBase + batchId * segsPerBatch + bucket`), so a batch retried
  * after a crash reproduces the same (seg, inputFingerprint) pairs and
  * `buildPersistent`'s resume check skips already-complete segments
  * instead of re-indexing the rows into fresh ids. `segBase` is pinned
  * once per index in `stream_meta.json`.
  *
  * Updates (`IndexWriter.updateDocument`, `core/index/IndexWriter.java:1844`
  * — atomic delete-by-term + add): incoming (repo, path) keys tombstone
  * every existing version with a DIFFERENT commit before the new rows are
  * indexed. Tombstone appends are idempotent, so retries stay safe.
  */
object StreamingIndexer {

  private def metaPath(indexDir: String) = s"$indexDir/stream_meta.json"

  /** Pin (or read) the stream's fixed segment-id base: allocated above
    * any segment that existed when streaming began. All IO goes through
    * [[IndexFs]] (Hadoop FileSystem API), so a stream can maintain an
    * index on HDFS/object storage, not just the local FS.
    */
  private def segBase(indexDir: String): Int = {
    val p = metaPath(indexDir)
    if (graft.build.IndexFs.exists(p)) {
      val s = graft.build.IndexFs.readString(p)
      "\"segBase\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(0)
    } else {
      val segs = graft.build.IndexFs.listNames(s"$indexDir/manifest")
        .collect { case s if s.startsWith("seg_") =>
          s.stripPrefix("seg_").stripSuffix(".json").toInt }
      val base = if (segs.isEmpty) 0 else segs.max + 1
      graft.build.IndexFs.writeString(p, s"""{"segBase":$base}""")
      base
    }
  }

  /** Process all currently-available input files into the index, then
    * stop (AvailableNow). Call again as new files arrive; the stream
    * checkpoint + deterministic segment ids + manifest resume give
    * exactly-once per input file. With `update = true`, existing versions
    * of incoming (repo, path) keys are tombstoned first.
    */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      indexDir: String,
      segsPerBatch: Int = 4,
      update: Boolean = false
  ): Unit = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[SourceRow].schema
    val base = segBase(indexDir)
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$indexDir/_stream_checkpoint")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val batchBase = base + (batchId * segsPerBatch).toInt
        if (update && graft.build.IndexFs.exists(s"$indexDir/manifest")) {
          // updateDocument semantics: tombstone every indexed version of
          // the incoming keys whose commit differs from the new one
          val existing = IndexBuilder.open(spark, indexDir).docmeta
            .select($"repo", $"path", $"commit")
          val incoming = df.select($"repo", $"path", $"commit".as("newCommit")).distinct()
          val stale = existing.join(incoming, Seq("repo", "path"))
            .filter($"commit" =!= $"newCommit")
            .select($"repo", $"path", $"commit")
          if (!stale.isEmpty) IndexBuilder.deleteDocs(spark, indexDir, stale)
        }
        val docs = df.as[SourceRow].map { r =>
          val key = s"${r.repo}/${r.path}@${r.commit}"
          val seg = batchBase + math.floorMod(
            scala.util.hashing.MurmurHash3.stringHash(key), segsPerBatch)
          InputDoc(seg, key, r.repo, r.path, r.commit, r.lang, r.content)
        }
        IndexBuilder.buildPersistent(spark, docs, indexDir)
        (): Unit
      }
      .start()
    query.awaitTermination()
  }
}
