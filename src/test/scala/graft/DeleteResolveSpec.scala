package graft

import graft.build.{Datagen, FileLiveDocs, Index, IndexBuilder, IndexFs, InputDoc}
import graft.exec.Searcher
import graft.model.DocMeta
import graft.query.QueryParser
import org.apache.spark.sql.DataFrame

/** Delete resolution of a reopen: `docmeta` is the raw doc-meta rows
  * minus the tombstoned keys, exactly as an anti-join of the raw files
  * gives it; the scan-local (broadcast) and shuffle resolutions write the
  * same sidecars; a reopen after a delete batch reads index files with
  * fixed schemas and moves no shuffle bytes.
  */
class DeleteResolveSpec extends SparkTest {
  import spark.implicits._

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Doc-meta rows of `dir`'s live segments, read from the raw files. */
  private def rawDocmeta(dir: String): DataFrame = {
    val gens = IndexFs.listNames(s"$dir/segments").filter(_.startsWith("gen_"))
    assert(gens == Seq("gen_0"), "the spec's indexes are never merged")
    spark.read.parquet(s"$dir/segments/gen_0").filter($"kind" === "m")
      .select($"docId", $"repo", $"path", $"commit", $"lang", $"sha256", $"tokenCount", $"norm")
  }

  private def tombFiles(dir: String): Seq[String] =
    IndexFs.listNames(s"$dir/tombstones").filter(_.endsWith(".parquet")).sorted

  /** `rawDocmeta left_anti` the given tombstone files, sorted by docId. */
  private def expected(dir: String, tombs: Seq[String]): Seq[DocMeta] = {
    val raw = rawDocmeta(dir)
    val kept =
      if (tombs.isEmpty) raw
      else raw.join(spark.read.parquet(tombs.map(n => s"$dir/tombstones/$n"): _*),
        Seq("repo", "path", "commit"), "left_anti")
    kept.as[DocMeta].collect().sortBy(_.docId).toSeq
  }

  private def docmetaOf(ix: Index): Seq[DocMeta] = ix.docmeta.collect().sortBy(_.docId).toSeq

  test("open docmeta == raw docmeta left_anti tombstones, live and snapshot opens") {
    val dir = tmp("graftdelresolve")
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(Datagen.corpus(spark, 600, seed = 71L), 4), dir)
    val keys = rawDocmeta(dir).select($"repo", $"path", $"commit").as[(String, String, String)]
      .collect().sortBy(_.toString).toSeq
    def del(ks: Seq[(String, String, String)]): Unit =
      IndexBuilder.deleteDocs(spark, dir, ks.toDF("repo", "path", "commit"))
    val missing = Seq(("no-repo", "no/path", "0" * 40), (keys(0)._1, keys(0)._2, "f" * 40))

    // no tombstones at all, then only keys that match no doc
    assert(docmetaOf(IndexBuilder.open(spark, dir)) == expected(dir, Nil))
    del(missing)
    val none = IndexBuilder.open(spark, dir)
    assert(none.live.isEmpty)
    assert(docmetaOf(none) == expected(dir, tombFiles(dir)))
    assert(none.docmeta.count() == 600)

    // a batch with a key listed twice, then a second batch that deletes
    // some of the same docs again, new docs, and a missing key
    del(keys.slice(10, 20) ++ keys.slice(12, 14))
    val snap = IndexBuilder.commitSnapshot(dir)
    val atSnap = tombFiles(dir)
    del(keys.slice(15, 25) ++ missing.take(1))
    val live = IndexBuilder.open(spark, dir)
    assert(live.live.deletedCount == 15)
    assert(docmetaOf(live) == expected(dir, tombFiles(dir)))
    assert(live.docmeta.count() == 600 - 15)
    val snapIx = IndexBuilder.open(spark, dir, snapshot = Some(snap))
    assert(snapIx.live.deletedCount == 10)
    assert(docmetaOf(snapIx) == expected(dir, atSnap))
    // a docmeta projection still reads through the docId predicate
    assert(live.docmeta.select($"path").as[String].collect().sorted.toSeq ==
      expected(dir, tombFiles(dir)).map(_.path).sorted)
  }

  test("fixed read schemas equal the inferred schemas of a fresh build") {
    val dir = tmp("graftschemas")
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(Datagen.corpus(spark, 200, seed = 73L), 2), dir)
    IndexBuilder.deleteDocs(spark, dir, Seq(("r", "p", "c")).toDF("repo", "path", "commit"))
    Seq(
      s"$dir/segments/gen_0" -> IndexBuilder.SegmentSchema,
      s"$dir/tombstones" -> IndexBuilder.TombstoneSchema).foreach { case (path, schema) =>
      assert(spark.read.schema(schema).parquet(path).schema == spark.read.parquet(path).schema, path)
    }
  }

  test("deleting through a DataFrame with a non-string commit column removes the doc") {
    val dir = tmp("graftintcommit")
    val docs = (0 until 12).map(i => InputDoc(i % 2, f"k$i%02d", "repo", s"src/F$i.scala",
      (1000 + i).toString, "scala", s"object F$i { val only_doc_$i = $i }"))
    IndexBuilder.buildPersistent(spark, docs.toDS(), dir)
    IndexBuilder.deleteDocs(spark, dir, Seq(("repo", "src/F3.scala", 1003)).toDF("repo", "path", "commit"))
    IndexBuilder.deleteDocs(spark, dir, Seq(("repo", "src/F4.scala", "1004")).toDF("repo", "path", "commit"))
    val ix = IndexBuilder.open(spark, dir)
    assert(ix.live.deletedCount == 2)
    assert(ix.docmeta.count() == 10)
    assert(!ix.docmeta.collect().exists(m => m.commit == "1003" || m.commit == "1004"))
    assert(Searcher.count(ix, "only_doc_3") == 0)
    assert(Searcher.count(ix, "only_doc_5") == 1)
  }

  test("scan-local and shuffle resolutions give the same sidecars, docmeta and topKQ rows") {
    val src = Datagen.corpus(spark, 900, seed = 75L)
    val input = Datagen.toInputDocs(src, 4)
    val aligned = tmp("graftaligned")
    val split = tmp("graftsplit")
    val noBroadcast = tmp("graftnobroadcast")
    IndexBuilder.buildPersistent(spark, input, aligned)
    IndexBuilder.buildPersistent(spark, input, noBroadcast)
    // small row groups, so small file splits spread each segment over
    // several scan partitions
    withConf("parquet.block.size" -> "16384")(IndexBuilder.buildPersistent(spark, input, split))
    val keys = rawDocmeta(aligned).filter($"docId" % 7 === 0)
      .select($"repo", $"path", $"commit")
    Seq(aligned, split, noBroadcast).foreach(IndexBuilder.deleteDocs(spark, _, keys))

    val (a, ta) = JobProbe(spark)(IndexBuilder.open(spark, aligned))
    assert(a.segAligned)
    assert(ta.shuffleBytes == 0)
    val queries = Seq("def", "needle_0", "def AND class", "val OR needle_1", "ident_23*")
      .map(QueryParser.parse)
    def same(name: String, ix: Index): Unit = {
      val (la, lb) = (a.live.asInstanceOf[FileLiveDocs], ix.live.asInstanceOf[FileLiveDocs])
      assert(la.segs == lb.segs, name)
      la.segs.keys.foreach(s => assert(la.deleted(s).toSeq == lb.deleted(s).toSeq, s"$name seg $s"))
      assert(docmetaOf(ix) == docmetaOf(a), name)
      queries.foreach { q =>
        assert(Searcher.topKQ(ix, q, 10).collect().toSeq == Searcher.topKQ(a, q, 10).collect().toSeq,
          s"$name $q")
      }
    }
    assert(a.live.deletedCount == keys.count())

    withConf("spark.sql.files.maxPartitionBytes" -> "16384") {
      val (b, tb) = JobProbe(spark)(IndexBuilder.open(spark, split))
      assert(!b.segAligned, "the split index must be unaligned for this test")
      assert(tb.shuffleBytes > 0, "an unaligned index resolves through the shuffle")
      same("unaligned", b)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (c, tc) = JobProbe(spark)(IndexBuilder.open(spark, noBroadcast))
      assert(tc.shuffleBytes > 0, "broadcasts off: the shuffle resolution")
      same("broadcasts off", c)
    }
    // a batch that matches nothing re-resolves under a new scope; with the
    // tombstone files over the broadcast limit it takes the shuffle too
    IndexBuilder.deleteDocs(spark, noBroadcast, Seq(("no-repo", "no/path", "0" * 40)).toDF("repo", "path", "commit"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "16") {
      val (d, td) = JobProbe(spark)(IndexBuilder.open(spark, noBroadcast))
      assert(td.shuffleBytes > 0, "tombstones over the broadcast limit: the shuffle resolution")
      same("over the broadcast limit", d)
    }
  }

  test("a reopen after a new delete batch on an aligned index: <= 3 jobs, no schema job, no shuffle") {
    val dir = tmp("graftreopen")
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(Datagen.corpus(spark, 800, seed = 77L), 4), dir)
    val keys = rawDocmeta(dir).select($"repo", $"path", $"commit").as[(String, String, String)]
      .collect().sortBy(_.toString).toSeq
    IndexBuilder.deleteDocs(spark, dir, keys.take(20).toDF("repo", "path", "commit"))
    Searcher.count(IndexBuilder.open(spark, dir), "def")
    IndexBuilder.deleteDocs(spark, dir, keys.slice(20, 40).toDF("repo", "path", "commit"))

    val (ix, t) = JobProbe(spark)(IndexBuilder.open(spark, dir))
    val stageNames = t.jobs.flatten.map(_.name)
    assert(t.jobs.size <= 3, s"${t.jobs.size} jobs: $stageNames")
    assert(!stageNames.exists(_.startsWith("parquet at")), s"schema-inference job in $stageNames")
    assert(t.shuffleBytes == 0)
    assert(ix.live.deletedCount == 40)
    // the open's probe answer is kept: the first query runs no probe job
    val (_, tq) = JobProbe(spark)(Searcher.topKQ(ix, QueryParser.parse("def"), 10).collect())
    assert(tq.jobs.flatten.forall(!_.name.contains("IndexBuilder")), tq.jobs.flatten.map(_.name))
    val driverLive = ix.live.asInstanceOf[FileLiveDocs]
    assert(ix.docmeta.count() == 760)
    assert(driverLive.loadedSegs == 0, "the docmeta filter must read sidecars executor-side")
    // same scope again: the committed manifest is read back with no job
    val (_, again) = JobProbe(spark)(IndexBuilder.open(spark, dir))
    assert(again.jobs.isEmpty, again.jobs.flatten.map(_.name))
  }
}
