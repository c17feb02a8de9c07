package graftbench

import graft.build.Datagen

/** Seeded inputs. Every workload input is a pure function of the run seed;
  * the program only ever sees the generated corpus, query strings and
  * delete keys.
  */
object Inputs {
  /** `Datagen`'s identifier vocabulary size (its default). */
  val Vocab = 5000

  private def kw(r: Rng): String = r.pick(Datagen.Keywords.toIndexedSeq)
  /** One of the eight keywords `Datagen` boosts: df close to the corpus size. */
  private def hot(r: Rng): String = Datagen.Keywords(r.int(8))
  private def needle(r: Rng, docs: Long): String = s"needle_${r.int(math.max(1L, docs / 997).toInt)}"
  private def ident(r: Rng): String = s"ident_${r.int(Vocab)}"

  /** The 13 reference query shapes of `graft.Bench` (terms, AND/OR/NOT,
    * phrase, prefix), each filled with seeded terms of the same kind as
    * the reference query's, so a shape costs about the same for every
    * seed.
    */
  def refShape(i: Int, r: Rng, docs: Long): String = (i % 13) match {
    case 0 | 1 => hot(r)
    case 2 | 3 => needle(r, docs)
    case 4 => s"${hot(r)} AND ${hot(r)}"
    case 5 => s"${hot(r)} AND ${hot(r)} AND ${hot(r)}"
    case 6 | 7 => s"${hot(r)} OR ${needle(r, docs)}"
    case 8 => s"(${hot(r)} AND ${hot(r)}) OR ${needle(r, docs)}"
    case 9 => s"${ident(r)} AND NOT ${ident(r)}"
    case 10 => "\"" + hot(r) + " " + hot(r) + "\""
    // prefixes that expand to 111 dictionary terms each
    case 11 => s"ident_${10 + r.int(40)}*"
    case _ => s"camelCaseName${2 + r.int(8)}*"
  }

  /** Batch shapes: disjunctions and conjunctions of high-df keywords,
    * so the postings scan and the scoring kernels carry the time. Only
    * keywords appear, so a warm-up call pays few stats lookups.
    */
  def batchShape(i: Int, r: Rng): String = (i % 10) match {
    case 0 | 1 | 2 => s"${hot(r)} OR ${kw(r)}"
    case 3 | 4 => s"${hot(r)} OR ${kw(r)} OR ${kw(r)}"
    case 5 | 6 => s"${hot(r)} AND ${kw(r)}"
    case 7 => s"(${hot(r)} AND ${kw(r)}) OR ${kw(r)}"
    case 8 => s"${hot(r)} AND ${kw(r)} AND ${kw(r)}"
    case _ => s"${kw(r)} AND NOT ${hot(r)}"
  }

  /** `n` distinct query strings; position `i` is drawn with `gen(i)`,
    * redrawn until it is new.
    */
  def distinct(n: Int, r: Rng)(gen: Int => String): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    (0 until n).foreach { i =>
      var tries = 0
      while (!out.add(gen(i)) && tries < 100) tries += 1
    }
    out.toIndexedSeq
  }

  /** Pool position `i` always holds shape `i % 13`, so the shape mix and
    * its popularity under the Zipf draw are the same for every seed; only
    * the terms change.
    */
  def servePool(seed: Long, docs: Long, n: Int): IndexedSeq[String] = {
    val r = new Rng(seed ^ 0x5e7e)
    distinct(n, r)(i => refShape(i, r, docs))
  }

  def batchPool(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new Rng(seed ^ 0xba7c)
    distinct(n, r)(i => batchShape(i, r))
  }

  /** Source-corpus indices whose version keys an ingest cycle deletes. */
  def deleteIdx(seed: Long, docs: Long, n: Int): Seq[Long] = {
    val r = new Rng(seed ^ 0xde1e)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) out += (r.double() * docs).toLong
    out.toSeq
  }

  /** The `Datagen` corpus seed used for a run seed. */
  def dataSeed(seed: Long): Long = 1000L + seed
}
