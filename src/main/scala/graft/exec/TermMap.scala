package graft.exec

import graft.model.PostingList

/** One segment's term -> postings map over two parallel arrays sorted by
  * term: `get` is a binary search. Compact next to a hash trie, and
  * cheap for Spark to size when a serving index caches it (the block
  * store samples large arrays instead of walking every trie node).
  */
final class TermMap private (terms: Array[String], lists: Array[PostingList])
    extends scala.collection.immutable.AbstractMap[String, PostingList] with Serializable {

  def get(term: String): Option[PostingList] = {
    val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)
    if (i >= 0) Some(lists(i)) else None
  }

  def iterator: Iterator[(String, PostingList)] = terms.iterator.zip(lists.iterator)

  override def size: Int = terms.length

  def removed(term: String): Map[String, PostingList] = Map.from(iterator).removed(term)

  def updated[V >: PostingList](term: String, value: V): Map[String, V] =
    Map.from(iterator).updated(term, value)
}

object TermMap {
  /** Rows of one term (mega-term salt split / merge output) are
    * concatenated in docId order — blocks are self-contained.
    */
  def of(rows: Iterable[PostingList]): Map[String, PostingList] = {
    val rs = rows.toArray
    java.util.Arrays.sort(rs, (a: PostingList, b: PostingList) => {
      val c = a.term.compareTo(b.term)
      if (c != 0) c else java.lang.Long.compare(a.maxDocIds.head, b.maxDocIds.head)
    })
    val terms = Array.newBuilder[String]
    val lists = Array.newBuilder[PostingList]
    var i = 0
    while (i < rs.length) {
      var j = i + 1
      while (j < rs.length && rs(j).term == rs(i).term) j += 1
      terms += rs(i).term
      lists += graft.codec.PostingCodec.concat(rs.slice(i, j).toSeq)
      i = j
    }
    new TermMap(terms.result(), lists.result())
  }
}
