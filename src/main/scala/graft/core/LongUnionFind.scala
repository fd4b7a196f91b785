package graft.core

/** Union-find over `Long` ids whose root is always the smallest id of its
  * set. Ids are interned into dense slots through an open-addressing
  * `Long` table (no boxing); parents are slot indices, compressed by path
  * halving on every `find`. Used as the task-local contraction step of
  * [[graft.pipeline.Er.connectedComponents]].
  */
final class LongUnionFind {
  private var nodes = 0
  private var ids = new Array[Long](16)
  private var parent = new Array[Int](16)
  // hash table: slot + 1 per bucket, 0 = empty; kept at most half full
  private var table = new Array[Int](32)
  private var mask = table.length - 1

  /** Number of distinct ids seen. */
  def size: Int = nodes

  /** Merge the sets of `a` and `b`; the smaller root id becomes the root. */
  def union(a: Long, b: Long): Unit = {
    val ra = find(slot(a))
    val rb = find(slot(b))
    if (ra != rb) {
      if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** Calls `f(id, root)` once for every id seen; a root maps to itself. */
  def foreachRoot(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < nodes) {
      f(ids(i), ids(find(i)))
      i += 1
    }
  }

  private def find(i: Int): Int = {
    var x = i
    while (parent(x) != x) {
      parent(x) = parent(parent(x))
      x = parent(x)
    }
    x
  }

  /** The slot of `id`, interning it as a new singleton set when unseen. */
  private def slot(id: Long): Int = {
    var b = bucket(id)
    while (table(b) != 0) {
      val s = table(b) - 1
      if (ids(s) == id) return s
      b = (b + 1) & mask
    }
    if (nodes == ids.length) {
      ids = java.util.Arrays.copyOf(ids, nodes * 2)
      parent = java.util.Arrays.copyOf(parent, nodes * 2)
    }
    val s = nodes
    ids(s) = id
    parent(s) = s
    nodes += 1
    if (nodes * 2 > table.length) rehash() else table(b) = s + 1
    s
  }

  private def rehash(): Unit = {
    table = new Array[Int](table.length * 2)
    mask = table.length - 1
    var s = 0
    while (s < nodes) {
      var b = bucket(ids(s))
      while (table(b) != 0) b = (b + 1) & mask
      table(b) = s + 1
      s += 1
    }
  }

  private def bucket(id: Long): Int = {
    // splitmix64 finalizer: ids are often dense or strided, so spread them
    var z = id
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toInt & mask
  }
}
