package graft.core

import org.scalatest.funsuite.AnyFunSuite

class LongUnionFindSpec extends AnyFunSuite {

  test("roots are set minima and match a naive closure (randomized, sparse ids)") {
    val rnd = new scala.util.Random(5)
    for (trial <- 1 to 20) {
      // sparse, strided and negative ids exercise the hash table and growth
      val ids = Vector.fill(1 + rnd.nextInt(300))(rnd.nextLong() >> rnd.nextInt(60)).distinct
      val edges = Vector.fill(rnd.nextInt(400))(
        (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      val uf = new LongUnionFind
      edges.foreach { case (a, b) => uf.union(a, b) }
      // naive oracle: relabel every node with the minimum of its set until stable
      var label = edges.flatMap(e => Seq(e._1, e._2)).map(v => v -> v).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) {
            label = label.updated(a, m).updated(b, m); changed = true
          }
        }
      }
      val got = Map.newBuilder[Long, Long]
      uf.foreachRoot((n, r) => got += n -> r)
      assert(uf.size == label.size, s"trial $trial")
      assert(got.result() == label, s"trial $trial")
    }
  }
}
