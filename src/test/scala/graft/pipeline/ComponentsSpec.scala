package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** The one components routine ([[PipelineOps.minLabelComponents]]) on
  * graphs whose diameter, fan-out or bipartite shape stress it, each
  * checked against driver-side union-find. The loop has no round cap,
  * so a deep component must converge, not abort. */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** Component min of every vertex, by union-find over `edges`. */
  private def unionFindMin(vertices: Seq[Long],
                           edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  /** Runs [[PipelineOps.pairClusters]] and checks keep_id and cluster_n
    * of every id against union-find over the pairs. */
  private def checkPairs(ids: Seq[Long], pairs: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val want = unionFindMin(ids, pairs)
    val sizes = want.values.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val got = PipelineOps.pairClusters(ids.toDF("doc_id"),
        pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).sorted.toSeq == ids.sorted)
    got.foreach { case (id, keep, n) =>
      assert(keep == want(id), s"keep_id mismatch for $id")
      assert(n == sizes(want(id)), s"cluster_n mismatch for $id")
    }
  }

  test("25-hop pair path converges to one cluster") {
    val path = (0L until 25L).map(i => (i, i + 1))
    // two unpaired ids keep themselves
    checkPairs((0L to 25L) ++ Seq(100L, 101L), path)
  }

  test("200-leaf star: the min leaf reaches every leaf through the hub") {
    val hub = 1000L
    val leaves = 0L until 200L
    checkPairs(leaves :+ hub, leaves.map(l => (hub, l)))
  }

  test("doc-bucket bipartite chain of 12 doc hops, dedupClusters' shape") {
    import spark.implicits._
    // docs 0..12; bucket 100+i joins doc i and doc i+1, and seeds at its
    // doc-min as dedupClusters seeds it: two rounds per doc hop
    val docs = 0L to 12L
    val links = (0L until 12L).flatMap(i =>
      Seq((i, 100L + i), (i + 1, 100L + i)))
    val edges = (links ++ links.map(_.swap)).toDF("src", "dst")
    val init = (docs.map(d => (d, d)) ++
      (0L until 12L).map(i => (100L + i, i))).toDF("key", "label")
    val got = PipelineOps.minLabelComponents(edges, init)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFindMin(docs ++ (100L until 112L), links)
    assert(got == want)
  }
}
