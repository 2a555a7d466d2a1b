package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `curate`: document-curation ops over the `documents` and `embeddings`
  * tables. All of the work is in `graft.pipeline`, none in the tile path.
  * Single ops swing more between iterations than sums of ops do, so the
  * end-to-end metrics report the two tables' stages. */
object Curate {

  /** (op, stage), run in this order. Over `documents`: near-duplicate
    * pairs and their connected components (on the doc-bucket bipartite
    * graph); over `embeddings`: hyperplane-LSH top-k. These are the ops
    * the open rewrites of the candidate-pair builder, the components
    * routine and the vector kernel change first. The ten ops of the three
    * families take about 34 s an iteration on four cores, more than one
    * run's budget. */
  val ops: Seq[(String, String)] = Seq(
    "dedup_minhash_pairs" -> "text",
    "dedup_clusters" -> "text",
    "ann_lsh_topk" -> "vector")

  /** The exact top-k that recall is measured against; checked, not timed. */
  val exactTopK = "ann_cosine_topk"

  /** Approximate top-k ops, checked by recall against `ann_cosine_topk`. */
  val approximate = Seq("ann_lsh_topk")
}

final class Curate extends Workload {
  import Curate.{approximate, exactTopK, ops}

  val name = "curate"
  val parts = Seq("text", "vector")

  private def source(c: Ctx) = s"${c.dataDir}/${if (c.tiny) "sf0.001" else "sf0.01"}"
  private def sfDir(c: Ctx) = s"${c.dir}/sf"

  private var digests = Vector.empty[Map[String, (Long, Long)]]
  private val lastPairs = mutable.Map.empty[String, Set[(Long, Long)]]
  private var cacheMb = 0.0

  /** Copy both tables into the run's directory in a seeded row order.
    * Every op's result is a set, so it does not depend on the order. */
  def generate(c: Ctx): Unit = Seq("documents" -> "doc_id",
    "embeddings" -> "vec_id").foreach { case (t, id) =>
    c.spark.read.parquet(s"${source(c)}/$t.parquet")
      .orderBy(xxhash64(lit(c.seed), col(id)))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${sfDir(c)}/$t.parquet")
  }

  private def call(c: Ctx, op: String): DataFrame =
    SparkEntry.queries(op)(c.spark, sfDir(c))

  def iterate(c: Ctx): Seq[Double] = {
    import c.spark.implicits._
    // ops cache their own intermediate frames; a second run of the same
    // plan would time a cache hit instead of the op
    c.spark.catalog.clearCache()
    val timed = ops.map { case (op, family) =>
      val (d, s) = c.span(s"pipeline.$op") {
        val df = call(c, op)
        // order-independent digest; approximate ops also hand back their
        // (query, neighbor) pairs for the recall check
        val aggs = Seq(count(lit(1)),
          coalesce(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)),
            lit(0L))) ++ (if (!approximate.contains(op)) Nil
          else Seq(collect_set(struct($"query_id", $"neighbor_id"))))
        val r = Force.observed(df, aggs: _*)
        if (approximate.contains(op)) lastPairs(op) = r.getSeq[Row](2)
          .map(p => (p.getLong(0), p.getLong(1))).toSet
        (r.getLong(0), r.getLong(1))
      }
      cacheMb = math.max(cacheMb,
        c.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      (op, family, d, s)
    }
    digests :+= timed.map(t => t._1 -> t._3).toMap
    parts.map(f => timed.filter(_._2 == f).map(_._4).sum)
  }

  def decompose(c: Ctx): Map[String, Double] = Map.empty

  def check(c: Ctx): Unit = {
    import c.spark.implicits._
    c.check("curate.digest_stable")(
      digests.nonEmpty && digests.forall(_ == digests.head))
    val got = digests.headOption.getOrElse(Map.empty).map {
      case (k, (n, h)) => k -> s"$n,$h" }
    // the exact top-k that recall is measured against, checked itself
    val truth = c.op(exactTopK)(call(c, exactTopK)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    val found = got ++ Map(s"$exactTopK.pairs" ->
      s"${truth.size},${truth.toSeq.sorted.hashCode}") ++
      approximate.map(op => s"recall.$op" ->
        ((truth & lastPairs.getOrElse(op, Set.empty)).size.toDouble /
          math.max(truth.size, 1)).toString)
    c.notes("found") = found
    Expected.load(c, name).foreach { e =>
      found.foreach { case (k, v) =>
        c.check(s"curate.$k")(
          if (k.startsWith("recall.")) e.get(k).exists(v.toDouble >= _.toDouble)
          else e.get(k).contains(v))
      }
    }
  }

  def layers(c: Ctx, st: Map[String, TaskStats], iters: Int)
      : Map[String, Double] = {
    val per = math.max(iters, 1).toDouble
    ops.flatMap { case (op, _) =>
      val k = s"pipeline.$op"
      val t = st.getOrElse(k, new TaskStats)
      Seq(
        s"$k.wall_s" -> Main.medianWall(c, k),
        s"$k.task_s" -> t.runMs / 1e3 / per,
        s"$k.shuffle_mb" -> t.shuffleWriteBytes / 1048576.0 / per,
        s"$k.spill_mb" -> t.spillBytes / 1048576.0 / per,
        s"$k.max_task_s" -> Main.maxTask(t))
    }.toMap + ("pipeline.cache_mb" -> cacheMb)
  }
}
