package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.core.{TileId, ZxyPath}
import graft.model.Feature
import graft.query.Query
import graft.run.{DigJob, PyramidJob}
import graft.tile.Pyramid

/** Write, then serve: `DigJob` writes the feature table, `PyramidJob`
  * writes MVT z0-14 with its manifests, then two clients in a closed loop
  * (each waits for its answer before asking again, as a map widget does)
  * send a seeded stream of z10-14 requests. Each request is a small Spark
  * job, so per-query planning and scan pruning dominate, where they barely
  * show in a batch pyramid. */
object WriteServe {
  import TilePath.{cfg, Group}

  val ZMax = 14
  private val Clients = 2
  private val Requests = 40

  /** Request mix: on-demand render from the feature table, stored lookup
    * in the pyramid table, point query, point-in-polygon query, and tiles
    * outside the corpus (the 404 path, as stored lookups). */
  private val mix = Seq("tile" -> 0.30, "lookup" -> 0.33, "point" -> 0.15,
    "pip" -> 0.15, "missing" -> 0.07)

  final case class Req(id: Int, kind: String, z: Int, x: Int, y: Int,
                       lat: Double, lon: Double) {
    def path: String = ZxyPath.build(Group, TileId(z, x, y), "mvt")
  }

  /** Requests fall in the box (lon0, lat0, width, height), most of them
    * near a few hot spots, so some tiles repeat. */
  final case class Area(lon0: Double, lat0: Double, w: Double, h: Double)

  private def tileOf(z: Int, lat: Double, lon: Double): (Int, Int) = {
    val n = 1 << z
    val x = math.floor((lon + 180.0) / 360.0 * n).toInt
    val r = math.toRadians(lat)
    val y = math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) /
      math.Pi) / 2.0 * n).toInt
    (math.min(n - 1, math.max(0, x)), math.min(n - 1, math.max(0, y)))
  }

  def stream(c: Ctx, a: Area): Seq[Req] = {
    val r = c.rng(12)
    def uniform() = (a.lat0 + r.nextDouble() * a.h, a.lon0 + r.nextDouble() * a.w)
    val hot = Seq.fill(6)(uniform())
    (0 until Requests).map { id =>
      val (lat, lon) =
        if (r.nextDouble() < 0.6) {
          val (la, lo) = hot(r.nextInt(hot.length))
          (la + (r.nextDouble() - 0.5) * 1e-3, lo + (r.nextDouble() - 0.5) * 1e-3)
        } else uniform()
      val z = 10 + r.nextInt(ZMax - 10 + 1)
      var u = r.nextDouble()
      val kind = mix.find { case (_, w) => u -= w; u < 0 }
        .map(_._1).getOrElse(mix.head._1)
      if (kind == "missing") {
        val (x, y) = tileOf(z, -lat, lon + 120.0)
        Req(id, "lookup", z, x, y, -lat, lon + 120.0)
      } else {
        val (x, y) = tileOf(z, lat, lon)
        Req(id, kind, z, x, y, lat, lon)
      }
    }
  }

  /** Answer one request; the value is what a client would receive. */
  private def answer(c: Ctx, feats: Dataset[Feature], tiles: DataFrame,
                     q: Req): Seq[Any] = q.kind match {
    case "tile" => Pyramid.tile(c.spark, feats, cfg, Group, "mvt",
      q.z, q.x, q.y).collect().map(_.bytes).toSeq
    case "lookup" => Query.lookupTile(tiles, q.path).select("bytes")
      .collect().map(_.getAs[Array[Byte]](0)).toSeq
    case "point" => Query.pointQuery(c.spark, feats, cfg, q.lat, q.lon)
      .collect().map(_.toSeq).toSeq
    case "pip" => Query.pipQuery(c.spark, feats, cfg, q.lat, q.lon)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
  }

  /** Two closed-loop clients working through `reqs`; each request's
    * answer, or the exception it threw. */
  private def serve(c: Ctx, feats: Dataset[Feature], tiles: DataFrame,
                    reqs: Seq[Req]): Seq[(Req, Either[Throwable, Seq[Any]])] = {
    val next = new AtomicInteger(0)
    val out = new Array[Either[Throwable, Seq[Any]]](reqs.length)
    val clients = (0 until Clients).map { _ =>
      new Thread(() => c.tracer.inside("serve") {
        var i = next.getAndIncrement()
        while (i < reqs.length) {
          val q = reqs(i)
          out(i) = try Right(c.span(s"query.${q.kind}", q.id)(
            answer(c, feats, tiles, q))._1)
          catch { case e: Throwable => Left(e) }
          i = next.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    reqs.zip(out.toSeq)
  }

  /** Run the write and serve phases once over `docs`, check their outputs
    * and return their layer metrics. `digS` and `tilesS` are the in-memory
    * Extract + Dig and `Pyramid.tiles` wall times of the same input, so
    * the jobs' own overhead can be split off. */
  def run(c: Ctx, docs: DataFrame, area: Area, digS: Double,
          tilesS: Double): Map[String, Double] = {
    import c.spark.implicits._
    val dir = s"${c.dir}/written"
    val (_, digJobS) = c.span("run.dig_job")(
      DigJob.run(c.spark, docs, cfg, s"$dir/feats"))
    val feats = c.spark.read.parquet(s"$dir/feats").as[Feature]
    val (batches, pyrS) = c.span("run.pyramid_job")(
      PyramidJob.run(c.spark, feats, cfg, Group, "mvt", 0, ZMax,
        s"$dir/tiles"))
    val tiles = c.spark.read.parquet(s"$dir/tiles/fmt=mvt")
    val spans0 = c.tracer.spans.length
    val answers = c.tracer.span("serve")(
      serve(c, feats, tiles, stream(c, area)))._1
    val st = c.tracer.snapshot()
    val ms = queryLayers(c.tracer.spans.drop(spans0), st)
    check(c, dir, batches, answers, feats)
    ms ++ Map(
      "run.dig_job.self_s" -> (digJobS - digS),
      "run.dig_job.written_mb" -> dirMb(Paths.get(s"$dir/feats")),
      "run.pyramid_job.wall_s" -> pyrS,
      "run.pyramid_job.jobs_per_zoom" ->
        st.get("run.pyramid_job").map(_.jobs).getOrElse(0) / (ZMax + 1.0),
      "run.pyramid_job.empty_zoom_s" ->
        batches.filter(_.tiles == 0).map(_.wallSec).sum,
      "run.pyramid_job.written_mb" -> dirMb(Paths.get(s"$dir/tiles")),
      "run.pyramid_job.self_s" -> (pyrS - tilesS))
  }

  /** Per request kind: latency median and 95th percentile, input records
    * and jobs per request, and the request's wall time outside every one
    * of its jobs (planning, analysis and result handling on the driver). */
  private def queryLayers(spans: Seq[SpanRec], st: Map[String, TaskStats])
      : Map[String, Double] =
    Seq("tile", "lookup", "point", "pip").flatMap { k =>
      val rs = spans.filter(s => s.name == s"query.$k" && s.req >= 0)
      val ms = rs.map(_.seconds * 1e3)
      val ts = rs.map(r => st.getOrElse(r.key, new TaskStats))
      val plan = rs.zip(ts).map { case (r, t) =>
        val covered = t.jobSpans.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
            (acc + math.max(0L, b - math.max(a, end)), math.max(end, b))
          }._1
        math.max(0.0, r.seconds * 1e3 - covered)
      }
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Seq(
        s"query.$k.p50_ms" -> (if (ms.isEmpty) 0.0 else Stats.median(ms)),
        s"query.$k.p95_ms" ->
          (if (ms.isEmpty) 0.0 else Stats.quantile(ms, 0.95)),
        s"query.$k.rows_read" -> mean(ts.map(_.recordsRead.toDouble)),
        s"query.$k.jobs" -> mean(ts.map(_.jobs.toDouble)),
        s"query.$k.plan_ms" -> mean(plan))
    }.toMap

  private def check(c: Ctx, dir: String, batches: Seq[PyramidJob.BatchResult],
                    answers: Seq[(Req, Either[Throwable, Seq[Any]])],
                    feats: Dataset[Feature]): Unit = {
    import c.spark.implicits._
    val stored = c.spark.read.parquet(s"$dir/tiles/fmt=mvt")
      .select($"z", $"x", $"y", $"bytes").as[(Int, Int, Int, Array[Byte])]
      .collect().map(t => ((t._1, t._2, t._3), t._4)).toMap
    c.check("serve.stored_nonempty")(stored.nonEmpty)
    // every tile answer, on demand or stored, equals the pyramid job's
    // stored tile; outside the corpus both are empty
    answers.foreach {
      case (q, Right(a)) if q.kind == "tile" || q.kind == "lookup" =>
        val twin = stored.get((q.z, q.x, q.y)).toSeq
        c.check(s"serve.${q.kind}_equals_stored")(a.length == twin.length &&
          a.zip(twin).forall { case (g: Array[Byte], t) =>
            java.util.Arrays.equals(g, t)
          case _ => false })
      case _ =>
    }
    // manifest tile counts equal the rows read back
    val perZoom = stored.keys.groupBy(_._1).map { case (z, ks) => z -> ks.size }
    (0 to ZMax).foreach { z =>
      val m = Files.readString(Paths.get(s"$dir/tiles/_manifest/mvt_z$z.json"))
      val n = "\"tiles\":(\\d+)".r.findFirstMatchIn(m).map(_.group(1).toLong)
      c.check(s"serve.manifest_z$z")(n.contains(perZoom.getOrElse(z, 0).toLong)
        && batches.exists(b => b.z == z && n.contains(b.tiles)))
    }
    // a polygon that contains the point has it inside its bbox too, so a
    // pip answer lies inside the point query's answer at the same point
    answers.collect { case (q, Right(a)) if q.kind == "pip" => (q, a) }
      .take(2).foreach { case (q, hits) =>
        val point = Query.pointQuery(c.spark, feats, cfg, q.lat, q.lon)
          .select($"layer", $"kind_rank", $"id").as[(String, Int, Long)]
          .collect().toSet[Any]
        c.check("serve.pip_within_point")(hits.forall(point.contains))
      }
    c.notes("serve.stored_tiles") = stored.size
    c.notes("serve.requests") = answers.groupBy(_._1.kind)
      .map { case (k, v) => k -> v.size }
  }

  private def dirMb(p: Path): Double = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum / 1048576.0
    finally s.close()
  }
}
