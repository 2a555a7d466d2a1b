package perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.{EngineCfg, MvtDecode}
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen
import graft.model.Feature
import graft.tile.{FeatureEncoder, Pyramid}

/** Shared tile-path calls: forced features and the layer split of one MVT
  * pyramid (cover alone, cover + encode, then the full `Pyramid.tiles`). */
object TilePath {
  val cfg: EngineCfg = EngineCfg.default
  val Group = "tile"
  val ZMax = 14

  /** Extract → Dig from `docs`, cached and forced. Traced runs force the
    * entities first, so the extract and dig layers get their own spans. */
  def features(c: Ctx, docs: DataFrame): (Dataset[Feature], Double) = {
    val t0 = System.nanoTime()
    val entities =
      if (!c.tracer.traced) Extract.entities(docs)
      else {
        val e = Extract.entities(docs).cache()
        val (n, _) = c.span("extract")(Force.observed(e,
          count(lit(1))).getLong(0))
        c.notes("extract.rows_out") = n
        e
      }
    val ((f, n), _) = c.span("dig") {
      val f = Dig.features(c.spark, entities, cfg).cache()
      (f, Force.observed(f, count(lit(1))).getLong(0))
    }
    c.notes("dig.rows_out") = n
    (f, (System.nanoTime() - t0) / 1e9)
  }

  /** MVT z0-14 pyramid, forced. Observes the row count, set digest and
    * byte total of all tiles and, per zoom, the tile whose (x, y) has the
    * smallest seeded hash: a seeded sample drawn from the forced output. */
  def pyramid(c: Ctx, feats: Dataset[Feature])
      : (((Long, Long, Long), Map[Int, (Int, Int, Array[Byte])]), Double) =
    c.span("tile.mvt") {
      val tiles = Pyramid.tiles(c.spark, feats, cfg, Group, "mvt", 0, ZMax)
      val samples = (0 to ZMax).map(z => min_by(
        struct(col("x"), col("y"), col("bytes")),
        when(col("z") === z, xxhash64(lit(c.seed), col("x"), col("y")))))
      val r = Force.observed(tiles,
        Seq(count(lit(1)),
          coalesce(bit_xor(xxhash64(Seq("group", "fmt", "z", "x", "y",
            "bytes").map(col): _*)), lit(0L)),
          coalesce(sum(length(col("bytes")).cast("long")), lit(0L))) ++
          samples: _*)
      ((r.getLong(0), r.getLong(1), r.getLong(2)),
        (0 to ZMax).flatMap(z => Option(r.getStruct(z + 3)).map(t =>
          z -> (t.getInt(0), t.getInt(1), t.getAs[Array[Byte]](2)))).toMap)
    }

  /** Cover alone and cover + per-feature encode for the MVT z0-14 pyramid,
    * each forced once, for the encode and merge self times. */
  def decompose(c: Ctx, feats: Dataset[Feature]): Unit = {
    import c.spark.implicits._
    val group = cfg.groups.find(_.name == Group).get
    def cover = Pyramid.coverJoin(c.spark, feats, group, cfg.tileExtent,
      "mvt", 0, ZMax)
    def encoded = cover.mapPartitions { it =>
      val fe = new FeatureEncoder(cfg, group, "mvt")
      it.flatMap(fe.encode)
    }
    def coverRows = Force.observed(cover, count(lit(1)),
      coalesce(sum(length($"packed").cast("long")), lit(0L)))
    def encodedRows = Force.observed(encoded, count(lit(1)),
      coalesce(sum(length($"blob").cast("long")), lit(0L)))
    // each plan runs once untraced first, so compile and JIT warm-up of
    // these two plan shapes stay out of the split
    c.tracer.setTraced(false)
    coverRows; encodedRows
    c.tracer.setTraced(true)
    val (cov, covS) = c.span("tile.cover")(coverRows)
    val (enc, encS) = c.span("tile.encode")(encodedRows)
    c.notes("tile.cover.rows_out") = cov.getLong(0)
    c.notes("tile.cover.wall_s") = covS
    c.notes("tile.encode.wall_s") = encS
    c.notes("tile.encode.payloads_out") = enc.getLong(0)
    c.notes("tile.encode.payload_mb") = enc.getLong(1) / 1048576.0
  }

  /** Layer metrics of the tile path from the spans and task totals:
    * extract, dig and the cover / encode / merge split of `tileSpan`. */
  def layers(c: Ctx, st: Map[String, TaskStats], tileSpan: String,
             iters: Int): Map[String, Double] = {
    def wall(n: String) = Main.medianWall(c, n)
    def ts(n: String) = st.getOrElse(n, new TaskStats)
    def note(n: String) = c.notes.get(n).map {
      case l: Long => l.toDouble
      case d: Double => d
      case x => x.toString.toDouble
    }.getOrElse(0.0)
    val tile = ts(tileSpan)
    val cov = ts("tile.cover")
    val enc = ts("tile.encode")
    val mergeTasks = tile.taskMs.filter(_._2).map(_._1 / 1e3).toSeq
    val per = math.max(iters, 1).toDouble
    val tileTask = tile.runMs / 1e3 / per
    Map(
      "extract.wall_s" -> wall("extract"),
      "extract.task_s" -> ts("extract").runMs / 1e3 / per,
      "extract.rows_out" -> note("extract.rows_out"),
      "dig.wall_s" -> wall("dig"),
      "dig.task_s" -> ts("dig").runMs / 1e3 / per,
      "dig.shuffle_mb" -> ts("dig").shuffleWriteBytes / 1048576.0 / per,
      "dig.spill_mb" -> ts("dig").spillBytes / 1048576.0 / per,
      "dig.max_task_s" -> Main.maxTask(ts("dig")),
      "dig.rows_out" -> note("dig.rows_out"),
      "tile.cover.wall_s" -> note("tile.cover.wall_s"),
      "tile.cover.task_s" -> cov.runMs / 1e3,
      "tile.cover.rows_out" -> note("tile.cover.rows_out"),
      "tile.encode.self_s" ->
        (note("tile.encode.wall_s") - note("tile.cover.wall_s")),
      "tile.encode.task_s" -> (enc.runMs - cov.runMs) / 1e3,
      "tile.encode.payloads_out" -> note("tile.encode.payloads_out"),
      "tile.encode.payload_mb" -> note("tile.encode.payload_mb"),
      "tile.encode.kept_frac" -> (if (note("tile.cover.rows_out") > 0)
        note("tile.encode.payloads_out") / note("tile.cover.rows_out")
        else 0.0),
      "tile.merge.self_s" -> (wall(tileSpan) - note("tile.encode.wall_s")),
      "tile.merge.task_s" -> (tileTask - enc.runMs / 1e3),
      "tile.merge.shuffle_mb" -> tile.shuffleWriteBytes / 1048576.0 / per,
      "tile.merge.spill_mb" -> tile.spillBytes / 1048576.0 / per,
      "tile.merge.max_task_s" ->
        (if (mergeTasks.isEmpty) 0.0 else mergeTasks.max),
      "tile.merge.median_task_s" ->
        (if (mergeTasks.isEmpty) 0.0 else Stats.median(mergeTasks)),
      "tile.merge.tiles_out" -> note("tile.merge.tiles_out"),
      "tile.merge.tile_mb" -> note("tile.merge.tile_mb"))
  }
}

/** `tile_hot`: the tile build over the skewed corpus, where 80% of the
  * grid cells sit in one z8 tile. It is the one input that drives the
  * salted hot-tile merge. An iteration forces the features, then the MVT
  * z0-14 pyramid. */
final class TileHot extends Workload {
  import TilePath.{cfg, Group, ZMax}

  val name = "tile_hot"
  val parts = Seq("features", "mvt")

  /** `CorpusGen.bench` shrunk to a fifth of its grid each way, with the
    * same skew: one iteration then takes about fifteen seconds on four
    * cores, most of it Spark's fixed cost per stage rather than input. */
  private def params(c: Ctx) =
    if (c.tiny) CorpusGen.small
    else CorpusGen.Params(nx = 24, ny = 20, countyCols = 4, countyRows = 3,
      skew = true)

  private var docs: DataFrame = _
  private var digests = Vector.empty[(Long, Long, Long)]
  private var lastFeats: Dataset[Feature] = _
  private var lastSamples = Map.empty[Int, (Int, Int, Array[Byte])]

  def generate(c: Ctx): Unit = {
    import c.spark.implicits._
    val p = params(c)
    // the seed permutes the units fed to the generator: partitions hold
    // different documents, the corpus and every output stay the same
    val order = c.rng(1).shuffle((0 until CorpusGen.unitCount(p)).toVector)
    if (docs != null) docs.unpersist()
    docs = c.spark.createDataset(order)
      .flatMap(u => CorpusGen.docsOfUnit(p, u)).toDF()
      .localCheckpoint(eager = true)
  }

  def iterate(c: Ctx): Seq[Double] = {
    c.spark.catalog.clearCache()
    val (feats, fs) = TilePath.features(c, docs)
    val ((digest, samples), ms) = TilePath.pyramid(c, feats)
    digests :+= digest
    c.notes("tile.merge.tiles_out") = digest._1
    c.notes("tile.merge.tile_mb") = digest._3 / 1048576.0
    lastFeats = feats
    lastSamples = samples
    Seq(fs, ms)
  }

  /** Cover and encode split of the MVT pyramid, then the write and serve
    * path over the same documents. */
  def decompose(c: Ctx): Map[String, Double] = {
    TilePath.decompose(c, lastFeats)
    val p = params(c)
    val area =
      if (p.skew) WriteServe.Area(-93.4, 44.9, 0.2, 0.15)
      else WriteServe.Area(p.lon0, p.lat0, p.nx * p.dlon, p.ny * p.dlat)
    WriteServe.run(c, docs, area,
      digS = Main.medianWall(c, "extract") + Main.medianWall(c, "dig"),
      tilesS = Main.medianWall(c, "tile.mvt"))
  }

  def check(c: Ctx): Unit = {
    c.check("tile_hot.digest_stable")(
      digests.nonEmpty && digests.forall(_ == digests.head))
    c.check("tile_hot.tiles_nonempty")(
      digests.nonEmpty && digests.head._1 > 0)
    val digest = digests.headOption.map(_.productIterator.mkString(","))
    digest.foreach(d => c.notes("mvt_digest") = d)
    Expected.load(c, name).foreach { e =>
      c.check("tile_hot.mvt_digest_expected")(digest == e.get("mvt"))
    }
    // the render-from-index route at a seeded zoom: the same bytes as the
    // pyramid's tile, well-formed MVT, configured extent, version 2
    val zoom = c.rng(2).shuffle(lastSamples.keys.toVector.sorted).headOption
    c.check("tile_hot.sampled")(zoom.nonEmpty)
    zoom.foreach { z =>
      val (x, y, bytes) = lastSamples(z)
      val one = c.op("tile_hot.on_demand")(Pyramid.tile(c.spark, lastFeats,
        cfg, Group, "mvt", z, x, y).collect())
      c.check(s"tile_hot.on_demand_equal z$z")(one.length == 1 &&
        java.util.Arrays.equals(bytes, one.head.bytes))
      c.check(s"tile_hot.mvt_wellformed z$z")(one.headOption.exists { t =>
        val ls = MvtDecode.decode(t.bytes)
        ls.nonEmpty && ls.forall(l => l.wellformed &&
          l.extent == cfg.tileExtent && l.version == 2)
      })
    }
  }

  def layers(c: Ctx, st: Map[String, TaskStats], iters: Int)
      : Map[String, Double] =
    TilePath.layers(c, st, "tile.mvt", iters)
}
