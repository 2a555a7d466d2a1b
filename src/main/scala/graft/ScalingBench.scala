package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.core.EngineCfg
import graft.dig.Dig
import graft.extract.Extract
import graft.ingest.CorpusGen

/** Scaling-efficiency evidence (north rule: N vs 4N executors; sandbox
  * stand-in: two local[k] levels on identical input, BASELINE.md). One
  * invocation measures one ladder and writes its record:
  *
  *   runMain graft.ScalingBench <out.json>
  *
  * Phase 0 (not measured): generate the 4×-bench corpus, dig it, and
  * materialize the feature table to parquet in a directory of this run,
  * deleted at exit. Then, for each round and level, a FRESH SparkSession at
  * the level's width, pinned to the level's cores, reads that parquet and
  * runs the identical pyramid job: one warmup, then the timed reps. The
  * pure-CPU calibration loop then runs on the same cores. Alternate rounds
  * run the levels in reverse order.
  *
  * The record lists every warm rep of every level with its min and median;
  * each `efficiency_N_to_4N` present is per_sec(4N) / (4·per_sec(N)) from
  * the per-level `sec_min` of this invocation.
  *
  * Env: SPARK_GRAFT_SCALING_MODE (threads | executors), _LEVELS (default
  * 8,2), _ROUNDS (2), _REPS (warm reps per sample, 2), _EXEC_CORES (0-7;
  * level k pins to its first k) and _DRIVER_CORES (28-31, executors mode).
  */
object ScalingBench {

  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** Calibration work per thread: 32 units of one 20M-step mix64 chain. */
  private val calibUnitsPerThread = 32
  private val calibChain = 20000000L

  /** The pure-CPU ceiling of `threads` cores: register-only mix64 chains,
    * no shared state and no allocation, `calibUnitsPerThread` units per
    * thread so every level runs about equally long. Returns wall seconds. */
  private def calibrate(threads: Int): Double = {
    def work(u: Int): Long = {
      var h = u.toLong
      var i = 0L
      while (i < calibChain) { h = graft.ingest.SpanCodec.mix64(h); i += 1 }
      h
    }
    (0 until threads).foreach(work) // warmup
    val units = calibUnitsPerThread * threads
    val queue = new java.util.concurrent.atomic.AtomicInteger(0)
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var u = queue.getAndIncrement()
        while (u < units) {
          sink.addAndGet(work(u))
          u = queue.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** `"levels":[…]` plus one `efficiency_N_to_4N` per pair present, from
    * each level's warm reps (seconds) and its work count (`unit`). */
  private def ladder(reps: Map[Int, Seq[Double]], unit: String,
                     work: Int => Long): String = {
    val levels = reps.keys.toSeq.sorted
    def perSec(k: Int): Double = work(k) / reps(k).min
    val rows = levels.map { k =>
      val s = reps(k).sorted
      val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2
      s"""{"level":$k,"$unit":${work(k)},"per_sec":${num(perSec(k))},""" +
        s""""sec_min":${num(s.head)},"sec_med":${num(med)},""" +
        s""""reps":[${reps(k).map(num).mkString(",")}]}"""
    }
    val effs = levels.filter(k => reps.contains(4 * k)).map { k =>
      s""""efficiency_${k}_to_${4 * k}":${num(perSec(4 * k) / (4 * perSec(k)))}"""
    }
    (s""""levels":[${rows.mkString(",")}]""" +: effs).mkString(",")
  }

  /** The ladder record of one invocation: the pyramid ladder first (so its
    * efficiency fields are the top-level ones `Bench.effOf` reads), then
    * the calibration ladder, the method and the commit. */
  private[graft] def record(tileReps: Map[Int, Seq[Double]], tiles: Long,
                            calibReps: Map[Int, Seq[Double]], method: String,
                            commit: String): String =
    s"""{${ladder(tileReps, "tiles", _ => tiles)},""" +
      s""""pure_cpu_calibration":{${ladder(calibReps, "units",
        k => calibUnitsPerThread.toLong * k)}},""" +
      s""""method":"$method","commit":"$commit"}"""

  /** Run a command; a non-zero exit fails the run. Returns its stdout. */
  private def run(cmd: String*): String = {
    val pr = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(pr.getInputStream.readAllBytes, "UTF-8")
    require(pr.waitFor() == 0, s"${cmd.mkString(" ")} failed: $out")
    out
  }

  /** A core list as taskset writes it: "0-3,8,10-11". */
  private def expand(spec: String): Seq[Int] = spec.split(',').toSeq.flatMap {
    r => r.split('-') match {
      case Array(a, z) => a.trim.toInt to z.trim.toInt
      case Array(a)    => Seq(a.trim.toInt)
    }
  }

  /** Pin every thread of process `pid` onto `cores`; a pin that fails fails
    * the run. The kernel silently drops cores the host does not have, so
    * every thread's new affinity must read back as exactly `cores`. A
    * thread that exits mid-pin fails one attempt; up to 3 are made. */
  private def taskset(cores: Seq[Int], pid: String, tries: Int = 3): Unit = {
    val out = scala.util.Try(run("taskset", "-apc", cores.mkString(","), pid))
    val pinned = out.toOption.exists { o =>
      val got = o.linesIterator.filter(_.contains("new affinity list:"))
        .map(l => expand(l.split(':').last).sorted).toSeq
      got.nonEmpty && got.forall(_ == cores.sorted)
    }
    if (!pinned) {
      require(tries > 1, s"pinning pid $pid to cores ${cores.mkString(",")}" +
        s" failed: ${out.fold(_.getMessage, identity)}")
      taskset(cores, pid, tries - 1)
    }
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    require(args.length == 1, "usage: graft.ScalingBench <out.json>")
    val out = Paths.get(args(0))
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALING_ROUNDS", "2").toInt
    val levels = sys.env.getOrElse("SPARK_GRAFT_SCALING_LEVELS", "8,2")
      .split(',').map(_.trim.toInt).toSeq
    val repsPerSample =
      sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "2").toInt
    val zMax = 16
    val cfg = EngineCfg.default
    val p = CorpusGen.bench.copy(nx = 240, ny = 200,
      countyCols = 24, countyRows = 20)
    // mode "threads" (default): local[k] — k tasks multiplex ONE JVM; the
    // sandbox stand-in used since round 1. mode "executors": Spark's
    // local-cluster[k,1,mem] master — k REAL executor JVMs of 1 core each
    // (separate heaps, allocators, code caches; shuffle crosses process
    // boundaries over netty exactly as on a multi-node cluster), the
    // configuration the north rule actually names ("N and 4N executors").
    // The driver is pinned OFF the executor cores (a real cluster's driver
    // is a separate node); each executor JVM is pinned to its own distinct
    // core so width-k means exactly k cores of compute at every level.
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALING_MODE", "threads")
    val execMemMb = 6144
    val execCores = expand(
      sys.env.getOrElse("SPARK_GRAFT_SCALING_EXEC_CORES", "0-7"))
    val drvCores = expand(
      sys.env.getOrElse("SPARK_GRAFT_SCALING_DRIVER_CORES", "28-31"))

    def levelCores(cpus: Int): Seq[Int] = {
      require(execCores.size >= cpus,
        s"need $cpus exec cores, got ${execCores.size}")
      execCores.take(cpus)
    }
    val self = ProcessHandle.current().pid().toString
    /** Pin every thread of this JVM onto the level's cores. */
    def pinSelf(cpus: Int): Unit = taskset(levelCores(cpus), self)

    def session(cpus: Int): SparkSession = {
      // IDENTICAL plan at every level (north rule: the SAME job on N and
      // 4N executors): shuffle partitioning and AQE targets are fixed by
      // the DATA, not the cluster size — only concurrency differs.
      // Letting partitions track cores hands the small level fewer,
      // fatter tasks (less per-task overhead), understating scaling.
      // AQE partition COALESCING is off: it folded the CPU-heavy salt-run
      // sort+pack stage to 2-3 tasks, and its target tracks
      // defaultParallelism, so the plan differed by level.
      val master =
        if (mode == "executors") s"local-cluster[$cpus,1,$execMemMb]"
        else s"local[$cpus]"
      val b = SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.ui.enabled", "false")
      if (mode == "executors") {
        b.config("spark.executor.memory", s"${execMemMb}m")
        // ActiveProcessorCount=1: the executor JVMs launch BEFORE the
        // harness can pin them, so without this they size GC/JIT/netty
        // pools for all of the host's cores and then get pinned onto ONE
        // (measured: loadavg 14-25, util 0.5)
        b.config("spark.executor.extraJavaOptions",
          "-XX:ActiveProcessorCount=1 -XX:+UseParallelGC -Xmn3g" +
            " -XX:-UseAdaptiveSizePolicy")
        // 1-core executors must not wait for "better" locality — a real
        // k-node cluster has k equally-good slots; the 3 s default left
        // cores idle between waves (measured util 0.5-0.65 at k=8)
        b.config("spark.locality.wait", "0s")
      }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      pinProcesses(s, cpus)
      s
    }

    /** Pin level `cpus` to its cores; a pin that fails fails the run.
      * threads mode: `pinSelf`. executors mode: wait for the `cpus`
      * executor JVMs to register, pin each to its OWN exec core, and this
      * driver JVM to the driver cores — constant at every level, off the
      * executor set, like a real cluster's separate driver node. */
    def pinProcesses(s: SparkSession, cpus: Int): Unit =
      if (mode == "executors") {
        val cores = levelCores(cpus)
        // getExecutorInfos lists the driver as well as the executors
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (s.sparkContext.statusTracker.getExecutorInfos.length <= cpus &&
               System.nanoTime() < deadline) Thread.sleep(200)
        // this app's executors only: their cmdline carries our driver port
        val port = s.sparkContext.getConf.get("spark.driver.port")
        val pids = run("pgrep", "-f", "CoarseGrainedExecutorBackend").trim
          .split("\\s+").filter(pid => pid.nonEmpty &&
            Files.readString(Paths.get(s"/proc/$pid/cmdline"))
              .contains(s":$port"))
          .sortBy(_.toLong)
        require(pids.length == cpus,
          s"found ${pids.length} executor JVMs, expected $cpus")
        pids.zip(cores).foreach { case (pid, c) => taskset(Seq(c), pid) }
        taskset(drvCores, self)
        println(s"[scaling] pinned mode=executors k=$cpus execs=" +
          pids.mkString(",") + s" cores=${cores.mkString(",")}" +
          s" driver=$self@${drvCores.mkString(",")}")
      } else {
        pinSelf(cpus)
        println(s"[scaling] pinned mode=threads k=$cpus pid=$self" +
          s" cores=${levelCores(cpus).mkString(",")}")
      }

    // the commit measured; "-dirty" when tracked files differ from it
    val commit =
      try run("git", "rev-parse", "HEAD").trim + (
        if (run("git", "status", "--porcelain", "--untracked-files=no")
          .trim.nonEmpty) "-dirty" else "")
      catch { case _: Exception => "unknown" }
    val featDir = Files.createTempDirectory("graft_scaling_features")
    try {
      // phase 0: materialize features once (full parallelism, unmeasured;
      // always a plain local[32] session — spawning 32 executor JVMs for
      // an untimed one-shot ETL would be pure startup cost)
      val featPath = featDir.resolve("features").toString
      locally {
        val s = SparkSession.builder().master("local[32]")
          .config("spark.sql.shuffle.partitions", "32")
          .config("spark.ui.enabled", "false").getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        import s.implicits._
        val docs = s.range(0, CorpusGen.unitCount(p).toLong)
          .flatMap(u => CorpusGen.docsOfUnit(p, u.toInt)).toDF()
        Dig.features(s, Extract.entities(docs), cfg)
          .write.parquet(featPath)
        s.stop()
        println(s"[scaling] features materialized at $featPath")
      }

      val tileReps = scala.collection.mutable.Map[Int, Seq[Double]]()
      val calibReps = scala.collection.mutable.Map[Int, Seq[Double]]()
      var nTiles = 0L
      for (round <- 1 to rounds;
           cpus <- if (round % 2 == 0) levels.reverse else levels) {
        val spark = session(cpus)
        import spark.implicits._
        // the written table is ~260 small files that the scan bin-packs
        // into a handful of uneven partitions; repartition (unmeasured,
        // during cache fill) into a FIXED 32 even partitions — identical
        // input layout at every level
        val features = spark.read.parquet(featPath)
          .repartition(32)
          .as[graft.model.Feature].cache()
        features.count()
        // warmup (JIT/codegen) then timed reps
        graft.tile.Pyramid.tiles(spark, features, cfg, "tile", "mvt", 12,
          12).count()
        def gcMs: Long = {
          import scala.jdk.CollectionConverters._
          java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
            .asScala.map(_.getCollectionTime).sum
        }
        // process CPU (OS-level) separates "tasks burning cores" from
        // "tasks blocked" — task duration alone counts both the same
        def cpuNs: Long =
          java.lang.management.ManagementFactory.getOperatingSystemMXBean
            match {
              case os: com.sun.management.OperatingSystemMXBean =>
                os.getProcessCpuTime
              case _ => 0L
            }
        def load1: String =
          try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0)
          catch { case _: Throwable => "-1" }
        val stats = new StageStats(spark.sparkContext)
        val times = (1 to repsPerSample).map { _ =>
          stats.drain()
          stats.reset()
          val gc0 = gcMs
          val c0 = cpuNs
          val t0 = System.nanoTime()
          nTiles = graft.tile.Pyramid
            .tiles(spark, features, cfg, "tile", "mvt", 0, zMax).count()
          val w = (System.nanoTime() - t0) / 1e9
          stats.drain()
          // utilization = taskSec/(wall·cpus) separates "plan doesn't
          // parallelize" from "tasks got slower"; taskCpuSec is executor
          // CPU, which the driver's cpuSec misses in executors mode
          println(s"[scaling] cpus=$cpus wall=${num(w)} " +
            s"taskSec=${num(stats.taskMs / 1e3)} tasks=${stats.tasks} " +
            s"util=${num(stats.taskMs / 1e3 / (w * cpus))} " +
            s"gcSec=${num((gcMs - gc0) / 1e3)} " +
            s"cpuSec=${num((cpuNs - c0) / 1e9)} " +
            s"taskCpuSec=${num(stats.cpuNs / 1e9)} loadavg1=$load1")
          w
        }
        spark.stop()
        // the calibration runs on the level's cores (in executors mode the
        // driver leaves its own cores for it; the next session re-pins)
        pinSelf(cpus)
        val calib = calibrate(cpus)
        tileReps(cpus) = tileReps.getOrElse(cpus, Nil) ++ times
        calibReps(cpus) = calibReps.getOrElse(cpus, Nil) :+ calib
        println(s"[scaling] cpus=$cpus times=" +
          times.map(num).mkString(",") + s" calibSec=${num(calib)}")
      }
      val method =
        (if (mode == "executors")
          "local-cluster[k,1,mem]: k executor JVMs of 1 core each, each" +
            " pinned to its own core, driver pinned off-set"
        else "local[k]: one JVM pinned to k cores") +
          s"; one invocation, rounds=$rounds (alternate rounds reverse the" +
          " level order), a fresh session per sample, every warm rep" +
          " listed, efficiency from per-level sec_min, identical parquet" +
          " input"
      val json = record(tileReps.toMap, nTiles, calibReps.toMap, method,
        commit)
      Files.writeString(out, json)
      println(json)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(featDir.toFile)
  }
}
