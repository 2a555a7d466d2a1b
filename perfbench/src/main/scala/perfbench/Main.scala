package perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload. A run sets it up (inputs generated several
  * times, then one cold warm-up iteration), then repeats [[iterate]] for
  * the measured time, then checks the outputs. */
trait Workload {
  def name: String
  /** Names of the timed stages of one iteration, in order. */
  def parts: Seq[String]
  /** Build the inputs from the seed. */
  def generate(c: Ctx): Unit
  /** One iteration; returns the wall seconds of each stage. */
  def iterate(c: Ctx): Seq[Double]
  /** Traced runs only: extra calls that split a layer's time or reach
    * layers the iteration does not; returns their layer metrics. */
  def decompose(c: Ctx): Map[String, Double]
  def check(c: Ctx): Unit
  /** Per-layer metrics from the traced iterations' task totals. */
  def layers(c: Ctx, st: Map[String, TaskStats], iters: Int)
      : Map[String, Double]
}

/** One measured iteration: stage wall times, whether it was traced, and
  * what the JVM spent on it (heap live after it, old-generation peak,
  * collection, code generation and process CPU time). */
final case class Iteration(parts: Seq[Double], traced: Boolean,
                           heapLiveMb: Double, oldGenPeakMb: Double,
                           gcS: Double, codegenMs: Double, cpuS: Double)

/** Expected outputs kept beside the benchmark, one `key=value` a line. */
object Expected {
  def load(c: Ctx, workload: String): Option[Map[String, String]] = {
    val f = Paths.get(c.dataDir, "expected",
      s"$workload${if (c.tiny) "-tiny" else ""}.txt")
    val found = Files.exists(f)
    c.check(s"$workload.expected_file")(found)
    if (!found) None
    else Some(Files.readAllLines(f).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap)
  }
}

object Main {
  val workloads: Map[String, () => Workload] =
    Map("tile_hot" -> (() => new TileHot), "curate" -> (() => new Curate))

  /** End-to-end metric names, in BENCHMARK.json order. */
  val endToEnd = Seq("setup_s", "iter_s", "ok_frac")

  /** Median wall time of the traced spans called `name` (0 when the
    * workload never opens one). */
  def medianWall(c: Ctx, name: String): Double = {
    val xs = c.tracer.spans
      .filter(s => s.traced && s.name == name && s.req < 0).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def maxTask(s: TaskStats): Double =
    if (s.taskMs.isEmpty) 0.0 else s.taskMs.map(_._1).max / 1e3

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val wName = arg(args, "--workload").getOrElse("")
    val w = workloads.get(wName).map(_()).getOrElse {
      System.err.println(s"unknown workload '$wName'; expected one of " +
        workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val dir = arg(args, "--dir").get
    val dataDir = arg(args, "--data").get
    val out = arg(args, "--out").get
    val record = run(w, seed, seconds, trace, dir, dataDir, tiny = false,
      arg(args, "--commit").getOrElse("unknown"))
    Files.writeString(Paths.get(out), record)
  }

  /** One benchmark run; returns the full record as JSON. */
  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean,
          dir: String, dataDir: String, tiny: Boolean, commit: String)
      : String = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val shufflePartitions = 4 * nproc
    val advisory = "8m"
    // One iteration compiles more generated classes than Spark's default
    // cache of 100 holds, so every warm iteration would compile them all
    // again (2-4 s of Janino time, varying by a third between runs). With
    // room for all of them, warm iterations reuse what the warm-up
    // compiled; the cold compile stays in setup_s and jvm.codegen_ms.
    val codegenCache = "10000"
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", codegenCache)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, trace)
    val c = new Ctx(spark, tracer, dir, dataDir, seed, seconds, tiny)
    try measure(w, c, sessionS, Map(
      "commit" -> commit, "workload" -> w.name, "seed" -> seed,
      "seconds" -> seconds, "trace" -> trace, "tiny" -> tiny,
      "nproc" -> nproc, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> shufflePartitions,
      "aqe_advisory_partition_size" -> advisory,
      "codegen_cache_max_entries" -> codegenCache,
      "jvm_options" -> Jvm.options,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version))
    finally spark.stop()
  }

  private def measure(w: Workload, c: Ctx, sessionS: Double,
                      provenance: Map[String, Any]): String = {
    c.tracer.setTraced(false)
    val genS = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); w.generate(c)
      (System.nanoTime() - t0) / 1e9
    }
    val t1 = System.nanoTime()
    w.iterate(c)
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = sessionS + Stats.median(genS) + warmS
    c.tracer.reset()

    // measured iterations. A traced run measures untraced, traced,
    // untraced (so warming over the run cancels out of the tracing
    // overhead) and ignores --seconds.
    val load0 = (HostLoad.loadavg1, HostLoad.cpuTicks)
    val iters = mutable.ArrayBuffer.empty[Iteration]
    val tMeasure = System.nanoTime()
    def elapsed = (System.nanoTime() - tMeasure) / 1e9
    def once(traced: Boolean): Unit = {
      c.tracer.setTraced(traced)
      val (gc0, cg0) = (Jvm.gcSeconds, Jvm.codegenMs)
      val ((parts, cpu), peak, live) = Jvm.heapOf {
        val cpu0 = Jvm.cpuSeconds
        try (Some(w.iterate(c)), Jvm.cpuSeconds - cpu0)
        catch { case e: Throwable =>
          System.err.println(s"iteration failed: $e"); (None, 0.0) }
      }
      parts.foreach(p => iters += Iteration(p, traced, live, peak,
        Jvm.gcSeconds - gc0, Jvm.codegenMs - cg0, cpu))
    }
    val traceOn = c.tracer.enabled
    var stats = Map.empty[String, TaskStats]
    if (traceOn) {
      once(traced = false)
      c.tracer.reset()
      once(traced = true)
      stats = c.tracer.snapshot()
      once(traced = false)
    } else {
      var n = 0
      while (n == 0 || elapsed * (n + 1) / n <= c.seconds) {
        once(traced = false)
        n += 1
      }
    }
    val measuredS = elapsed
    val load1 = (HostLoad.loadavg1, HostLoad.cpuTicks)
    c.tracer.setTraced(traceOn)
    val extra = if (traceOn) w.decompose(c) else Map.empty[String, Double]
    val all = if (traceOn) c.tracer.snapshot() else stats
    w.check(c)

    require(iters.nonEmpty, "no iteration completed")
    val timed = iters.filter(_.traced == traceOn).toSeq
    val iterMed = Stats.median(timed.map(_.parts.sum))
    val e2e = Seq(
      "setup_s" -> setupS,
      "iter_s" -> iterMed,
      "ok_frac" -> (1.0 - c.failed.toDouble / math.max(c.attempted, 1L)))

    val perLayer: Map[String, Double] = if (!traceOn) Map.empty else {
      val untraced = iters.filterNot(_.traced).map(_.parts.sum)
      val attributed = stats.filter(_._1 != SpanListener.Unattributed)
        .values.map(_.runMs).sum
      val total = stats.values.map(_.runMs).sum
      Layers.zeros ++ w.layers(c, all, timed.size) ++ extra ++ Map(
        "jvm.gc_s" -> Jvm.gcSeconds,
        "jvm.codegen_ms" -> Jvm.codegenMs,
        "jvm.heap_live_mb" -> Stats.median(timed.map(_.heapLiveMb)),
        "jvm.old_gen_peak_mb" -> Stats.median(timed.map(_.oldGenPeakMb)),
        "trace.attributed_frac" ->
          (if (total > 0) attributed.toDouble / total else 0.0),
        "trace.overhead_frac" -> (if (untraced.isEmpty) 0.0
          else iterMed / Stats.median(untraced.toSeq) - 1.0))
    }

    val metrics =
      if (traceOn) perLayer.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Layers.unit(k)) }
      else e2e.map { case (k, v) => k -> Map("value" -> v,
        "unit" -> (if (k == "ok_frac") "ratio" else "s")) }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (c.failed == 0),
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))
    val full = mutable.LinkedHashMap[String, Any](
      "result" -> result,
      "provenance" -> (provenance ++ Map(
        "loadavg1_start" -> load0._1, "loadavg1_end" -> load1._1,
        "steal_share" -> HostLoad.stealShare(load0._2, load1._2))),
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS,
        "warmup_s" -> (setupS - sessionS - Stats.median(genS))),
      "measured_s" -> measuredS,
      "parts" -> w.parts,
      "iterations" -> iters.map(i => Map("parts_s" -> i.parts,
        "traced" -> i.traced, "heap_live_mb" -> i.heapLiveMb,
        "old_gen_peak_mb" -> i.oldGenPeakMb, "gc_s" -> i.gcS,
        "codegen_ms" -> i.codegenMs, "cpu_s" -> i.cpuS)),
      "end_to_end" -> mutable.LinkedHashMap(e2e: _*),
      "per_layer" -> perLayer,
      "failures" -> c.failures,
      "notes" -> c.notes,
      "spans" -> c.tracer.spans.map(s => Map("name" -> s.name,
        "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Json(full)
  }
}
