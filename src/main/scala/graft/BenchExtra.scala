package graft

import java.util.Locale

import org.apache.spark.sql.execution.ExplainMode

/** Auxiliary measurement main for the optimization rounds (guide §1.4) —
  * NOT part of the frozen driver contract ([[Bench]] is; this main adds
  * evidence the harness cannot: per-query formatted plans and noop-sink
  * isolated timings that exclude both the parquet write and the
  * `.count()` column-pruning shortcut).
  *
  * Usage:
  *   runMain graft.BenchExtra plans <outDir> [name ...]
  *     — write `.explain("formatted")` of each declared query (default:
  *       all) to `<outDir>/<name>.txt`.
  *   runMain graft.BenchExtra time <reps> [name ...]
  *     — run each query through the noop sink `reps` times and print one
  *       JSON line with per-rep seconds.
  *   runMain graft.BenchExtra stages <name>
  *     — run one query twice (the first warms JIT and codegen) and print
  *       the warm run's stages by task time.
  *   runMain graft.BenchExtra dig
  *     — dig the bench corpus twice and print the warm run's stages.
  *
  * Same session as [[Bench]] (`Bench.session`) so plans and timings match
  * the gate record's environment.
  */
object BenchExtra {

  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val mode = if (args.nonEmpty) args(0) else "plans"
    mode match {
      case "plans" =>
        val outDir = args(1)
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          SparkEntry.queries.get(name) match {
            case Some(fn) =>
              spark.sparkContext.setJobDescription(s"plan: $name")
              val txt =
                try fn(spark, sfDir).queryExecution
                  .explainString(ExplainMode.fromString("formatted"))
                catch { case e: Throwable =>
                  s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}" }
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
              println(s"wrote $outDir/$name.txt")
            case None => println(s"SKIP unknown query $name")
          }
        }
      case "time" =>
        val reps = args(1).toInt
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        val out = new StringBuilder("{")
        names.foreach { name =>
          SparkEntry.queries.get(name).foreach { fn =>
            val times = (1 to reps).map { i =>
              spark.sparkContext.setJobDescription(s"$name rep$i")
              val t0 = System.nanoTime()
              try {
                // noop sink: computes every column of every row, no
                // count() pruning, no output cost (guide §1.4)
                fn(spark, sfDir).write.format("noop")
                  .mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              } catch { case e: Throwable =>
                System.err.println(s"$name FAILED: ${e.getClass.getName}")
                -1.0
              }
            }
            val entry = "\"" + name + "\":[" +
              times.map(num).mkString(",") + "]"
            println(entry)
            if (out.length > 1) out.append(",")
            out.append(entry)
          }
        }
        out.append("}")
        println("NOOP_TIMES " + out.result())
      case "stages" =>
        val name = args(1)
        val fn = SparkEntry.queries(name)
        val stats = new StageStats(spark.sparkContext)
        coldThenWarm(name, stats)(fn(spark, sfDir).count())
        printStages(stats, 25)
      case "dig" =>
        import spark.implicits._
        val cfg = graft.core.EngineCfg.default
        val p = graft.ingest.CorpusGen.bench
        val docs = spark.range(0,
          graft.ingest.CorpusGen.unitCount(p).toLong)
          .flatMap(u => graft.ingest.CorpusGen.docsOfUnit(p, u.toInt))
          .toDF().cache()
        docs.count()
        val entities = graft.extract.Extract.entities(docs).cache()
        entities.count()
        val stats = new StageStats(spark.sparkContext)
        coldThenWarm("dig", stats)(
          graft.dig.Dig.features(spark, entities, cfg).count())
        printStages(stats, Int.MaxValue)
      case other =>
        System.err.println(s"unknown mode $other (plans|time|stages|dig)")
    }
    spark.stop()
  }

  /** Run `f` cold (JIT and codegen), then warm with `stats` reset, and
    * print both wall times. */
  private def coldThenWarm(label: String, stats: StageStats)(f: => Any): Unit = {
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    f
    val cold = secs(c0)
    stats.drain()
    stats.reset()
    val w0 = System.nanoTime()
    f
    val warm = secs(w0)
    stats.drain()
    println(f"$label cold=$cold%.2f s warm=$warm%.2f s; warm stages:")
  }

  /** The stage table of `stats`, heaviest task time first. */
  private def printStages(stats: StageStats, limit: Int): Unit = {
    println(f"  ${"stage"}%5s ${"name"}%-60s ${"tasks"}%5s ${"wall s"}%7s" +
      f" ${"task s"}%7s ${"max s"}%7s ${"cpu s"}%7s")
    stats.snapshot.sortBy(-_.taskMs).take(limit).foreach { s =>
      println(f"  ${s.id}%5d ${s.name}%-60s ${s.tasks}%5d ${s.wallMs / 1e3}%7.2f" +
        f" ${s.taskMs / 1e3}%7.2f ${s.maxTaskMs / 1e3}%7.2f ${s.cpuNs / 1e9}%7.2f")
    }
  }
}
