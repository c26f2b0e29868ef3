package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes the result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --nproc <n> --work <dir> --result <file> --trace-out <file>
  * }}}
  *
  * Order of a run:
  *  1. generate the seeded inputs (untimed, own session);
  *  2. set up [[SetupReps]] times: new session with the engine's SQL
  *     extensions, open the client, one cold pass; `setup_s` is the median;
  *  3. the client's untimed warm-up passes;
  *  4. the timed closed loop, untraced, for `--seconds` (at least
  *     [[MinPasses]] passes);
  *  5. with `--trace 1`: the same passes again under a [[Tracer]], then
  *     the workload's layer probes; the spans go to `--trace-out`;
  *  6. the output checks.
  */
object Main {
  val SetupReps = 3
  val MinPasses = 3

  /** End-to-end metrics of the untraced run, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "elems_per_s" -> "elems/s", "op_ms_p50" -> "ms")

  /** Per-layer metrics of the traced run, with units. A layer a workload
    * does not use reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.bytes_read" -> "bytes",
    "sources.write_s" -> "s", "sources.bytes_written" -> "bytes",
    "sources.readback_s" -> "s",
    "nested.pack_s" -> "s", "nested.pack_shuffle_bytes" -> "bytes",
    "nested.cell_eval_s" -> "s", "nested.build_ms" -> "ms") ++
    Seq("operators.quality_s" -> "s", "operators.signature_s" -> "s",
      "operators.dedup_s" -> "s", "operators.lsh_candidates" -> "count",
      "operators.candidate_yield" -> "ratio",
      "spark.plan_ms" -> "ms", "spark.jobs" -> "count",
      "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
      "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.peak_exec_mem_mb" -> "MB", "spark.driver_idle_s" -> "s",
      "spark.exchanges" -> "count", "trace_overhead_s" -> "s")

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def say(line: String): Unit = { println(s"[perfbench] $line"); Console.flush() }

  /** Runs passes `0, 1, ...` through `client`, each timed from its first
    * library call to its materialized result, until `budget` seconds have
    * passed (and at least `minPasses` ran) or `count` passes ran. Returns
    * the latencies and the passes that threw. */
  private def loop(client: Client, sp: Spans, budget: Double, minPasses: Int,
                   count: Option[Int], before: Int => Unit = _ => ())
      : (Seq[Double], Seq[Int]) = {
    val lat = ArrayBuffer.empty[Double]
    val threw = ArrayBuffer.empty[Int]
    val start = System.nanoTime()
    var i = 0
    def more = count match {
      case Some(n) => i < n
      case None => i < minPasses || seconds(start) < budget ||
        i % client.cycle != 0
    }
    while (more) {
      before(i)
      val t0 = System.nanoTime()
      try sp.span("pass")(client.pass(i, sp))
      catch { case e: Exception =>
        threw += i
        System.err.println(s"[perfbench] pass $i failed: $e")
      }
      lat += seconds(t0)
      client.between()
      i += 1
    }
    (lat.toSeq, threw.toSeq)
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val wl = Workload.all.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val nproc = opt("nproc").toInt
    val work = opt("work")

    var spark = session(nproc, work)
    val tGen = System.nanoTime()
    val inputs = wl.generate(spark, s"$work/in", seed, 4 * nproc)
    say(f"${wl.name} seed=$seed inputs generated in ${seconds(tGen)}%.2f s " +
      s"(${4 * nproc} files per table)")
    spark.stop()

    val setups = ArrayBuffer.empty[Double]
    var client: Client = null
    (1 to SetupReps).foreach { k =>
      if (k > 1) spark.stop()
      val t0 = System.nanoTime()
      spark = session(nproc, work)
      val opened = { client = wl.open(spark, inputs, s"$work/out"); seconds(t0) }
      client.cold()
      setups += seconds(t0)
      System.err.println(f"[perfbench] set-up $k: session and open " +
        f"$opened%.2f s, through the cold pass ${setups.last}%.2f s")
    }

    say(f"set up ${setups.length} times in ${setups.sum}%.2f s")
    val tWarm = System.nanoTime()
    val (_, warmThrew) = loop(client, NoTrace, 0, 0, Some(client.warmPasses))
    say(f"warm-up: ${client.warmPasses} passes in ${seconds(tWarm)}%.2f s")
    val tLoop = System.nanoTime()
    val (lat, threw) = loop(client, NoTrace, budget, MinPasses, None)
    say(f"timed loop: ${lat.length} passes in ${seconds(tLoop)}%.2f s")
    System.err.println("[perfbench] pass latencies (ms): " +
      lat.zipWithIndex.map { case (x, i) => f"${client.kind(i)}:${x * 1e3}%.0f" }
        .mkString(" "))
    val n = lat.length
    val elemsPerS = inputs.elems / Stats.median(lat)

    val (layerMetrics, tracedThrew): (Map[String, Double], Int) =
      if (!traced) (Map.empty, 0)
      else {
        val tr = new Tracer(spark)
        tr.drain()
        val (plan0, exch0, scan0) = tr.planTotals
        val (tLat, tThrew) = loop(client, tr, budget, MinPasses, Some(n),
          before = j => tr.run = j)
        tr.drain()
        val (plan1, exch1, scan1) = tr.planTotals
        val passes = tr.allSpans.filter(_.name == "pass").sortBy(_.run)
        tr.run = -1
        val own = client.layers(tr, passes, lat)
        tr.drain()
        val c = tr.total(k => !k.startsWith("probe.") && k != Tracer.Untagged)
        val spark_ = c.toMap.collect {
          case ("bytes_written", _) => None
          case ("peak_exec_mem_mb", v) => Some("spark.peak_exec_mem_mb" -> v)
          case (k, v) => Some(s"spark.$k" -> v / n)
        }.flatten.toMap
        val out = spark_ ++ own ++ Map(
          "spark.plan_ms" -> (plan1 - plan0).toDouble / n,
          "spark.exchanges" -> (exch1 - exch0).toDouble / n,
          "sources.bytes_read" -> (scan1 - scan0).toDouble / n,
          "spark.driver_idle_s" -> Stats.median(passes.map(tr.idleSeconds)),
          "trace_overhead_s" -> (tLat.sum - lat.sum))
        tr.dump(java.nio.file.Paths.get(opt("trace-out")), Map(
          "workload" -> wl.name, "seed" -> seed, "passes" -> n,
          "failed_passes" -> tThrew.length,
          "metrics" -> PerLayer.map { case (k, _) =>
            k -> out.getOrElse(k, 0.0) }.toMap))
        say(s"spans and layer counters written to ${opt("trace-out")}")
        (out, tThrew.length)
      }

    val tCheck = System.nanoTime()
    val checked = client.check()
    say(f"output checks in ${seconds(tCheck)}%.2f s")
    checked.problems.foreach(p => say(s"CHECK FAILED $p"))
    val figures = client.figures(lat)
    val thrown = warmThrew.length + threw.length + tracedThrew
    val attempted = checked.attempted + thrown
    val failed = checked.failed + thrown
    spark.stop()

    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "elems_per_s" -> elemsPerS,
      "op_ms_p50" -> 1e3 * Stats.median(lat))
    val counts = Map("setup_s" -> setups.length, "elems_per_s" -> n,
      "op_ms_p50" -> n)
    say(s"${wl.name} seed=$seed passes=$n trace=${if (traced) 1 else 0}")
    EndToEnd.foreach { case (k, u) =>
      say(f"  $k%-28s ${endToEnd(k)}%14.6g $u%-8s n=${counts(k)}") }
    figures.foreach(f =>
      say(f"  ${f.name}%-28s ${f.value}%14.6g ${f.unit}%-8s n=${f.n}"))
    say(f"  ${"failed_ratio"}%-28s ${failed.toDouble / attempted}%14.6g " +
      f"${"ratio"}%-8s n=$attempted")
    if (traced) PerLayer.foreach { case (k, u) =>
      say(f"  $k%-28s ${layerMetrics.getOrElse(k, 0.0)}%14.6g $u%-8s") }
    // workload-specific layer figures, such as per-kind operation latency
    (layerMetrics.keySet -- PerLayer.map(_._1)).toSeq.sorted.foreach { k =>
      say(f"  $k%-28s ${layerMetrics(k)}%14.6g") }

    val metrics =
      if (traced) PerLayer.map { case (k, u) =>
        k -> Map("value" -> layerMetrics.getOrElse(k, 0.0), "unit" -> u) }
      else EndToEnd.map { case (k, u) =>
        k -> Map("value" -> endToEnd(k), "unit" -> u) }
    val line = Json.obj(Seq("correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("result")),
      line + "\n")
  }
}
