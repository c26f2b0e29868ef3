package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a registry query's time goes, one JSON line per query:
  * `runMain graft.tools.Profile <queryCsv|ALL> [sfDir] [reps]`
  * (sfDir defaults to `SPARK_GRAFT_SF_DIR`, reps to 3). Queries run in
  * name order; an unknown name fails before any query runs.
  *
  * A query is timed by [[sample]], which `graft.Bench` uses too: one cold
  * sample, then `reps` warm ones. The last warm sample is the profiled one,
  * and its final plan, formatted, goes to `target/profile/<query>.txt`. */
object Profile extends AdaptiveSparkPlanHelper {
  final case class Record(query: String, coldS: Double, repsS: Seq[Double],
                          jobs: Int, stages: Int, busyS: Double,
                          idleS: Double, shuffles: Int, broadcasts: Int,
                          reusedExchanges: Int, plan: String) {
    def json: String =
      s"""{"query":"$query","cold_s":$coldS,"reps_s":${repsS.mkString("[", ",", "]")},""" +
        s""""jobs":$jobs,"stages":$stages,"busy_s":$busyS,"idle_s":$idleS,""" +
        s""""shuffles":$shuffles,"broadcasts":$broadcasts,""" +
        s""""reused_exchanges":$reusedExchanges,"plan":"$plan"}"""
  }

  /** One timed write of a query, see [[sample]]. */
  final case class Sample(wallS: Double, jobs: Int, stages: Int,
                          busyS: Double, idleS: Double, shuffles: Int,
                          broadcasts: Int, reusedExchanges: Int) {
    def json: String =
      s"""{"wall_s":$wallS,"jobs":$jobs,"stages":$stages,"busy_s":$busyS,""" +
        s""""idle_s":$idleS,"shuffles":$shuffles,"broadcasts":$broadcasts,""" +
        s""""reused_exchanges":$reusedExchanges}"""
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <queryCsv|ALL> [sfDir] [reps]"
    val specs =
      if (args.headOption.contains("ALL")) graft.SparkEntry.specs
      else graft.SparkEntry.named(
        args.headOption.getOrElse(sys.error(usage)).split(",").toSeq: _*)
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(usage))
    val reps = args.lift(2).fold(3)(_.toInt)
    val spark = graft.GraftSession.create()
    specs.foreach(q => println(run(spark, q.name, sfDir, reps).json))
    spark.stop()
  }

  def run(spark: SparkSession, name: String, sfDir: String, reps: Int): Record = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val query = graft.SparkEntry.named(name).head.build
    val samples = Seq.fill(reps + 1)(sample(spark)(query(spark, sfDir)))
    val (last, write) = samples.last
    val planFile = Paths.get("target", "profile", s"$name.txt")
    Files.createDirectories(planFile.getParent)
    Files.writeString(planFile, write.explainString(FormattedMode))
    Record(name, samples.head._1.wallS, samples.tail.map(_._1.wallS), last.jobs,
      last.stages, last.busyS, last.idleS, last.shuffles, last.broadcasts,
      last.reusedExchanges, planFile.toString)
  }

  /** Builds a query and writes every output column to the `noop` sink, so
    * nothing is pruned to a key scan. Returns the write's execution and:
    *  - the wall, build included, so eager work (checkpoints, driver-side
    *    collects) counts;
    *  - the jobs run meanwhile and the stages they ran (skipped stages not
    *    counted);
    *  - busy = the union of those job intervals (overlapping jobs counted
    *    once), idle = the rest of the wall, i.e. driver-side analysis,
    *    planning and barriers between jobs;
    *  - shuffle, broadcast and reused exchanges, counted as nodes of the
    *    write's final adaptive plan (subqueries included).
    * The listeners live for this one call, so a build or write that throws
    * leaves nothing behind for the next sample. */
  def sample(spark: SparkSession)(build: => DataFrame): (Sample, QueryExecution) = {
    val events = new Events(spark)
    try {
      // marker job ids bound this sample's job ids (a watermark); walls and
      // job intervals share one clock, as listener events carry epoch ms
      val lo = events.drain()
      val t0 = System.currentTimeMillis()
      build.write.format("noop").mode("overwrite").save()
      val t1 = System.currentTimeMillis()
      val hi = events.drain()
      val jobs = events.jobs.asScala.collect {
        case (id, job) if id > lo && id < hi => job }.toSeq
      val stages = jobs.flatMap(_.stageIds).toSet
        .count(id => events.doneStages.contains(id))
      val busy = union(jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1))))
      val qe = events.lastWrite
      val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
      (Sample((t1 - t0) / 1e3, jobs.size, stages, busy / 1e3,
        (t1 - t0 - busy) / 1e3,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
        nodes.count(_.isInstanceOf[ReusedExchangeExec])), qe)
    } finally events.close()
  }

  /** Length covered by the intervals, overlaps counted once. */
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
      }._1

  private val MarkerKey = "graft.profile.marker"

  /** A job's start and end (epoch ms) and the stages it planned. */
  private final case class Job(start: Long, end: Long, stageIds: Seq[Int])

  /** Job intervals, stages and the last write's execution, from the
    * listener bus, for one sample. Both listeners sit on its shared queue,
    * so once a marker job's end arrives every earlier event has been
    * handled. */
  private final class Events(spark: SparkSession) {
    private val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, Job]()
    val doneStages: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
    @volatile var lastWrite: QueryExecution = _
    private val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    private val markers = ConcurrentHashMap.newKeySet[Int]()
    private val drained = new LinkedBlockingQueue[Integer]()

    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) != null))
          markers.add(e.jobId)
        else starts.put(e.jobId, e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markers.remove(e.jobId)) drained.put(e.jobId)
        else Option(starts.remove(e.jobId))
          .foreach(s => jobs.put(e.jobId, Job(s.time, e.time, s.stageIds)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        doneStages.add(e.stageInfo.stageId)
    }
    private val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastWrite = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)

    /** Runs a marker job, waits for the bus to deliver its end, and
      * returns its job id. */
    def drain(): Int = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      Option(drained.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error("listener bus not drained after 60 s")).intValue
    }

    def close(): Unit = {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}
