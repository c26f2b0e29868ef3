package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Wraps each call into the engine. The untraced run uses [[NoTrace]], which
  * only runs the body; the traced run uses a [[Tracer]]. */
trait Spans {
  def span[A](name: String)(body: => A): A
}

object NoTrace extends Spans {
  def span[A](name: String)(body: => A): A = body
}

/** One timed interval around a library call. `parent` is the enclosing
  * span's id (-1 at the top); `run` numbers the pass the span belongs to. */
final case class Span(id: Int, parent: Int, run: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one layer tag. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var peakMem, bytesWritten = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
    bytesWritten += o.bytesWritten
  }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_cpu_s" -> cpuNs / 1e9,
    "task_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble,
    "spill_bytes" -> spill.toDouble, "peak_exec_mem_mb" -> peakMem / 1048576.0,
    "bytes_written" -> bytesWritten.toDouble)
}

/** Records spans from the benchmark side of each library call and
  * attributes Spark's task metrics to them.
  *
  * Before a call runs, its span name goes into the job group's local
  * property [[Tracer.LayerKey]] and the job description, so jobs the call
  * launches eagerly (checkpoints, driver-side union-find) are counted on
  * the layer that launched them. Spans stay in memory until [[dump]]. */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var started = 0
  var run = 0

  private val byLayer = new ConcurrentHashMap[String, Counters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private var planMs = 0L
  private var exchanges = 0L
  private var scanBytes = 0L
  // span clocks are nanoTime; job events carry epoch milliseconds
  private val epochMs0 = System.currentTimeMillis()
  private val nanos0 = System.nanoTime()

  private def counters(layer: String): Counters =
    byLayer.computeIfAbsent(layer, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = Option(e.properties).flatMap(p =>
        Option(p.getProperty(LayerKey))).getOrElse(Untagged)
      e.stageIds.foreach(stageLayer.put(_, layer))
      jobStartMs.put(e.jobId, e.time)
      val c = counters(layer)
      c.synchronized { c.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartMs.remove(e.jobId)).foreach { t0 =>
        jobIntervals.synchronized { jobIntervals += ((t0.longValue, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageLayer.getOrDefault(e.stageInfo.stageId, Untagged))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val c = counters(stageLayer.getOrDefault(e.stageId, Untagged))
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
      val nodes = finalNodes(qe.executedPlan)
      exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      scanBytes += nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  def span[A](name: String)(body: => A): A = {
    val id = started
    started += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevLayer = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, name)
    sc.setJobDescription(name)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans.synchronized { spans += Span(id, parent, run, name, t0, t1) }
      sc.setLocalProperty(LayerKey, prevLayer)
      sc.setJobDescription(prevLayer)
    }
  }

  /** Blocks until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  def layer(name: String): Counters = {
    val c = counters(name); c.synchronized { val o = new Counters; o += c; o }
  }

  /** Summed counters of every layer whose tag satisfies `keep`. */
  def total(keep: String => Boolean): Counters = {
    val out = new Counters
    byLayer.asScala.foreach { case (k, c) => if (keep(k)) c.synchronized(out += c) }
    out
  }

  /** (planning ms, final-plan shuffle exchanges, bytes of the files the
    * scans selected) over every query seen so far. */
  def planTotals: (Long, Long, Long) =
    planListener.synchronized((planMs, exchanges, scanBytes))

  /** Seconds of `s` not covered by the union of Spark job intervals. */
  def idleSeconds(s: Span): Double = {
    val lo = epochMs0 + (s.startNs - nanos0) / 1000000L
    val hi = epochMs0 + (s.endNs - nanos0) / 1000000L
    val inside = jobIntervals.synchronized(jobIntervals.toSeq)
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var reach = lo
    inside.foreach { case (a, b) =>
      if (b > reach) { busy += b - math.max(a, reach); reach = b }
    }
    math.max(0.0, s.seconds - busy / 1e3)
  }

  /** Self time of each span: its duration minus the part of its interval
    * covered by its child spans. */
  def selfSeconds: Map[Int, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        .sortBy(_._1)
      var covered = 0L
      var reach = s.startNs
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Writes every span and per-layer counter as one JSON document. */
  def dump(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    val self = selfSeconds
    val spanJson = allSpans.map { s =>
      Json.obj(Map("id" -> s.id, "parent" -> s.parent, "run" -> s.run,
        "name" -> s.name, "start_s" -> (s.startNs - nanos0) / 1e9,
        "end_s" -> (s.endNs - nanos0) / 1e9, "self_s" -> self(s.id)))
    }
    val layers = byLayer.asScala.toSeq.sortBy(_._1).map { case (k, c) =>
      k -> Json.Raw(Json.obj(c.synchronized(c.toMap)))
    }
    val doc = Json.obj(header.toSeq ++ Seq(
      "spans" -> Json.Raw(spanJson.mkString("[", ",\n", "]")),
      "layers" -> Json.Raw(Json.obj(layers))))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, doc)
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val Untagged = "untagged"

  /** The nodes of a physical plan as it finally ran: looks through adaptive
    * execution to its final plan and into query stages. A reused exchange
    * is a leaf, so its subtree is not listed twice. */
  def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case s: QueryStageExec => finalNodes(s.plan)
    case other =>
      val inner = other.innerChildren.collect { case c: SparkPlan => c }
      other +: (other.children ++ inner).flatMap(finalNodes)
  }
}
