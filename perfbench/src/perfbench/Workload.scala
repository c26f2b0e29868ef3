package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark workload: its seeded inputs and the closed-loop client
  * that drives the engine over them. */
trait Workload {
  def name: String

  /** Writes the inputs for `seed` under `dir`, as `files` files per table. */
  def generate(spark: SparkSession, dir: String, seed: Long,
               files: Int): Inputs

  /** A client over `in`, bound to a fresh session. Outputs it writes go
    * under `outDir`. */
  def open(spark: SparkSession, in: Inputs, outDir: String): Client
}

/** Generated inputs: where they are, their seed, and the input elements one
  * pass processes (observations, table elements or documents). `corpus`
  * holds the planted ids of a generated corpus; only the checks read it. */
final case class Inputs(dir: String, seed: Long, elems: Long,
                        corpus: Option[Gen.Corpus] = None)

/** Result of the output checks: how many results were checked, how many
  * were wrong, and a line per problem. */
final case class Checked(attempted: Int, failed: Int, problems: Seq[String])

/** An extra end-to-end figure printed in the report (not in the result
  * line): value, unit and the number of samples behind it. */
final case class Figure(name: String, value: Double, unit: String, n: Int)

/** A single user issuing one call at a time and waiting for its result. */
trait Client {
  /** The untimed cold pass that ends each set-up. */
  def cold(): Unit

  /** Untimed passes between set-up and the timed loop. The JIT is still
    * speeding passes up after set-up's three cold passes; without these the
    * first timed passes are up to half again slower than the rest. */
  def warmPasses: Int = 3

  /** Pass `i` of the closed loop: library calls through to a materialized
    * result. Outputs are recorded for [[check]]; nothing is checked here. */
  def pass(i: Int, sp: Spans): Unit

  /** Housekeeping after each pass, outside the timed region. */
  def between(): Unit = ()

  /** Checks every recorded output. Runs after all timing. */
  def check(): Checked

  /** Workload-specific end-to-end figures for the report. */
  def figures(latencies: Seq[Double]): Seq[Figure] = Nil

  /** Per-layer metrics from a traced loop. `passes` holds the span of each
    * traced pass (pass j ran operation j), `untraced` the untraced
    * latencies. Probes run here may add spans of their own. */
  def layers(tr: Tracer, passes: Seq[Span], untraced: Seq[Double])
      : Map[String, Double]

  /** The timed loop ends only after a whole number of this many passes, so
    * every run samples the same mix of operations. */
  def cycle: Int = 1

  /** Operation kind of pass `i`, for per-kind latency. */
  def kind(i: Int): String = "pass"
}

object Workload {
  val all: Seq[Workload] = Seq(Lightcurve, Notebook, Curate)

  /** Median seconds of `reps` runs of `body`, each inside span `name`. */
  def probe(tr: Tracer, name: String, reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      tr.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    })

  /** Median over traced passes of the summed duration of the spans
    * (directly or deeper inside each pass) whose name satisfies `keep`. */
  def spanMedian(tr: Tracer, passes: Seq[Span], keep: String => Boolean)
      : Double = {
    val all = tr.allSpans
    Stats.median(passes.map { p =>
      all.filter(s => s.run == p.run && s.id != p.id && keep(s.name) &&
        s.startNs >= p.startNs && s.endNs <= p.endNs).map(_.seconds).sum
    })
  }

  /** Casts `df`'s columns to the types of the same-named columns of
    * `like`, so a reference formulation hashes like the engine's result. */
  def alignTo(df: DataFrame, like: StructType): DataFrame =
    df.select(like.fieldNames.toSeq.map(n =>
      org.apache.spark.sql.functions.col(n).cast(like(n).dataType).as(n)): _*)

  /** Bytes of the parquet files under `dir`. */
  def parquetBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(_.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}
