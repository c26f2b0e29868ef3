package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.nested.{NestedExpr, NestedOps}
import graft.sources.NestedParquet

/** The paper's light-curve chain: read an object catalog and its flat
  * observations, pack the observations under each object, filter on a base
  * field and on nested fields, count observations per band, keep the
  * well-sampled objects and reduce their magnitudes.
  *
  * Nearly all the work is the pack shuffle and the per-cell evaluation;
  * planning is a small share. */
object Lightcurve extends Workload {
  val name = "lightcurve_batch"
  val Objects = 15000L
  val MeanObs = 100.0

  private val Used = Seq("object_id", "mjd", "band", "mag", "mag_err", "flag")
  private val Result = Seq("object_id", "n_lc_g", "n_lc_r", "n_lc_i",
    "mag_mean", "mag_min", "mag_max")

  def generate(spark: SparkSession, dir: String, seed: Long,
               files: Int): Inputs = {
    Gen.table(spark, s"$dir/objects", Gen.objectSchema, Objects, files)(k =>
      Iterator(Gen.lightCurve(seed, k, MeanObs)._1))
    Gen.table(spark, s"$dir/observations", Gen.observationSchema, Objects,
      files)(k => Gen.lightCurve(seed, k, MeanObs)._2.iterator)
    Inputs(dir, seed, spark.read.parquet(s"$dir/observations").count())
  }

  def open(spark: SparkSession, in: Inputs,
           outDir: String): Client = new Client {
    private val objPath = s"${in.dir}/objects"
    private val obsPath = s"${in.dir}/observations"
    private val outputs = ArrayBuffer.empty[Observation]

    private def read(sp: Spans): (DataFrame, DataFrame) = (
      sp.span("sources.readCompat")(NestedParquet.readCompat(spark, objPath)),
      sp.span("sources.readCompat")(
        NestedParquet.readCompat(spark, obsPath).select(Used.map(col): _*)))

    private def packed(sp: Spans): DataFrame = {
      val (objects, obs) = read(sp)
      sp.span("nested.joinNested")(
        NestedOps.joinNested(objects, obs, Seq("object_id"), "lc"))
    }

    private def chain(sp: Spans): DataFrame = {
      val lc = packed(sp)
      val north = sp.span("nested.query")(NestedExpr.query(lc, "dec > -30"))
      val good = sp.span("nested.query")(
        NestedExpr.query(north, "lc.mag_err < 0.5 and lc.flag == 0"))
      val counted = sp.span("nested.countNested")(
        NestedOps.countNested(good, "lc", Some("band"), Gen.Bands.toSeq))
      val sampled = sp.span("nested.query")(
        NestedExpr.query(counted, "n_lc_g >= 3 and n_lc_r >= 3"))
      sp.span("nested.reduce")(sampled.select(col("object_id"),
        col("n_lc_g"), col("n_lc_r"), col("n_lc_i"),
        NestedOps.elementMean("lc", "mag").as("mag_mean"),
        NestedOps.elementMin("lc", "mag").as("mag_min"),
        NestedOps.elementMax("lc", "mag").as("mag_max")))
    }

    private def run(sp: Spans): Observation = {
      val (out, obs) = Fingerprint.observe(chain(sp), Fingerprint.Spec(Result))
      sp.span("materialize")(Fingerprint.noop(out))
      obs
    }

    def cold(): Unit = run(NoTrace)

    def pass(i: Int, sp: Spans): Unit = outputs += run(sp)

    /** The same result from the flat tables with plain Spark. */
    private def reference(): Fingerprint = {
      val agg = spark.read.parquet(obsPath)
        .where(col("mag_err") < 0.5 && col("flag") === 0)
        .groupBy("object_id").agg(
          count_if(col("band") === "g").as("n_lc_g"),
          count_if(col("band") === "r").as("n_lc_r"),
          count_if(col("band") === "i").as("n_lc_i"),
          avg("mag").as("mag_mean"), min("mag").as("mag_min"),
          max("mag").as("mag_max"))
      val res = spark.read.parquet(objPath).where(col("dec") > -30)
        .join(agg, "object_id")
        .where(col("n_lc_g") >= 3 && col("n_lc_r") >= 3)
      Fingerprint.flat(Workload.alignTo(res, chain(NoTrace).schema), Result,
        None)
    }

    def check(): Checked = {
      val want = reference()
      val bad = outputs.map(Fingerprint.of).zipWithIndex.collect {
        case (fp, i) if fp != want => s"pass $i: $fp, flat reference $want" }
      Checked(outputs.length, bad.length, bad.toSeq)
    }

    def layers(tr: Tracer, passes: Seq[Span], untraced: Seq[Double])
        : Map[String, Double] = {
      val reps = 3
      val scan = Workload.probe(tr, "probe.scan", reps) {
        val (objects, obs) = read(NoTrace)
        Fingerprint.noop(objects); Fingerprint.noop(obs)
      }
      val pack = Workload.probe(tr, "probe.pack", reps)(
        Fingerprint.noop(packed(NoTrace)))
      tr.drain()
      Map(
        "sources.scan_s" -> scan,
        "nested.pack_s" -> (pack - scan),
        "nested.pack_shuffle_bytes" ->
          tr.layer("probe.pack").shuffleWrite / reps.toDouble,
        "nested.cell_eval_s" -> (Stats.median(untraced) - pack),
        "nested.build_ms" -> 1e3 * Workload.spanMedian(tr, passes,
          _ != "materialize"))
    }
  }
}
