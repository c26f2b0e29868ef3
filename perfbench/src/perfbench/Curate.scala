package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.nested.NestedOps
import graft.operators.Dedup
import graft.sources.NestedParquet
import Fingerprint.Spec

/** The curation write path: gate a document corpus on quality, remove
  * near-duplicates, pack the kept documents per source into a nested
  * column, write it in the struct-of-list encoding and read it back with
  * partial nested leaves. The dedup operator and the write dominate; the
  * pack is small. */
object Curate extends Workload {
  val name = "curate_ingest"
  val Docs = 3000
  val Sources = 200

  private val Text = col("text")
  private val Written = Spec(Seq("source", "source_name"), Some("docs"),
    Seq("doc_id", "quality"), key = "source")

  def generate(spark: SparkSession, dir: String, seed: Long,
               files: Int): Inputs = {
    val c = Gen.corpus(seed, Docs, Sources)
    spark.createDataFrame(spark.sparkContext.parallelize(c.docs, files),
      Gen.docSchema).write.parquet(s"$dir/docs")
    Inputs(dir, seed, c.docs.length, Some(c))
  }

  def open(spark: SparkSession, in: Inputs,
           outDir: String): Client = new Client {
    private val docsPath = s"${in.dir}/docs"
    // the planted ids are known to the benchmark, never to the engine
    private val corpus = in.corpus.get
    private val nDocs = in.elems
    private var written = 0
    /** (output path, observed as written, observed as read back) */
    private val outputs = ArrayBuffer.empty[(String, Observation, Observation)]

    private def gated(sp: Spans): DataFrame = {
      val docs = sp.span("sources.readCompat")(
        NestedParquet.readCompat(spark, docsPath))
      sp.span("operators.quality")(docs.where(
        TextFunctions.tokenCount(Text) >= 20 &&
          TextFunctions.qualityScore(Text) >= 0.5))
    }

    private def run(sp: Spans): (String, Observation, Observation) = {
      val good = gated(sp)
      val kept = sp.span("operators.dedup")(
        Dedup.dedupNear(good, "doc_id", "text"))
      val packed = sp.span("nested.fromFlat")(NestedOps.fromFlat(
        kept.withColumn("n_tokens", TextFunctions.tokenCount(Text))
          .withColumn("quality", TextFunctions.qualityScore(Text)),
        Seq("source_name"), Seq("doc_id", "n_tokens", "quality", "text"),
        Seq("source"), "docs"))
      val (toWrite, wObs) = Fingerprint.observe(packed, Written)
      val path = s"$outDir/ingest-$written"
      written += 1
      sp.span("sources.writeStructOfList")(
        NestedParquet.writeStructOfList(toWrite, path))
      val rObs = sp.span("sources.readback") {
        val back = NestedParquet.selectColumns(
          NestedParquet.readCompat(spark, path),
          Seq("source", "source_name", "docs.doc_id", "docs.quality"))
        val (out, obs) = Fingerprint.observe(back, Written)
        Fingerprint.noop(out)
        obs
      }
      (path, wObs, rObs)
    }

    def cold(): Unit = Workload.deleteTree(run(NoTrace)._1)

    def pass(i: Int, sp: Spans): Unit = outputs += run(sp)

    // keep only the newest output: recall is measured on it after timing
    override def between(): Unit =
      outputs.dropRight(1).foreach(o => Workload.deleteTree(o._1))

    /** Document ids in the newest output, read with plain Spark. */
    private def keptIds(): Set[Long] =
      spark.read.parquet(outputs.last._1)
        .select(explode(col("docs.doc_id"))).collect().map(_.getLong(0)).toSet

    private lazy val outcome: (Double, Double, Int) = {
      val kept = keptIds()
      val removed = corpus.docs.map(_.getLong(0)).filterNot(kept).toSet
      val regular = corpus.docs.map(_.getLong(0)).toSet -- corpus.planted --
        corpus.junk
      ((removed & corpus.planted).size.toDouble / corpus.planted.size,
        (removed & regular).size.toDouble / regular.size,
        (kept & corpus.junk).size)
    }

    def check(): Checked = {
      val fps = outputs.map { case (_, w, r) => (Fingerprint.of(w), Fingerprint.of(r)) }
      val first = fps.head._1
      val bad = fps.zipWithIndex.flatMap { case ((w, r), i) =>
        Seq(
          if (w == r) None else Some(s"pass $i: wrote $w, read back $r"),
          if (w == first) None else Some(s"pass $i: wrote $w, pass 0 wrote $first")
        ).flatten
      }
      val (recall, falseRemoved, junkKept) = outcome
      // loose floors that catch a broken gate or dedup, not a tuning change
      val quality = Seq(
        if (junkKept == 0) None else Some(s"$junkKept planted junk docs kept"),
        if (recall >= 0.9) None else Some(s"dedup recall $recall < 0.9"),
        if (falseRemoved <= 0.01) None
        else Some(s"dedup removed $falseRemoved of regular docs")).flatten
      Checked(outputs.length + 1, bad.length + (if (quality.isEmpty) 0 else 1),
        (bad ++ quality).toSeq)
    }

    override def figures(latencies: Seq[Double]): Seq[Figure] = {
      val (recall, falseRemoved, _) = outcome
      Seq(
        Figure("docs_per_s", nDocs / Stats.median(latencies), "docs/s",
          latencies.length),
        Figure("dedup_recall", recall, "ratio", corpus.planted.size),
        Figure("dedup_false_removed", falseRemoved, "ratio",
          (nDocs - corpus.planted.size - corpus.junk.size).toInt),
        Figure("stored_bytes_ratio", Workload.parquetBytes(outputs.last._1)
          .toDouble / Workload.parquetBytes(docsPath), "ratio", 1))
    }

    def layers(tr: Tracer, passes: Seq[Span], untraced: Seq[Double])
        : Map[String, Double] = {
      val reps = 3
      val scan = Workload.probe(tr, "probe.scan", reps)(Fingerprint.noop(
        NestedParquet.readCompat(spark, docsPath)))
      val gate = Workload.probe(tr, "probe.quality", reps)(
        Fingerprint.noop(gated(NoTrace)))
      def signatures = gated(NoTrace).select(col("doc_id"),
        Dedup.minHashSignaturesNative(Text, 16, 5).as("sig"))
      val sig = Workload.probe(tr, "probe.signature", reps)(
        Fingerprint.noop(signatures))
      val candidates = tr.span("probe.lsh")(
        Dedup.lshCandidatePairs(signatures, "doc_id", "sig", 16, 4).count())
      val nGated = gated(NoTrace).count()
      tr.drain()
      val n = passes.length.toDouble
      def median(name: String) = Workload.spanMedian(tr, passes, _ == name)
      Map(
        "sources.scan_s" -> scan,
        "sources.write_s" -> median("sources.writeStructOfList"),
        "sources.bytes_written" ->
          tr.layer("sources.writeStructOfList").bytesWritten / n,
        "sources.readback_s" -> median("sources.readback"),
        "nested.build_ms" -> 1e3 * Workload.spanMedian(tr, passes, s =>
          s == "operators.quality" || s == "nested.fromFlat"),
        "operators.quality_s" -> (gate - scan),
        "operators.signature_s" -> (sig - gate),
        "operators.dedup_s" -> median("operators.dedup"),
        "operators.lsh_candidates" -> candidates.toDouble,
        "operators.candidate_yield" ->
          (nGated - Fingerprint.of(outputs.last._2).elems).toDouble / candidates)
    }
  }
}
