package graft.tools

import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Streaming micro-bench: drives packStream and dedupNearStream from a rate
  * source for a fixed wall-clock window and reports the sustained
  * processedRowsPerSecond from the query progress telemetry (the same number
  * a production monitor would alert on). Results are recorded in SCALING.md.
  *
  * Usage: runMain graft.tools.StreamBench [seconds] [rowsPerSec]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val runSecs = args.headOption.map(_.toInt).getOrElse(20)
    val rate = args.drop(1).headOption.map(_.toInt).getOrElse(500000)
    val cpus = graft.GraftSession.cores
    val spark = graft.GraftSession.create()

    def measure(name: String, mode: String = "update")
               (build: => org.apache.spark.sql.DataFrame): Unit = {
      val q = build.writeStream.format("noop").outputMode(mode).start()
      Thread.sleep(runSecs * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      // skip the first batch (cold start); report median + max sustained rate
      val rates = progress.drop(1).map(_.processedRowsPerSecond)
        .filterNot(_.isNaN).sorted
      // state-store footprint from the LAST progress (steady state):
      // rows + bytes across all stateful operators; stateless ops report 0
      val state = progress.lastOption.map(_.stateOperators.toSeq)
        .getOrElse(Nil)
      val stateRows = state.map(_.numRowsTotal).sum
      val stateBytes = state.map(_.memoryUsedBytes).sum
      if (rates.isEmpty) println(s"STREAM_BENCH $name: no progress recorded")
      else println(f"STREAM_BENCH $name: median=${rates(rates.size / 2)}%.0f " +
        f"max=${rates.last}%.0f rows/s over ${progress.size} batches " +
        f"(source rate $rate rows/s; state $stateRows rows / " +
        f"${stateBytes / 1024 / 1024}%d MiB)")
    }

    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).option("numPartitions", cpus).load()

    measure("packStream") {
      StreamingOps.packStream(
        src.withColumn("key", col("value") % 10000)
           .withColumn("v", (col("value") % 97).cast("double")),
        "key", "timestamp", Seq("v"), "nested",
        windowLen = "5 seconds", watermark = "5 seconds")
    }
    measure("dedupStream") {
      // exact keyed dedup within the watermark: 200k-key space → ~steady
      // duplicate rate; state = one row per distinct key in the window
      StreamingOps.dedupStream(
        src.withColumn("k1", col("value") % 200000),
        "timestamp", Seq("k1"), watermark = "30 seconds")
    }
    measure("flagContaminationStream", mode = "append") {
      // stateless bloom gate: 200k-gram benchmark set (~the contamination
      // suite scale), ~3-gram shingles per doc checked against the blob
      val sess = spark
      import sess.implicits._
      val bench = spark.range(200000).select(
        concat(lit("benchmark question number "), col("id").cast("string"),
          lit(" about topic "), (col("id") % 977).cast("string")).as("text"))
      val grams = bench.select(explode(graft.functions.TextFunctions
        .tokenShingles(col("text"), 3)).as("__g"))
      val bloom = graft.operators.Dedup.gramBloom(grams, fpp = 0.01)
      StreamingOps.flagContaminationStream(
        src.withColumn("text",
          concat(lit("stream document discussing topic "),
            (col("value") % 977).cast("string"),
            lit(" with benchmark question number "),
            (col("value") % 400000).cast("string"))),
        "text", bloom, n = 3)
    }
    measure("dedupNearStream") {
      StreamingOps.dedupNearStream(
        src.withColumn("text",
          concat(lit("sample document body text number "),
            (col("value") % 50000).cast("string"),
            lit(" with shared boilerplate tail for realism"))),
        "timestamp", "text", watermark = "30 seconds")
    }
    measure("sessionizeEventTime", mode = "append") {
      StreamingOps.sessionizeEventTime(
        src.withColumn("user", col("value") % 5000),
        "user", "timestamp", gap = "5 seconds", watermark = "5 seconds")
    }
    measure("dedupAgainstIndexStream", mode = "append") {
      // static 100k-doc signature index; stream sigs synthesized from the
      // rate value so ~10% of rows collide with an indexed band
      val index = spark.range(100000).select(col("id").as("doc_id"),
        array((0 until 6).map(i =>
          pmod(xxhash64(col("id"), lit(i)), lit(100003L))): _*).as("sig"))
      val bt = StreamingOps.indexBandTable(index, "doc_id", "sig",
        numHashes = 6, rowsPerBand = 2).cache()
      bt.count() // materialize once, as a production job would
      StreamingOps.dedupAgainstIndexStream(
        src.select(col("value").as("doc_id"),
          array((0 until 6).map(i =>
            pmod(xxhash64(col("value") % 1000000, lit(i)),
              lit(100003L))): _*).as("sig")),
        bt, "doc_id", "sig", numHashes = 6, rowsPerBand = 2)
    }
    measure("annLshStream", mode = "append") {
      // static 100k-vector LSH index (16-dim, 4 planes → 16 buckets);
      // queries get their OWN rate source at 1/10th the row rate — each
      // query does candCap cosines, so query/s and row/s are different
      // currencies (the other ops above are per-row streams)
      val dim = 16
      def vec(seed: org.apache.spark.sql.Column) = array((0 until dim).map(
        d => (pmod(xxhash64(seed, lit(d)), lit(2001L)) - 1000L)
          .cast("double")): _*)
      val corpus = spark.range(100000).select(col("id").as("vec_id"),
        vec(col("id")).as("embedding"))
      val idx = StreamingOps.lshBucketTable(corpus, "vec_id", "embedding",
        numPlanes = 4, dim = dim, candCap = 256).cache()
      idx.count() // materialize once, as a production job would
      val qSrc = spark.readStream.format("rate")
        .option("rowsPerSecond", math.max(rate / 10, 1000))
        .option("numPartitions", cpus).load()
      StreamingOps.annLshStream(
        qSrc.select(col("value").as("vec_id"),
          vec(col("value") + 7L).as("embedding")),
        idx, k = 5, "vec_id", "embedding", numPlanes = 4, dim = dim)
    }
    // r13: the inherited-surface streaming kernels (ewm, time-rolling) —
    // O(1)/O(W) state per key; key space 5000, per-key seq/ts strictly
    // increasing (the kernels' documented arrival contract)
    measure("ewmStream", mode = "append") {
      val sess = spark
      import sess.implicits._
      StreamingOps.ewmStream(
        src.select((col("value") % 5000).as("key"), col("value").as("seq"),
          when(col("value") % 13 =!= 0,
            (col("value") % 97).cast("double")).as("value"))
          .as[StreamingOps.EwmIn],
        alpha = 0.3)(sess).toDF()
    }
    measure("rollingTimeStream", mode = "append") {
      val sess = spark
      import sess.implicits._
      // tsMicros = the rate value itself (unique + monotone per key);
      // 50k-micro window → ~10 buffered elements per key at this key space
      StreamingOps.rollingTimeStream(
        src.select((col("value") % 5000).as("key"),
          col("value").as("tsMicros"),
          (col("value") % 97).cast("double").as("value"))
          .as[StreamingOps.RollIn],
        windowMicros = 50000L)(sess).toDF()
    }
    spark.stop()
  }
}
