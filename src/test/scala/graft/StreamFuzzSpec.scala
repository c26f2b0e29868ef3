package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Streaming ≡ batch property fuzz (r9): seeded random event sets, split
  * into 1-3 arrival batches with bounded out-of-orderness, run through
  * packStream / dedupStream and compared against the BATCH formulation of
  * the same semantics. The reference has no streaming surface — the batch
  * operators (oracle-gated elsewhere) are the ground truth here; this
  * spec's job is the stream/batch equivalence across input shapes the
  * hand-pinned fixtures don't cover. */
class StreamFuzzSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private val t0 = 1700000000000L

  private case class Ev(user_id: Long, offMin: Long, value: Double)

  private def genEvents(r: scala.util.Random): Seq[Ev] = {
    val n = 6 + r.nextInt(14)
    Seq.fill(n)(Ev(1L + r.nextInt(4),
      r.nextInt(40).toLong, // inside ~4 windows of 10 min
      math.floor(r.nextDouble() * 100) / 10))
  }

  /** Arrival order: roughly by time with bounded jitter (stays inside the
    * watermark so the stream must not drop anything), split into batches. */
  private def arrivalBatches(evs: Seq[Ev], r: scala.util.Random)
      : Seq[Seq[Ev]] = {
    // precompute the jittered key: sortBy re-evaluates its key function
    // inside the comparator, so a random-valued key would be an
    // inconsistent (TimSort-breaking) ordering
    val jittered = evs.map(e => (e, e.offMin + r.nextInt(8) - 4))
      .sortBy(_._2).map(_._1)
    val nb = 1 + r.nextInt(3)
    val per = math.max(1, jittered.length / nb)
    jittered.grouped(per).toSeq
  }

  test("packStream ≡ batch windowed pack over 12 seeded random inputs") {
    for (seed <- 1 to 12) {
      val r = new scala.util.Random(900 + seed)
      val evs = genEvents(r)
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
      val df = ms.toDF().toDF("user_id", "ts", "value")
      val packed = StreamingOps.packStream(df, "user_id", "ts",
        Seq("value"), "events", "10 minutes", "60 minutes")
      val qn = s"fuzzpack$seed"
      val q = packed.writeStream.outputMode("complete")
        .format("memory").queryName(qn).start()
      try {
        arrivalBatches(evs, r).foreach { b =>
          ms.addData(b.map(e => (e.user_id,
            new java.sql.Timestamp(t0 + e.offMin * 60000L), e.value)))
          q.processAllAvailable()
        }
        val got = spark.sql(
          s"SELECT user_id, window.start, size(events) FROM $qn")
          .as[(Long, java.sql.Timestamp, Int)].collect()
          .map { case (u, w, n) => (u, w.getTime, n) }.toSet
        val batch = evs.map(e => (e.user_id, e.offMin, e.value))
          .toDF("user_id", "offMin", "value")
          .withColumn("ts", expr(s"timestamp_millis($t0 + offMin * 60000)"))
          .groupBy($"user_id", window($"ts", "10 minutes"))
          .agg(count(lit(1)).cast("int").as("n"))
          .select($"user_id", $"window.start", $"n")
          .as[(Long, java.sql.Timestamp, Int)].collect()
          .map { case (u, w, n) => (u, w.getTime, n) }.toSet
        assert(got == batch, s"seed $seed: stream $got != batch $batch")
      } finally q.stop()
    }
  }

  test("dedupStream keeps exactly one row per key over 12 seeded inputs " +
      "(within-watermark arrivals)") {
    for (seed <- 1 to 12) {
      val r = new scala.util.Random(7700 + seed)
      val evs = genEvents(r)
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
      val df = ms.toDF().toDF("user_id", "ts", "value")
      val deduped = StreamingOps.dedupStream(df, "ts", Seq("user_id"),
        watermark = "2 hours")
      val qn = s"fuzzdedup$seed"
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName(qn).start()
      try {
        arrivalBatches(evs, r).foreach { b =>
          ms.addData(b.map(e => (e.user_id,
            new java.sql.Timestamp(t0 + e.offMin * 60000L), e.value)))
          q.processAllAvailable()
        }
        val got = spark.sql(s"SELECT user_id FROM $qn")
          .as[Long].collect().toSeq
        val expectKeys = evs.map(_.user_id).distinct.sorted
        assert(got.sorted == expectKeys,
          s"seed $seed: got ${got.sorted} expected $expectKeys")
      } finally q.stop()
    }
  }

  // -------------------------------------------------------------------------
  // r11 (VERDICT item 5): PLANTED-TRUTH streaming dedup. Batch-parity fuzz
  // over random arrivals can't target the watermark-crossing case; these
  // plant exact copies at controlled MICRO-BATCH positions and assert
  // end-of-stream recall: suppressed while state lives, re-admitted only
  // after the watermark evicts the key, and (index twin) dropped in ANY
  // batch because the index is static.
  // -------------------------------------------------------------------------

  test("planted streaming dedup: cross-batch copies suppressed (recall " +
      "1.0); key re-admitted ONLY after watermark eviction — 6 seeds") {
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(8800 + seed)
      val nSrc = 12 + r.nextInt(8)
      val srcIds = (0L until nSrc.toLong).toVector
      val planted = r.shuffle(srcIds).take(6)
      val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
      val df = ms.toDF().toDF("user_id", "ts", "value")
      val deduped = StreamingOps.dedupStream(df, "ts", Seq("user_id"),
        watermark = "2 hours")
      val qn = s"planteddedup$seed"
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName(qn).start()
      def ts(min: Long) = new java.sql.Timestamp(t0 + min * 60000L)
      try {
        // batch 1: every source once
        ms.addData(srcIds.map(id => (id, ts(id), 1.0)))
        q.processAllAvailable()
        // batch 2: planted COPIES (later event times, same keys) + noise
        ms.addData(planted.map(id => (id, ts(30 + id), 2.0)) ++
          Seq((900L, ts(35), 1.0)))
        q.processAllAvailable()
        val afterPlant = spark.sql(s"SELECT user_id FROM $qn")
          .as[Long].collect().toSeq
        val dupKeys = afterPlant.groupBy(identity).filter(_._2.length > 1)
        assert(dupKeys.isEmpty,
          s"seed $seed: planted cross-batch copies leaked: ${dupKeys.keys}")
        val recall = planted.count(id => afterPlant.count(_ == id) == 1)
          .toDouble / planted.size
        assert(recall == 1.0, s"seed $seed: suppression recall $recall")
        // batch 3: watermark advancer only (event time far ahead; the
        // watermark updates at batch END, so eviction is visible in 4)
        ms.addData(Seq((901L, ts(600), 1.0)))
        q.processAllAvailable()
        // batch 4: a planted key RETURNS after its state was evicted
        // (last-seen + 2h < watermark) — bounded state means bounded
        // memory AND re-admission; both sides of the contract asserted
        ms.addData(Seq((planted.head, ts(590), 3.0)))
        q.processAllAvailable()
        val fin = spark.sql(s"SELECT user_id FROM $qn")
          .as[Long].collect().toSeq
        assert(fin.count(_ == planted.head) == 2,
          s"seed $seed: post-eviction arrival was not re-admitted")
      } finally q.stop()
    }
  }

  test("planted streaming NEAR-dup (simhash): identical texts planted in " +
      "later micro-batches are suppressed, distinct texts survive — 6 seeds") {
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(9900 + seed)
      def txt(i: Long) = s"document $i body " +
        Seq.fill(10)("tok" + r.nextInt(5000)).mkString(" ")
      val docs = (0L until 10L).map(i => (i, txt(i))).toVector
      val planted = r.shuffle(docs).take(4) // exact text copies, new ids
        .map { case (i, t) => (100L + i, t) }
      val ms = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
      val df = ms.toDF().toDF("doc_id", "ts", "text")
      val out = StreamingOps.dedupNearStream(df, "ts", "text",
        watermark = "2 hours")
      val qn = s"plantednear$seed"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(qn).start()
      def ts(min: Long) = new java.sql.Timestamp(t0 + min * 60000L)
      try {
        ms.addData(docs.map { case (i, t) => (i, ts(i), t) })
        q.processAllAvailable()
        ms.addData(planted.map { case (i, t) => (i, ts(40), t) })
        q.processAllAvailable()
        val got = spark.sql(s"SELECT doc_id FROM $qn")
          .as[Long].collect().toSet
        val leaked = planted.map(_._1).filter(got.contains)
        assert(leaked.isEmpty,
          s"seed $seed: planted near-dup copies leaked: $leaked")
        // every ORIGINAL survived (distinct random texts should not
        // collide on the full 64-bit signature)
        assert(docs.map(_._1).forall(got.contains),
          s"seed $seed: an original was wrongly suppressed")
      } finally q.stop()
    }
  }

  test("planted streaming index dedup: copies of INDEXED docs are dropped " +
      "in whichever micro-batch they arrive; fresh docs pass — 6 seeds") {
    import graft.operators.Dedup
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(6600 + seed)
      def txt(i: Long) = s"indexed doc $i " +
        Seq.fill(30)("w" + r.nextInt(800)).mkString(" ")
      val corpus = (0L until 15L).map(i => (i, txt(i))).toVector
      val idx = corpus.toDF("doc_id", "text")
        .select(col("doc_id"), Dedup.minHashSignaturesNative(col("text"),
          numHashes = 16, shingleSize = 5).as("sig"))
      val bandTable = StreamingOps.indexBandTable(idx, "doc_id", "sig",
        numHashes = 16, rowsPerBand = 4)
      bandTable.cache().count()
      try {
        val planted = r.shuffle(corpus).take(5)
          .map { case (i, t) => (200L + i, t) } // copies of indexed docs
        val fresh = (300L until 305L)
          .map(i => (i, s"fresh doc $i " +
            Seq.fill(30)("f" + r.nextInt(800)).mkString(" ")))
        val ms = MemoryStream[(Long, String)](spark)
        val stream = ms.toDF().toDF("doc_id", "text")
          .select(col("doc_id"), Dedup.minHashSignaturesNative(col("text"),
            numHashes = 16, shingleSize = 5).as("sig"))
        val out = StreamingOps.dedupAgainstIndexStream(stream, bandTable,
          "doc_id", "sig", numHashes = 16, rowsPerBand = 4)
        val qn = s"plantedidx$seed"
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(qn).start()
        try {
          // copies split across TWO batches, fresh docs interleaved
          val (p1, p2) = planted.splitAt(2)
          ms.addData(p1 ++ fresh.take(2)); q.processAllAvailable()
          ms.addData(p2 ++ fresh.drop(2)); q.processAllAvailable()
          val got = spark.sql(s"SELECT doc_id FROM $qn")
            .as[Long].collect().toSet
          val leaked = planted.map(_._1).filter(got.contains)
          assert(leaked.isEmpty,
            s"seed $seed: planted copies of indexed docs leaked: $leaked")
          assert(fresh.map(_._1).forall(got.contains),
            s"seed $seed: a fresh doc was wrongly dropped")
        } finally q.stop()
      } finally bandTable.unpersist()
    }
  }

  test("ewmStream ≡ batch ewmMean/ewmVar across micro-batches over 12 " +
      "seeded inputs (stat × adjust × ignore_na × min_periods × bias)") {
    import graft.operators.InheritedOps
    import graft.streaming.StreamingOps.EwmIn
    for (seed <- 1 to 12) {
      val r = new scala.util.Random(4200 + seed)
      val stat = Seq("mean", "var", "std", "sum")(seed % 4)
      val adjust = stat == "sum" || r.nextBoolean()
      val ignoreNa = r.nextBoolean()
      val minPeriods = 1 + r.nextInt(3)
      val bias = r.nextBoolean()
      val alpha = 0.05 + r.nextDouble() * 0.9
      val evs: Seq[EwmIn] =
        (for (k <- 1L to 3L; i <- 0L until (5 + r.nextInt(15)).toLong)
          yield EwmIn(k, i,
            if (r.nextInt(5) == 0) None
            else Some(math.floor(r.nextDouble() * 1000) / 10))).toSeq
      val ms = MemoryStream[EwmIn](spark)
      val out = StreamingOps.ewmStream(ms.toDS(), alpha, stat, adjust,
        ignoreNa, minPeriods, bias)(spark)
      val qn = s"ewmstream$seed"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(qn).start()
      try {
        // split by GLOBAL seq order so no key's later row precedes an
        // earlier one across batches (the documented contract); shuffle
        // WITHIN each batch — the kernel must re-sort
        val sorted = evs.sortBy(e => (e.seq, e.key))
        val nb = 1 + r.nextInt(3)
        val per = math.max(1, sorted.length / nb)
        sorted.grouped(per).foreach { b =>
          ms.addData(r.shuffle(b))
          q.processAllAvailable()
        }
        val got = spark.table(qn).collect()
          .map(row => (row.getLong(0), row.getLong(1)) ->
            (if (row.isNullAt(2)) null else row.getDouble(2))).toMap
        val df = evs.map(e => (e.key, e.seq, e.value))
          .toDF("key", "seq", "value")
        val batch = (if (stat == "mean")
            InheritedOps.ewmMean(df, "value", alpha, "seq", Seq("key"),
              adjust, ignoreNa, minPeriods)
          else if (stat == "sum")
            InheritedOps.ewmSum(df, "value", alpha, "seq", Seq("key"),
              ignoreNa, minPeriods)
          else
            InheritedOps.ewmVar(df, "value", alpha, "seq", Seq("key"),
              adjust, ignoreNa, minPeriods, bias, std = stat == "std"))
          .select(col("key"), col("seq"), col("ewm")).collect()
          .map(row => (row.getLong(0), row.getLong(1)) ->
            (if (row.isNullAt(2)) null else row.getDouble(2))).toMap
        assert(got.size == evs.size,
          s"seed $seed: expected one output row per input, got ${got.size}")
        val diff = batch.keys.filter(k => got.get(k) != Some(batch(k)))
        assert(diff.isEmpty,
          s"seed $seed ($stat adjust=$adjust ignoreNa=$ignoreNa " +
            s"mp=$minPeriods bias=$bias): stream != batch at " +
            diff.take(5).map(k => s"$k: ${got.get(k)} vs ${batch(k)}")
              .mkString("; "))
      } finally q.stop()
    }
  }

  test("rollingTimeStream ≡ batch rollingTimeAgg across micro-batches " +
      "over 9 seeded inputs (every fn, both closed variants)") {
    import graft.operators.InheritedOps
    import graft.streaming.StreamingOps.RollIn
    for (seed <- 1 to 9) {
      val r = new scala.util.Random(5300 + seed)
      val fn = Seq("mean", "sum", "min", "max", "std", "var", "count",
        "median", "quantile")(seed - 1)
      val closed = if (r.nextBoolean()) "right" else "both"
      val minPeriods = 1 + r.nextInt(2)
      val windowMicros = (2L + r.nextInt(5)) * 1000000L
      val qv = Seq(0.25, 0.5, 0.75)(r.nextInt(3))
      // duplicate-free irregular per-key timestamps (the documented
      // stream contract), ~20% missing values
      val evs: Seq[RollIn] = (1L to 3L).flatMap { k =>
        var t = 0L
        (0 until (5 + r.nextInt(15))).map { _ =>
          t += (1L + r.nextInt(4)) * 1000000L
          RollIn(k, t,
            if (r.nextInt(5) == 0) None
            else Some(math.floor(r.nextDouble() * 1000) / 10))
        }
      }
      val ms = MemoryStream[RollIn](spark)
      val out = StreamingOps.rollingTimeStream(ms.toDS(), windowMicros,
        fn, minPeriods, closed, qv)(spark)
      val qn = s"rollstream$seed"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(qn).start()
      try {
        val sorted = evs.sortBy(e => (e.tsMicros, e.key))
        val nb = 1 + r.nextInt(3)
        val per = math.max(1, sorted.length / nb)
        sorted.grouped(per).foreach { b =>
          ms.addData(r.shuffle(b))
          q.processAllAvailable()
        }
        val got = spark.table(qn).collect()
          .map(row => (row.getLong(0), row.getLong(1)) ->
            (if (row.isNullAt(2)) null else row.getDouble(2))).toMap
        val df = evs.map(e => (e.key, e.tsMicros, e.value))
          .toDF("key", "ts_us", "value")
          .withColumn("ts", timestamp_micros(col("ts_us")))
        val batch = InheritedOps.rollingTimeAgg(df, "value", fn,
            windowMicros, "ts", "ts_us", minPeriods, Seq("key"),
            closed, qv)
          .select(col("key"), col("ts_us"), col("rolled")).collect()
          .map(row => (row.getLong(0), row.getLong(1)) ->
            (if (row.isNullAt(2)) null else row.getDouble(2))).toMap
        assert(got.size == evs.size,
          s"seed $seed: expected one output per input, got ${got.size}")
        val diff = batch.keys.filter(k => got.get(k) != Some(batch(k)))
        assert(diff.isEmpty,
          s"seed $seed ($fn closed=$closed mp=$minPeriods q=$qv): " +
            "stream != batch at " +
            diff.take(5).map(k => s"$k: ${got.get(k)} vs ${batch(k)}")
              .mkString("; "))
      } finally q.stop()
    }
  }

  test("rollingTimeStream rejects a quantile q outside [0, 1] when the " +
      "stream is built, like the batch verb") {
    import graft.streaming.StreamingOps.RollIn
    val ms = MemoryStream[RollIn](spark)
    for (q <- Seq(1.5, -0.1)) {
      val e = intercept[IllegalArgumentException] {
        StreamingOps.rollingTimeStream(ms.toDS(), 2000000L, "quantile",
          q = q)(spark)
      }
      assert(e.getMessage.contains(s"quantile must be in [0, 1], got $q"))
    }
  }
}
