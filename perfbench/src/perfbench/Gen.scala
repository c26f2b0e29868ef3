package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every value derives from (seed, stream, index)
  * through [[Gen.rng]], so a seed gives the same files whatever the thread
  * count. Each table is written as `files` parquet files, one per
  * generating task, and the engine under test only ever sees those files.
  *
  * Numeric values are multiples of a power of two small enough that sums
  * over any object are exact in a double: a mean computed in any order
  * gives the same bits, so results can be compared by hash. */
object Gen {
  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(splitmix(splitmix(seed ^ splitmix(stream)) + index))

  /** Heavy-tailed positive count: lognormal with the given mean. */
  def heavyTail(r: SplittableRandom, mean: Double, sigma: Double,
                cap: Int): Int = {
    val mu = math.log(mean) - sigma * sigma / 2
    val x = math.round(math.exp(mu + sigma * r.nextGaussian()))
    math.max(1L, math.min(cap.toLong, x)).toInt
  }

  /** Writes entities `[0, n)` as `files` parquet files; task p generates
    * the contiguous id range `[n*p/files, n*(p+1)/files)`. */
  def table(spark: SparkSession, path: String, schema: StructType, n: Long,
            files: Int)(rows: Long => Iterator[Row]): Unit = {
    val parts = (0 until files).map(p => (n * p / files, n * (p + 1) / files))
    val rdd = spark.sparkContext.parallelize(parts, files)
      .flatMap { case (lo, hi) => (lo until hi).iterator.flatMap(rows) }
    spark.createDataFrame(rdd, schema).write.parquet(path)
  }

  def dyadic(r: SplittableRandom, lo: Int, hi: Int, scale: Int): Double =
    (lo * scale + r.nextInt((hi - lo) * scale)).toDouble / scale

  // ---------------------------------------------------------------------
  // Light curves: an object catalog and a flat observation table.
  // ---------------------------------------------------------------------

  val Bands: Array[String] = Array("g", "r", "i")

  val objectSchema: StructType = StructType(Seq(
    StructField("object_id", LongType, nullable = false),
    StructField("ra", DoubleType, nullable = false),
    StructField("dec", DoubleType, nullable = false)))

  val observationSchema: StructType = StructType(Seq(
    StructField("object_id", LongType, nullable = false),
    StructField("mjd", DoubleType, nullable = false),
    StructField("band", StringType, nullable = false),
    StructField("mag", DoubleType, nullable = false),
    StructField("mag_err", DoubleType, nullable = false),
    StructField("flag", IntegerType, nullable = false)))

  /** One catalog object and its observations, strictly increasing in mjd. */
  def lightCurve(seed: Long, k: Long, meanObs: Double): (Row, Seq[Row]) = {
    val r = rng(seed, 1, k)
    val ra = dyadic(r, 0, 360, 1024)
    val dec = dyadic(r, -90, 90, 1024)
    val n = heavyTail(r, meanObs, 1.0, 40 * meanObs.toInt)
    val obs = (0 until n).map { j =>
      Row(k, 58000.0 + j * 0.5 + r.nextInt(128) / 256.0,
        Bands(r.nextInt(Bands.length)), dyadic(r, 12, 22, 256),
        (1 + r.nextInt(255)) / 256.0, if (r.nextInt(10) == 0) 1 else 0)
    }
    (Row(k, ra, dec), obs)
  }

  // ---------------------------------------------------------------------
  // Notebook table: one nested table in the struct-of-list encoding, plus
  // its elements as a flat table for the reference formulations.
  // ---------------------------------------------------------------------

  val Classes: Array[String] = Array("star", "galaxy", "qso")

  val lcFields: Seq[StructField] = Seq(
    StructField("t", DoubleType), StructField("flux", DoubleType),
    StructField("err", DoubleType), StructField("band", StringType),
    StructField("flag", IntegerType))

  val nbBaseSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ra", DoubleType), StructField("dec", DoubleType),
    StructField("cls", StringType), StructField("z", DoubleType)))

  val nbFlatSchema: StructType =
    StructType(StructField("id", LongType, nullable = false) +: lcFields)

  val nbNestedSchema: StructType = nbBaseSchema.add("lc",
    StructType(lcFields.map(f => StructField(f.name, ArrayType(f.dataType)))))

  /** One notebook object: base row and its elements (t strictly increasing,
    * so every sort key used by the workload has a total order). */
  def nbObject(seed: Long, k: Long, meanElems: Double): (Row, Seq[Row]) = {
    val r = rng(seed, 2, k)
    val base = Row(k, dyadic(r, 0, 360, 1024), dyadic(r, -90, 90, 1024),
      Classes(r.nextInt(Classes.length)), dyadic(r, 0, 4, 4096))
    val n = heavyTail(r, meanElems, 1.0, 40 * meanElems.toInt)
    val elems = (0 until n).map { j =>
      Row(k, 59000.0 + j + r.nextInt(256) / 512.0, dyadic(r, -50, 200, 64),
        (1 + r.nextInt(640)) / 64.0, Bands(r.nextInt(Bands.length)),
        if (r.nextInt(8) == 0) 1 else 0)
    }
    (base, elems)
  }

  def nbNestedRow(base: Row, elems: Seq[Row]): Row =
    Row.fromSeq(base.toSeq :+ Row.fromSeq(lcFields.indices.map(i =>
      elems.map(_.get(i + 1)))))

  // ---------------------------------------------------------------------
  // Curation corpus: documents from many sources, with planted
  // near-duplicate clusters and planted low-quality documents.
  // ---------------------------------------------------------------------

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", IntegerType, nullable = false),
    StructField("source_name", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** The corpus plus the ids the generator planted. Each planted duplicate
    * has a larger id than the original it copies, so a dedup that keeps the
    * smallest id of each cluster should remove exactly the planted ids. */
  final case class Corpus(docs: IndexedSeq[Row], planted: Set[Long],
                          junk: Set[Long])

  private val Stop = Array("the", "a", "of", "and", "is", "to")

  def corpus(seed: Long, nDocs: Int, nSources: Int): Corpus = {
    val r = rng(seed, 3, 0)
    val vocab = Array.fill(20000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    def word(): String =
      if (r.nextInt(100) < 8) Stop(r.nextInt(Stop.length))
      else vocab((vocab.length * math.pow(r.nextDouble(), 1.3)).toInt)
    def source(): Int = r.nextInt(nSources)
    // regular and junk documents take ids [0, nDocs); copies come after
    val texts = Array.tabulate(nDocs) { _ =>
      r.nextInt(100) match {
        case x if x < 2 => // short: fails the length gate
          Array.fill(5 + r.nextInt(10))(word()).mkString(" ")
        case x if x < 4 => // repetitive: fails the diversity gate
          val w = Array.fill(2)(vocab(r.nextInt(vocab.length)))
          Array.tabulate(40 + r.nextInt(40))(i => w(i % 2)).mkString(" ")
        case _ => Array.fill(40 + r.nextInt(160))(word()).mkString(" ")
      }
    }
    val junk = texts.indices.filter { i =>
      val toks = texts(i).split(" ")
      toks.length < 20 || toks.distinct.length <= 2
    }.map(_.toLong).toSet
    val docs = IndexedSeq.newBuilder[Row]
    texts.indices.foreach { i =>
      docs += Row(i.toLong, source(), null, texts(i))
    }
    val planted = Set.newBuilder[Long]
    var next = nDocs.toLong
    texts.indices.foreach { i =>
      if (!junk.contains(i.toLong) && r.nextInt(100) < 6) {
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          val toks = texts(i).split(" ")
          val edits = math.max(1, toks.length / 100)
          (0 until edits).foreach(_ => toks(r.nextInt(toks.length)) = word())
          docs += Row(next, source(), null, toks.mkString(" "))
          planted += next
          next += 1
        }
      }
    }
    // shuffle so copies do not sit next to their originals on disk
    val all = docs.result().toArray
    (all.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
    }
    val named = all.toIndexedSeq.map { row =>
      val s = row.getInt(1)
      Row(row.getLong(0), s, f"site-$s%04d.example", row.getString(3))
    }
    Corpus(named, planted.result(), junk)
  }
}
