package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for battery-wide scale validation (VERDICT r9 item 1).
  *
  * Reads the driver's synthetic tables at one SF and writes an N×-scaled
  * copy that preserves each table's DISTRIBUTIONAL shape while growing KEY
  * CARDINALITY — the TPC-H scaling model (more orders/customers/parts, same
  * rows-per-key), which is the shape a 100 TB corpus actually has. Each
  * fact table becomes N replicas with all join keys offset by
  * `replica * keySpan`, so foreign keys stay consistent (lineitem replica i
  * joins orders replica i) and per-key group sizes are UNCHANGED — a query
  * whose time grows faster than ~N on this data has a plan problem, not a
  * data-shape excuse. Dimension tables (region, nation) stay fixed.
  *
  * Two tables get per-replica DECORRELATION so similarity structure scales
  * linearly instead of quadratically:
  *  - `documents.text`: a replica-specific salt token is spliced in every
  *    4 words. In-replica near-dup structure is preserved (the same
  *    transform is applied to every doc of a replica, so two similar docs
  *    stay similar), but any word-5-gram shingle crossing replicas now
  *    contains a distinct salt → cross-replica Jaccard ≈ 0, and the planted
  *    near-dup pair count grows N×, not N²×.
  *  - `embeddings.embedding`: replica i's vectors are element-ROTATED by
  *    i positions — a permutation, so norms and all in-replica distances
  *    are preserved EXACTLY while cross-replica cosine decorrelates.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> <multiplier>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val n = args(2).toInt
    val spark = graft.GraftSession.create()

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // single FILE per table (like the driver's testdata) so the DuckDB
    // oracle's read_parquet('<dir>/<t>.parquet') pattern also works
    def wr(df: DataFrame, t: String): Unit = {
      val tmp = s"$out/__tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $t"))
      val dest = new java.io.File(s"$out/$t.parquet")
      if (dest.exists()) dest.delete()
      require(part.renameTo(dest), s"rename failed for $t")
      dir.listFiles().foreach(_.delete())
      dir.delete()
      println(s"scalegen: wrote $t")
    }

    /** keySpan: a power of 10 strictly above the max key, so offset keys
      * are disjoint across replicas and still readable by eye. */
    def span(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head.getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }

    /** N replicas with the given int64 key columns offset by i*span(col). */
    def replicate(df: DataFrame, keys: Map[String, Long]): DataFrame = {
      val reps = (0 until n).map { i =>
        keys.foldLeft(df) { case (d, (k, sp)) =>
          d.withColumn(k, col(k) + lit(i * sp))
        }
      }
      reps.reduce(_ unionAll _)
    }

    // ---- dims: copy unchanged ----
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    // ---- star schema: consistent key offsets ----
    val cust = rd("customer"); val ord = rd("orders"); val li = rd("lineitem")
    val part = rd("part"); val sup = rd("supplier")
    val cSpan = span(cust, "c_custkey")
    val oSpan = span(ord, "o_orderkey")
    val pSpan = span(part, "p_partkey")
    val sSpan = span(sup, "s_suppkey")
    wr(replicate(cust, Map("c_custkey" -> cSpan)), "customer")
    wr(replicate(ord, Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan)),
      "orders")
    wr(replicate(li, Map("l_orderkey" -> oSpan, "l_partkey" -> pSpan,
      "l_suppkey" -> sSpan)), "lineitem")
    wr(replicate(part, Map("p_partkey" -> pSpan)), "part")
    wr(replicate(sup, Map("s_suppkey" -> sSpan)), "supplier")

    // ---- events: more users over the same time window ----
    val ev = rd("events")
    wr(replicate(ev, Map("event_id" -> span(ev, "event_id"),
      "user_id" -> span(ev, "user_id"))), "events")

    // ---- documents: offset ids + per-replica salt every 4 words ----
    // replica 0 stays the original corpus byte-identical
    val docs = rd("documents")
    val dSpan = span(docs, "doc_id")
    val docReps = (0 until n).map { i =>
      val base = docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * dSpan))
      if (i == 0) base
      else base.withColumn("text",
        array_join(
          flatten(transform(split(col("text"), " "), (w, j) =>
            when(j % 4 === 3, array(w, lit(s"zq${i}salt")))
              .otherwise(array(w)))),
          " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    wr(docReps.reduce(_ unionAll _), "documents")

    // ---- embeddings: offset ids + per-replica ISOMETRY decorrelation ----
    // Replica i gets rotation (i % dim) composed with a sign-flip mask
    // drawn from block b = i / dim (identity for b = 0, so multipliers
    // ≤ dim — and replica 0 always — stay byte-identical to the r10
    // generator). Both transforms are exact isometries on floats
    // (permutation; x → -x flips the IEEE sign bit): norms and ALL
    // in-replica distances are preserved bit-exactly, so planted
    // near-dup cosines survive at any multiplier. Cross-replica pairs
    // share a full transform only when rot AND mask agree — i.e. never
    // for i ≠ j (masks are distinct per block via Murmur3 of (b, j),
    // a full-pattern collision across blocks has probability 2^-dim).
    // This removes the r10 `n <= dim` guard (VERDICT r11 item 2: the
    // 100× corpus previously had no embeddings past dim 64).
    val emb = rd("embeddings")
    val eSpan = span(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val embReps = (0 until n).map { i =>
      val rot = i % dim
      val block = i / dim
      val base = emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * eSpan))
      val rotated =
        if (rot == 0) base
        else base.withColumn("embedding",
          concat(slice(col("embedding"), rot + 1, dim - rot),
            slice(col("embedding"), 1, rot)))
      if (block == 0) rotated
      else rotated.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          when(pmod(hash(lit(block), j), lit(2)) === 0, x).otherwise(negate(x))))
    }
    wr(embReps.reduce(_ unionAll _), "embeddings")

    // sanity: print row counts
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      println(s"scalegen: $t -> " +
        spark.read.parquet(s"$out/$t.parquet").count())
    }
    spark.stop()
  }
}
