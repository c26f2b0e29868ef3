package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design (100 TB):
  *  - [[cosine]] / [[dot]] are sequential-fold HOF expressions — codegen'd,
  *    narrow, and bit-reproducible across engines (verified vs DuckDB).
  *  - [[bruteForceTopK]] broadcasts the (small) query set against the corpus:
  *    one narrow pass + a partial top-k aggregation, no corpus shuffle.
  *  - [[hyperplaneBucket]] assigns LSH buckets per-row with integer
  *    hyperplanes (zero shuffle); [[lshTopK]] joins query and corpus on the
  *    bucket, turning all-pairs scoring into per-bucket scoring.
  */
object Similarity {

  /** Top-k rows per query from a scored candidate set, ranked
    * `scoreCol DESC NULLS LAST, neighbor_id ASC` — via the bounded-heap
    * aggregate [[graft.expressions.BoundedTopK]], NOT a window. The window
    * form (`row_number() OVER (PARTITION BY query_id ORDER BY …) <= k`)
    * shuffles and sorts EVERY scored candidate; the aggregate keeps O(k)
    * state per query with map-side partial aggregation, so the shuffle
    * carries ≤ queries×k rows no matter how large the candidate set is —
    * the load-bearing difference at 100 TB. Result-identical to the window
    * form (spec-checked, incl. NULL scores and score ties). Contract: a
    * NULL neighbor_id is not rankable and is skipped by BOTH forms (the
    * aggregate cannot represent it; the window twin filters it). */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int,
                                  scoreCol: String): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.expressions.native
        .topk_by(col(scoreCol), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("query_id"), (col("__pos") + 1).cast("long").as("rank"),
        col("__t.id").as("neighbor_id"), col("__t.score").as(scoreCol))

  /** Dot product of two equal-length numeric arrays, accumulated
    * sequentially in double. Native codegen'd expression — same fold order
    * as the HOF formulation (bit-identical results, verified by the oracle),
    * but inlined into whole-stage codegen instead of interpreted. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.native.dot_f(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalize an embedding to unit length (double elements); NULL for a
    * zero vector. Normalizing once at ingest turns every downstream cosine
    * into a plain dot product — at 100 TB that halves the FLOPs of every
    * similarity join. Narrow transform. */
  def l2Normalize(a: Column): Column = {
    val n = norm(a)
    when(n > 0, transform(a, x => x.cast("double") / n))
  }

  /** Symmetric int8 quantization: scale = 127 / max|x| (NULL for a zero
    * vector), values round-to-nearest into [-127, 127]. 4× smaller than
    * float32 — the standard storage/bandwidth lever for ANN at scale.
    * Returns (scale, quantized array<int>); dequantize with x / scale. */
  def quantizeInt8(a: Column): (Column, Column) = {
    val maxAbs = array_max(transform(a, x => abs(x.cast("double"))))
    val scale = when(maxAbs > 0, lit(127.0) / maxAbs)
    (scale, transform(a, x => round(x.cast("double") * scale).cast("int")))
  }

  /** Cosine similarity; NULL if either norm is zero. */
  def cosine(a: Column, b: Column): Column = {
    val (na, nb) = (norm(a), norm(b))
    when(na > 0 && nb > 0, dot(a, b) / (na * nb))
  }

  /** Cosine with PRE-COMPUTED side norms. Inside a pair join,
    * `cosine(a, b)` re-derives norm(a) and norm(b) for every PAIR row;
    * attaching each side's norm as a column BEFORE the join computes it
    * N+Q times instead of N×Q — same doubles through the same division,
    * so results are bit-identical to [[cosine]] (the ANN oracles hold).
    * At 64 dims this removes 2 of the 3 dot products per scored pair. */
  private def cosineFromNorms(a: Column, b: Column,
                              na: Column, nb: Column): Column =
    when(na > 0 && nb > 0, dot(a, b) / (na * nb))

  /** Exact top-k cosine neighbors for each query row.
    *
    * `queries` (small, broadcast) × `corpus` (huge): Catalyst plans a
    * BroadcastNestedLoopJoin — the corpus is scanned once, never shuffled;
    * only (nQueries × k) rows survive the window. Self-matches excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "vec_id", cId: String = "vec_id",
                     qVec: String = "embedding", cVec: String = "embedding")
      : DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val scored = broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineFromNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    topKPerQuery(scored, k, "sim")
  }

  /** Deterministic integer hyperplane weight for (plane j, dimension d):
    * pseudo-random in [-48, 48] via exact integer arithmetic (reproducible in
    * any SQL engine — no float RNG). */
  private[graft] def planeWeight(j: Int, d: Int): Long =
    ((j.toLong * 64L + d.toLong) * 2654435761L % 97L) - 48L

  /** Plane-j weight vector as doubles — the exact projection
    * [[graft.operators.Dedup.dedupSemantic]] sorts bucket members by
    * (replayable in SQL via the same literal). */
  private[operators] def planeWeights(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d => planeWeight(j, d).toDouble)

  /** LSH bucket id: one bit per hyperplane = sign of <v, plane_j>.
    * Native kernel (one loop per row); the Column formulation carried
    * numPlanes×dim expression nodes through codegen. Bit-identical (the
    * specs compare it with that formulation). */
  def hyperplaneBucket(vec: Column, numPlanes: Int, dim: Int): Column =
    graft.expressions.native.hyperplane_bucket(vec, numPlanes, dim)

  /** IVF (inverted-file) coarse quantizer: deterministic k-means —
    * centroids seeded from the first k vectors by id, refined with `iters`
    * Lloyd rounds. Returns the corpus with a `__cid` nearest-centroid
    * column plus the centroid table. All distributed: centroids broadcast
    * (k × dim doubles), assignment narrow, update one groupBy per round.
    * At 100 TB the assigned corpus is written bucketed by __cid so probes
    * read only nprobe/k of the data; a caller probing it many times
    * materializes it ([[graft.Materialize]]). */
  def ivfIndex(corpus: DataFrame, k: Int, iters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Array[(Int, Array[Double])]) = {
    val spark = corpus.sparkSession
    var centroids: Array[(Int, Array[Double])] = corpus
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](0).map(_.toDouble).toArray) }
    require(centroids.length == k,
      s"ivfIndex: corpus has only ${centroids.length} rows, need k=$k seeds")
    def assign(df: DataFrame): DataFrame = {
      val cs = centroids // stable reference for the closure
      // argmin ||v-c||² == argmin (-2·v·c + ||c||²): the ||v||² term is
      // constant across cells and would be re-evaluated k times (no CSE).
      // Linear-size argmin via array_sort — a when-chain reduce duplicates
      // the accumulated struct per step (2^k expression nodes: OOM at k=16).
      val cells = cs.map { case (cid, cvec) =>
        val dist = lit(-2.0) * graft.expressions.native.dot_f(col(vecCol),
          typedLit(cvec.toSeq)) + lit(cvec.map(x => x * x).sum)
        struct(dist.as("d"), lit(cid).as("cid"))
      }
      df.withColumn("__cid",
        element_at(array_sort(array(cells: _*)), 1).getField("cid"))
    }
    (1 to iters).foreach { _ =>
      val assigned = assign(corpus)
      val updated = assigned
        .select(col("__cid"), posexplode(col(vecCol)).as(Seq("__d", "__x")))
        .groupBy("__cid", "__d").agg(avg(col("__x")).as("__m"))
        .groupBy("__cid")
        .agg(array_sort(collect_list(struct(col("__d"), col("__m"))))
          .as("__dims"))
        .select(col("__cid"),
          expr("transform(__dims, s -> s.__m)").as("__c"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      // keep seed centroid if a cell emptied
      val byId = updated.toMap
      centroids = centroids.map { case (cid, old) =>
        (cid, byId.getOrElse(cid, old)) }
    }
    (assign(corpus), centroids)
  }

  /** Persist an IVF-assigned corpus PARTITIONED BY CELL: probes against the
    * written table scan only the `nprobe` matching directories (Spark
    * partition pruning), i.e. nprobe/k of the bytes — the property that
    * makes IVF pay at 100 TB. The repartition on __cid before the
    * partitionBy write is load-bearing: without it every task writes a
    * file into every cell directory (tasks × cells small files — measured
    * as the dominant probe cost), with it each cell is one file per
    * owning task. Pair with [[ivfTopKFromBucketed]]. */
  def writeIvfBucketed(assigned: DataFrame, path: String): Unit =
    assigned.repartition(col("__cid"))
      .write.mode("overwrite").partitionBy("__cid").parquet(path)

  /** IVF probe against a [[writeIvfBucketed]] table: the `__cid IN (cells)`
    * filter lands in the scan's PartitionFilters, so only the probed cell
    * directories are read (verified by spec via the executed plan). */
  def ivfTopKFromBucketed(spark: org.apache.spark.sql.SparkSession,
                          queries: DataFrame, path: String,
                          centroids: Array[(Int, Array[Double])],
                          nprobe: Int, k: Int,
                          qId: String = "vec_id", cId: String = "vec_id",
                          qVec: String = "embedding",
                          cVec: String = "embedding"): DataFrame =
    ivfTopK(queries, spark.read.parquet(path), centroids, nprobe, k,
      qId, cId, qVec, cVec)

  /** IVF search: score queries only against corpus vectors in the query's
    * `nprobe` nearest cells. */
  def ivfTopK(queries: DataFrame, assignedCorpus: DataFrame,
              centroids: Array[(Int, Array[Double])], nprobe: Int, k: Int,
              qId: String = "vec_id", cId: String = "vec_id",
              qVec: String = "embedding", cVec: String = "embedding")
      : DataFrame = {
    // nprobe nearest cells per query, as an exploded (query, cell) list
    val cellStructs = centroids.map { case (cid, cvec) =>
      val dist = lit(-2.0) * graft.expressions.native.dot_f(col(qVec),
        typedLit(cvec.toSeq)) + lit(cvec.map(x => x * x).sum)
      struct(dist.as("d"), lit(cid).as("cid"))
    }
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"),
      explode(slice(array_sort(array(cellStructs: _*)), 1, nprobe))
        .as("__cell"))
      .select(col("query_id"), col("__qv"), col("__cell.cid").as("__cid"))
    val c = assignedCorpus.select(col(cId).as("neighbor_id"),
      col(cVec).as("__cv"), col("__cid"))
    // broadcast the (small by contract) exploded query side: a shuffle
    // join on the LOW-CARDINALITY cell key would funnel the whole corpus
    // into k partitions — guaranteed skew at scale
    val scored = broadcast(q.withColumn("__qn", norm(col("__qv"))))
      .join(pruneToProbedCells(q, c)
        .withColumn("__cn", norm(col("__cv"))), Seq("__cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineFromNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    topKPerQuery(scored, k, "sim")
  }

  /** STATIC cell pruning for the IVF joins: Spark's dynamic partition
    * pruning declines to prune when the broadcast side carries no
    * selective predicate (its selectivity heuristic), so the
    * nprobe/k read reduction of a `__cid`-partitioned corpus never
    * materialized — a 50M-row probe (SCALING.md) measured the IVF search at
    * full-ADC scan time. The probed cell set is ≤ |centroids| values by
    * construction, so collect it (one tiny job over the query side,
    * small by contract) and push a LITERAL IN filter — plan-time
    * partition pruning that also prunes row groups on unpartitioned
    * corpora via min/max stats. */
  private def pruneToProbedCells(q: DataFrame, c: DataFrame): DataFrame = {
    val probed = q.select(col("__cid")).distinct()
      .collect().map(_.getInt(0)).sorted
    c.where(col("__cid").isin(probed.map(Int.box).toIndexedSeq: _*))
  }

  /** Product-quantization codebooks (Jégou, Douze, Schmid — "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — public
    * algorithm): the vector is split into `m` subspaces of dim/m dims; each
    * subspace gets its own k-entry codebook. Training REUSES [[ivfIndex]]'s
    * deterministic k-means per subspace (seeds = the first k corpus vectors'
    * slices, `iters` Lloyd rounds — iters=0 keeps the oracle-replayable
    * seed codebooks). Returns books(j)(c) = centroid array of length dim/m.
    *
    * Storage math at 100 TB: m=8 codes of 1 byte replace 64 float32s —
    * 32× smaller than raw, 8× smaller than int8, with ADC scoring below. */
  def pqTrain(corpus: DataFrame, m: Int, k: Int, iters: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding",
              dim: Int = 64): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    if (iters == 0) {
      // seed codebooks need ONE k-row collect, sliced driver-side —
      // not m separate jobs through ivfIndex
      val seeds = corpus.orderBy(col(idCol)).limit(k).select(col(vecCol))
        .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
      require(seeds.length == k,
        s"pqTrain: corpus has only ${seeds.length} rows, need k=$k seeds")
      Array.tabulate(m, k)((j, c) => seeds(c).slice(j * sub, (j + 1) * sub))
    } else (0 until m).toArray.map { j =>
      val sliced = corpus.select(col(idCol),
        slice(col(vecCol), j * sub + 1, sub).as("__sv"))
      val (_, centroids) =
        ivfIndex(sliced, k, iters, idCol, "__sv")
      centroids.sortBy(_._1).map(_._2)
    }
  }

  /** PQ encode: array of m codebook indices (one per subspace), each the
    * exact-arithmetic argmin of −2·v·c + ‖c‖² with ties to the smallest
    * code — the same deterministic cell rule as [[ivfIndex]]. Narrow,
    * zero-shuffle; this is the column you'd write bucketed at ingest.
    * Native kernel (one loop/row), bit-identical to the Column formulation
    * the specs compare it with (m×k struct cells + array_sort — ~100×
    * slower). */
  def pqEncode(vec: Column, books: Array[Array[Array[Double]]]): Column =
    graft.expressions.native.pq_encode(vec, books)

  /** PQ search by asymmetric distance computation (ADC): the query stays
    * full-precision; each candidate contributes Σ_j q_slice_j · book_j[code_j]
    * — an approximate dot product read from the codes alone, never touching
    * the original vectors. Queries broadcast; the encoded corpus (m bytes
    * per vector) is scanned once, never shuffled. `corpus` must carry the
    * [[pqEncode]] column named `codesCol`. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             books: Array[Array[Array[Double]]], k: Int,
             qId: String = "vec_id", cId: String = "vec_id",
             qVec: String = "embedding",
             codesCol: String = "__codes"): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(codesCol))
    // native one-loop ADC kernel; accumulation order matches the unrolled
    // Σ_j dot_f(slice, element_at(cbLit)) form bit-for-bit (the SQL
    // oracle replays that order), ~m× fewer array allocations per pair
    val score = graft.expressions.native.adc_score(
      col("__qv"), col(codesCol), books)
    val scored = broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score)
    topKPerQuery(scored, k, "score")
  }

  /** IVF-PQ search (the FAISS-style pairing, public technique): the IVF
    * coarse quantizer prunes candidates to the query's `nprobe` cells, and
    * PQ/ADC scores the survivors from their m-byte codes — at 100 TB the
    * scan reads nprobe/k of the PARTITIONS (see [[writeIvfBucketed]]) and
    * m bytes per candidate instead of the full vector. `corpus` must carry
    * both `__cid` ([[ivfIndex]]) and `codesCol` ([[pqEncode]]). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                centroids: Array[(Int, Array[Double])],
                books: Array[Array[Array[Double]]],
                nprobe: Int, k: Int,
                qId: String = "vec_id", cId: String = "vec_id",
                qVec: String = "embedding",
                codesCol: String = "__codes"): DataFrame = {
    val cellStructs = centroids.map { case (cid, cvec) =>
      val dist = lit(-2.0) * graft.expressions.native.dot_f(col(qVec),
        typedLit(cvec.toSeq)) + lit(cvec.map(x => x * x).sum)
      struct(dist.as("d"), lit(cid).as("cid"))
    }
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"),
      explode(slice(array_sort(array(cellStructs.toIndexedSeq: _*)), 1,
        nprobe)).as("__cell"))
      .select(col("query_id"), col("__qv"), col("__cell.cid").as("__cid"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(codesCol),
      col("__cid"))
    // native one-loop ADC kernel — see pqTopK
    val score = graft.expressions.native.adc_score(
      col("__qv"), col(codesCol), books)
    // broadcast: see ivfTopK — never shuffle the corpus on the cell key;
    // probed-cell literal filter: see pruneToProbedCells
    val scored = broadcast(q).join(pruneToProbedCells(q, c), Seq("__cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score)
    topKPerQuery(scored, k, "score")
  }

  /** Approximate top-k: score only within the query's hyperplane bucket.
    * The bucket equi-join shuffles both sides by bucket id — at 100 TB this
    * replaces an O(N·Q) scan with O(N·Q/2^planes) per-bucket work. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              numPlanes: Int, dim: Int,
              qId: String = "vec_id", cId: String = "vec_id",
              qVec: String = "embedding", cVec: String = "embedding")
      : DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"),
      hyperplaneBucket(col(qVec), numPlanes, dim).as("__bucket"))
      .withColumn("__qn", norm(col("__qv")))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"),
      hyperplaneBucket(col(cVec), numPlanes, dim).as("__bucket"))
      .withColumn("__cn", norm(col("__cv")))
    val scored = q.join(c, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineFromNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    topKPerQuery(scored, k, "sim")
  }
}
