package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB):
  *  - [[exact]]: one hash-shuffle on the dedup key — the minimal possible.
  *  - [[minHashSignaturesNative]]: ZERO shuffle — a per-row native kernel
  *    computes the whole signature inside the scan stage.
  *  - [[lshCandidatePairs]]: one explode + one groupBy on (band, bandHash) —
  *    the canonical shingle→minhash→band→bucket-join plan; emits linear star
  *    edges per bucket, never quadratic cliques.
  *  - [[simHash64Native]]: zero shuffle per-row signature; pairing joins on the
  *    4-bit-block bands of the signature.
  */
object Dedup {

  /** Exact dedup: keep the min id per normalized-content group.
    * Returns (keepId, nCopies) per distinct content. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup with a KEEP POLICY: within each duplicate group, keep the
    * row maximizing `preferBy` (e.g. quality score, length), ties broken by
    * MIN id (deterministic). One aggregation — `max_by` over a struct, no
    * window, no second shuffle. Returns (keep_id, n_copies) per group. */
  def exactKeepBest(df: DataFrame, idCol: String, keyCols: Seq[Column],
                    preferBy: Column): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(
        max_by(col(idCol), struct(preferBy.as("p"), (-col(idCol)).as("nid")))
          .as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** MinHash signature ([[graft.expressions.TextMinHash]]) and 64-bit
    * SimHash ([[graft.expressions.TextSimHash64]]) as native tight-loop
    * kernels, NO shuffle: one pass over the UTF-8 bytes, no per-shingle
    * allocation. */
  def minHashSignaturesNative(text: Column, numHashes: Int,
                              shingleSize: Int = 5): Column =
    graft.expressions.native.minhash(text, numHashes, shingleSize)
  def simHash64Native(text: Column): Column =
    graft.expressions.native.simhash64(text)

  /** Banded LSH candidate edges from a signature column.
    * rowsPerBand consecutive signature entries form a band; documents sharing
    * any full band are candidates. One explode + one shuffle on the bucket.
    *
    * Emits STAR edges (bucket-min id → other member), not all-pairs cliques:
    * linear in bucket size where cliques are quadratic, and union-find /
    * connected-components over star edges yields the identical duplicate
    * groups. A pathological bucket (boilerplate spam) therefore costs O(n),
    * not O(n²) — the difference between a working and a dead job at 100 TB.
    * (The all-pairs variant ran 7× slower on the dense synthetic corpus.) */
  def lshCandidatePairs(df: DataFrame, idCol: String, sigCol: String,
                        numHashes: Int, rowsPerBand: Int,
                        allPairsCap: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val numBands = bandCount(numHashes, rowsPerBand)
    // A document with NO shingles (shorter than the shingle size) carries the
    // all-Long.MaxValue sentinel signature; every such doc would collide in
    // every band and verify/delete each other downstream. Exclude them here:
    // sig[0] can only be MaxValue when no shingle was folded in (real hashes
    // are h1 + k·h2 < 2^36 << MaxValue).
    val nonEmpty = df.where(element_at(col(sigCol), 1) =!= lit(Long.MaxValue))
    val banded = nonEmpty.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(numBands - 1)),
        b => struct(b.as("band"),
          xxhash64(concat_ws(",",
            slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand))), b)
            .as("bucket")))))
      .select(col(idCol), col("col.band"), col("col.bucket"))
    pairsFromBuckets(banded, idCol, allPairsCap)
  }

  /** Edge emission from pre-bucketed `(idCol, band, bucket)` rows — the
    * pairing core of [[lshCandidatePairs]], also driven directly by the
    * oracle-exact twin (q_minhash_pairs_exact buckets on RAW signature
    * slices instead of xxhash64 so DuckDB can replay bucket membership AND
    * this emission logic value-for-value).
    *
    * RECALL vs blow-up:
    *  - buckets ≤ allPairsCap emit ALL pairs (≤ cap²/2 each, so per-doc
    *    candidates stay ≤ bands × cap): pure star edges silently LOST
    *    moderate-similarity pairs whose bucket min was NOT similar to both
    *    (verification pruned the min's edges and CC never connected them —
    *    found on a repetitive corpus, SCALING.md "Near-dup recall probe");
    *  - bigger buckets (boilerplate clusters) emit star + CHAIN edges —
    *    linear in bucket size, computed with windows so a hot bucket never
    *    materializes an id array on one task. */
  private[graft] def pairsFromBuckets(banded: DataFrame, idCol: String,
                                      allPairsCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("band", "bucket").orderBy(col(idCol))
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val annotated = banded
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__n") >= 2)
      .withColumn("__min", min(col(idCol)).over(wAll))
      .withColumn("__next", lead(col(idCol), 1).over(w))
    val big = annotated.where(col("__n") > allPairsCap)
    val star = big.where(col(idCol) =!= col("__min"))
      .select(col("__min").as("a"), col(idCol).as("b"))
    val chain = big.where(col("__next").isNotNull)
      .select(col(idCol).as("a"), col("__next").as("b"))
    val smallPairs = annotated.where(col("__n") <= allPairsCap)
      .groupBy("band", "bucket")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1), i ->
          |  transform(slice(ids, i + 1, size(ids) - i), x ->
          |    named_struct('a', element_at(ids, i), 'b', x))))"""
          .stripMargin)).as("p"))
      .select(col("p.a"), col("p.b"))
    smallPairs.unionAll(star).unionAll(chain)
      .where(col("a") =!= col("b")).distinct()
  }

  /** Banded SimHash candidate pairs with inline Hamming verification: the
    * 64-bit signature is banded into `numBands` blocks of `bitsPerBand` bits;
    * documents sharing any block value are candidates (near-dups agree on ≥1
    * block with high probability at small Hamming distance).
    *
    * Edge emission mirrors [[lshCandidatePairs]] exactly:
    *  - blocks ≤ `allPairsCap` members emit ALL pairs (cap² is tiny) — full
    *    recall where it's cheap; star-only/chain-only emission loses a valid
    *    pair (x,y) whenever neither the block min nor a consecutive chain
    *    link passes the Hamming filter (e.g. members [1,2,3,4] where only
    *    (2,4) is within range);
    *  - bigger blocks (boilerplate clusters) emit window-computed star +
    *    chain edges — linear in block size, and a hot block never
    *    materializes a member array on one task.
    * Signatures travel WITH the window rows, so the Hamming check is inline —
    * no join back to the corpus. Returns (a, b, hamming), a < b. */
  def simhashCandidatePairs(sigs: DataFrame, idCol: String, sigCol: String,
                            numBands: Int = 4, bitsPerBand: Int = 16,
                            maxHamming: Int = 3,
                            allPairsCap: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bitsPerBand >= 1 && bitsPerBand < 64 &&
      numBands * bitsPerBand <= 64,
      s"simhash banding must fit a 64-bit signature: " +
        s"$numBands bands × $bitsPerBand bits")
    // guaranteed-recall note: maxHamming < numBands ⇒ a pair within the
    // budget always shares ≥1 band (pigeonhole); above that recall is
    // probabilistic
    val mask = (1L << bitsPerBand) - 1L
    val banded = sigs.select(col(idCol), col(sigCol).as("__sig"),
      explode(array((0 until numBands).map(b => struct(lit(b).as("band"),
        shiftright(col(sigCol), b * bitsPerBand).bitwiseAND(lit(mask))
          .as("block"))): _*)).as("e"))
      .select(col(idCol), col("__sig"), col("e.band"), col("e.block"))
    // Over-cap blocks emit chain edges over TWO orderings of the same
    // partition — both linear:
    //  - (signature, id) order: every run of IDENTICAL signatures is
    //    consecutive, so exact-sig duplicates (the boilerplate case)
    //    connect at any block size, and sig-sorted neighbors are the
    //    Hamming-closest candidates (the dedupSemantic projection-order
    //    lesson);
    //  - id order: preserves recall for near-pairs whose sigs sort far
    //    apart (a single flipped high bit) — dropping this chain lost
    //    811 of 4133 eligible Hamming≤3 pairs (SCALING.md, "SimHash
    //    pairing probe").
    val wSig = Window.partitionBy("band", "block")
      .orderBy(col("__sig"), col(idCol))
    val wId = Window.partitionBy("band", "block").orderBy(col(idCol))
    val wAll = wSig.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val annotated = banded
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__n") >= 2)
      .withColumn("__aid", first(col(idCol)).over(wAll))
      .withColumn("__asig", first(col("__sig")).over(wAll))
      .withColumn("__nextS", lead(col(idCol), 1).over(wSig))
      .withColumn("__nextSsig", lead(col("__sig"), 1).over(wSig))
      .withColumn("__nextI", lead(col(idCol), 1).over(wId))
      .withColumn("__nextIsig", lead(col("__sig"), 1).over(wId))
    val big = annotated.where(col("__n") > allPairsCap)
    val star = big.where(col(idCol) =!= col("__aid"))
      .select(col("__aid").as("a"), col(idCol).as("b"),
        hamming64(col("__asig"), col("__sig")).as("hamming"))
    val chain = big.where(col("__nextS").isNotNull)
      .select(col(idCol).as("a"), col("__nextS").as("b"),
        hamming64(col("__sig"), col("__nextSsig")).as("hamming"))
      .unionAll(big.where(col("__nextI").isNotNull)
        .select(col(idCol).as("a"), col("__nextI").as("b"),
          hamming64(col("__sig"), col("__nextIsig")).as("hamming")))
    val small = annotated.where(col("__n") <= allPairsCap)
      .groupBy("band", "block")
      .agg(sort_array(collect_list(
        struct(col(idCol).as("id"), col("__sig").as("sig")))).as("ms"))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ms) - 1), i ->
          |  transform(slice(ms, i + 1, size(ms) - i), x ->
          |    named_struct('a', element_at(ms, i).id,
          |                 'siga', element_at(ms, i).sig,
          |                 'b', x.id, 'sigb', x.sig))))""".stripMargin))
        .as("p"))
      .select(col("p.a"), col("p.b"),
        hamming64(col("p.siga"), col("p.sigb")).as("hamming"))
    small.unionAll(star).unionAll(chain)
      .where(col("hamming") <= maxHamming && col("a") =!= col("b"))
      // the sig-ordered anchor can emit (a, b) with a > b; normalize so
      // the documented a < b contract holds and symmetric dups collapse
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("hamming"))
      .distinct()
  }

  /** Hybrid connected components: verified near-dup EDGE lists are orders of
    * magnitude smaller than the corpus (every edge costs a Jaccard pass to
    * exist), so up to `driverMaxEdges` the components are computed with
    * driver-side union-find in milliseconds — ~10M edges is a few seconds
    * and well inside driver memory. Beyond that, fall back to the
    * distributed [[connectedComponentsStars]]. Both return
    * (v, component=min id). */
  def connectedComponents(edges: DataFrame,
                          driverMaxEdges: Long = 10000000L,
                          maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Materialize(edges.select(col("a").cast("long"), col("b").cast("long")))
    if (Materialize.rowCount(e) > driverMaxEdges)
      return starsFrom(Materialize.superseding(e)(canon(e)), maxIter)
    val parent = collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    e.as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min id so component == min reachable id
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
    }
    parent.keys.toSeq.map(v => (v, find(v))).toDF("v", "component")
  }

  /** Distributed CC by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm): converges in O(log² n) rounds and, unlike
    * per-node label propagation, each phase is ONE aggregation + ONE join
    * with no adjacency-list materialization — a 10⁷-degree hub node costs a
    * partial min, not a 10⁷-element collect. This is the 100 TB path.
    *
    * Returns (v, component) where component = min id reachable from v. */
  def connectedComponentsStars(edges: DataFrame,
                               maxIter: Int = 30): DataFrame =
    starsFrom(Materialize(canon(edges)), maxIter)

  private def canon(e: DataFrame) =
    e.select(least(col("a"), col("b")).cast("long").as("a"),
        greatest(col("a"), col("b")).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()

  /** Star rounds from `first`, canonical edges stored by [[Materialize]]. */
  private def starsFrom(first: DataFrame, maxIter: Int): DataFrame = {
    // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
    }
    // small-star: smaller neighbors (and u itself) link to the min
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val m = dir.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      dir.join(m, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
    }
    // (count, hash-XOR) signature: one cheap agg per round decides
    // convergence without a set-difference join (XOR can't overflow)
    def sig(e: DataFrame) =
      e.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head()
    var cur = first
    var iter = 0
    var done = false
    var curSig = sig(cur)
    while (iter < maxIter && !done) {
      val next = Materialize.superseding(cur)(canon(smallStar(largeStar(cur))))
      val nextSig = sig(next)
      done = nextSig == curSig
      cur = next; curSig = nextSig; iter += 1
    }
    // The closing select below is ONLY valid at the fixpoint (star forest:
    // every edge is (root=min, member)). A non-converged edge set would
    // silently mislabel members — fail loudly instead; callers raise maxIter.
    if (!done) throw new IllegalStateException(
      s"connectedComponentsStars did not converge in $maxIter rounds " +
        s"(${curSig.getLong(0)} edges remain); raise maxIter")
    cur.select(col("b").as("v"), col("a").as("component"))
      .union(cur.select(col("a").as("v"), col("a").as("component")))
      .distinct()
  }

  /** End-to-end near-duplicate removal:
    * minhash signatures (native, zero shuffle) → banded LSH candidate star
    * edges → exact n-gram Jaccard verification ≥ `threshold` → connected
    * components → keep the min id per component.
    * Returns the deduplicated frame (adds nothing, drops near-dups). */
  /** The LSH-candidate → exact-jaccard verify stage of [[dedupNear]],
    * exposed so the parallelism pin below is spec-assertable.
    *
    * The jaccard verification is ~100× more CPU per byte than a scan, and
    * the candidate-pair rows are 16 bytes — AQE's byte-based partition
    * coalescing collapses them to one or two tasks and SERIALIZES the
    * kernel (measured at sf0.1: 4.2s one-task verify → 0.7s after an
    * explicit repartition). Pin the parallelism with a
    * user repartition of the SLIM pair list before the shingle-set joins:
    * its shuffle origin is REPARTITION_BY_NUM, which AQE's coalescer is
    * DEFINED to leave alone, so the pin holds under any AQE config.
    *
    * Each document's shingle set is built ONCE (`shingle_hashes`, a sorted
    * distinct array<long>) and the pairs join to the sets, so a pair costs
    * one merge pass (`sorted_jaccard`) — joining to the texts rebuilt both
    * documents' sets for every pair (~20k builds for ~10k pairs over 3.3k
    * documents). The values equal `ngram_jaccard` on the texts. The
    * trade-off is size: a set is 8 bytes per distinct shingle against ~1
    * byte per character of text, so the broadcast (or, at 100 TB, the
    * shuffle) of the join's document side is up to ~8× larger. At bench
    * scale the sets broadcast (AQE) and the pin carries into the jaccard
    * stage; at 100 TB the joins shuffle anyway and repartitioning 16-byte
    * rows is noise. */
  private[graft] def verifiedPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int,
      rowsPerBand: Int, shingleSize: Int): DataFrame = {
    val withSig = df.select(col(idCol),
      minHashSignaturesNative(col(textCol), numHashes, shingleSize).as("sig"))
    val candidates = lshCandidatePairs(withSig, idCol, "sig",
      numHashes, rowsPerBand)
    val numParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val sets = df.select(col(idCol), graft.expressions.native
      .shingle_hashes(col(textCol), shingleSize).as("__s"))
    candidates.repartition(numParts)
      .join(sets.select(col(idCol).as("a"), col("__s").as("__sa")), "a")
      .join(sets.select(col(idCol).as("b"), col("__s").as("__sb")), "b")
      .where(graft.expressions.native.sorted_jaccard(
        col("__sa"), col("__sb")) >= threshold)
      .select(col("a"), col("b"))
  }

  def dedupNear(df: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.8, numHashes: Int = 16,
                rowsPerBand: Int = 4, shingleSize: Int = 5,
                preferBy: Option[DataFrame => Column] = None): DataFrame = {
    val verified = verifiedPairs(df, idCol, textCol, threshold,
      numHashes, rowsPerBand, shingleSize)
    val comps = connectedComponents(verified)
    preferBy match {
      case None =>
        // default policy: keep the min id = the component label itself
        df.join(comps.where(col("v") =!= col("component"))
            .select(col("v").as(idCol)),
          Seq(idCol), "left_anti")
      case Some(pref) =>
        // keep-best policy: within each near-dup component keep the row
        // maximizing `pref` (ties → min id); rows outside any component
        // always survive. One extra broadcast-sized join (components are
        // the dup minority) + one max_by agg.
        val member = df.join(comps.withColumnRenamed("v", idCol), Seq(idCol),
          "left")
        val keep = member.where(col("component").isNotNull)
          .groupBy(col("component"))
          .agg(max_by(col(idCol),
            struct(pref(member).as("p"), (-col(idCol)).as("nid")))
            .as("__keep"))
          .select(col("__keep").as(idCol))
        member.where(col("component").isNull).drop("component")
          .unionByName(df.join(keep, Seq(idCol), "left_semi"))
    }
  }

  /** Benchmark-contamination check — the DECONTAMINATION pass of a
    * pretraining pipeline: for each document, the number of its distinct
    * word n-grams that appear anywhere in the benchmark set's n-grams.
    * Docs with n_hits > 0 are candidates for exclusion (their text leaks
    * eval data). The benchmark side is tiny by nature (eval sets) →
    * broadcast; the corpus is NEVER shuffled — only matched (doc, gram)
    * pairs reach the per-doc count, so at 100 TB the cost is one scan +
    * a broadcast hash probe per gram. Returns (idCol, n_hits), hits > 0
    * only. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int = 3): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(tokenShingles(col(textCol), n)).as("__g"))
    val benchGrams = bench.select(
        explode(tokenShingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    grams.join(broadcast(benchGrams), Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[contamination]] with a BLOOM-FILTER prefilter — the 100 TB scale
    * path when the benchmark suite is large enough that broadcasting its
    * raw distinct n-grams (dozens of bytes each) hurts. The bloom is built
    * by Spark's own `BloomFilterAggregate` (executor-side partial filters
    * OR-merged, exactly like any partial agg — the driver only receives
    * the final ~`1.2·items·|ln fpp|/ln²2 / 8` bytes, e.g. ~1.2 MB per
    * million grams at 1% fpp, ~10× smaller than the gram strings), then
    * embedded as a foldable binary literal so `BloomFilterMightContain`
    * stays inside whole-stage codegen in the corpus scan. Surviving
    * (doc, gram) candidates — the true hits plus the fpp sliver — are then
    * confirmed against the exact gram set, so the RESULT is identical to
    * [[contamination]] (bloom errors only cost a confirm probe, never a
    * wrong answer) and the same oracle replays it. */
  def contaminationBloom(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         n: Int = 3, fpp: Double = 0.01): DataFrame = {
    // read eagerly twice (sizing count + bloom build); the lazy confirm join
    // below recomputes it, one explode+distinct over the small bench side
    val benchGrams = bench.select(
        explode(tokenShingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    val blob = Materialize.within(benchGrams)(gramBloom(_, fpp))
    val grams = docs.select(col(idCol),
      explode(tokenShingles(col(textCol), n)).as("__g"))
    grams.where(mightContainGram(blob, col("__g"))) // codegen'd scan gate
      .join(broadcast(benchGrams), Seq("__g"))      // exact confirm
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Build a bloom blob over a one-column DataFrame of gram strings (column
    * `__g`) — Spark's `BloomFilterAggregate`, executor-built, OR-merged
    * like any partial agg; only the final blob reaches the driver. Sizing
    * is the classic optimum m = ⌈-n·ln(p)/ln²2⌉ from the TRUE distinct
    * count, so the realized fpp equals the requested one. ONE builder
    * shared by the batch gate ([[contaminationBloom]]) and the streaming
    * gate (`StreamingOps.flagContaminationStream`) — the two paths cannot
    * diverge on hashing or sizing. */
  def gramBloom(grams: DataFrame, fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val EU = org.apache.spark.sql.GraftBridge
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val nItems = math.max(grams.count(), 1L)
    val numBits = math.max(64L,
      math.ceil(-nItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate SILENTLY clamps both sizing args to the runtime-
    // filter conf caps (default 4M items / 64M bits) — past the cap the
    // realized fpp quietly degrades toward 1 and the prefilter stops
    // pruning, exactly in the large-suite regime this path exists for.
    // Raise the caps for the session before building so requested == built.
    val spark = grams.sparkSession
    def raiseCap(key: String, needed: Long): Unit =
      if (spark.conf.get(key).toLong < needed)
        spark.conf.set(key, needed.toString)
    raiseCap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", nItems)
    raiseCap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits)
    val hashed = new XxHash64(Seq(EU.expression(col("__g"))))
    grams.select(EU.column(new BloomFilterAggregate(hashed,
        Literal(nItems), Literal(numBits)).toAggregateExpression()).as("__b"))
      .head().getAs[Array[Byte]](0)
  }

  /** Codegen'd bloom membership probe for a gram column against a
    * [[gramBloom]] blob (embedded as a foldable binary literal). */
  def mightContainGram(blob: Array[Byte], g: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.types.BinaryType
    val EU = org.apache.spark.sql.GraftBridge
    EU.column(BloomFilterMightContain(Literal(blob, BinaryType),
      new XxHash64(Seq(EU.expression(g)))))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** n-gram Jaccard similarity between two texts' distinct shingle sets.
    * Two empty shingle sets score 0.0 (not duplicates), matching the native
    * [[graft.expressions.TextNGramJaccard]]. */
  def nGramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val (sa, sb) = (distinctShingles(a, n), distinctShingles(b, n))
    val inter = size(array_intersect(sa, sb))
    // |A ∪ B| = |A| + |B| − |A ∩ B| (array_union not needed)
    val union = size(sa) + size(sb) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union)
  }

  /** INCREMENTAL near-dup filtering: drop batch documents that near-match
    * an EXISTING corpus's signature index — the daily-ingest shape of a
    * pretraining pipeline, where the crawled batch is deduped against
    * everything already kept WITHOUT touching the corpus text. Both sides
    * carry a MinHash signature array; candidates share any band (the raw
    * `rowsPerBand`-slice of the signature is the join key — no engine
    * hashing, so external engines replay it exactly), and a candidate
    * match is confirmed when the fraction of agreeing signature components
    * ≥ `minAgree` (the standard MinHash Jaccard estimate — no text join).
    * Returns the batch rows that survive.
    *
    * Scale shape: one keyed shuffle join per side on (band, slice); the
    * index is ~1 row per kept doc × bands, written once and reused per
    * batch; the batch is the small side by nature — Catalyst broadcasts it
    * when stats allow. */
  /** Per-band signature slice used as the candidate-gate join key — the
    * ONE definition shared by the batch and streaming incremental dedup
    * (editing the banding in one twin cannot silently diverge the other). */
  private[graft] def sigBandKey(sig: Column, band: Column,
                                rowsPerBand: Int): Column =
    slice(sig, band * rowsPerBand + 1, lit(rowsPerBand))

  /** numHashes / rowsPerBand with the divisibility guarded: integer
    * division would silently exclude the trailing signature components
    * from banding (candidate recall loss) while sigAgreement still counts
    * them in its denominator. Shared by every banding site, batch and
    * streaming. */
  private[graft] def bandCount(numHashes: Int, rowsPerBand: Int): Int = {
    require(rowsPerBand > 0 && numHashes % rowsPerBand == 0,
      s"rowsPerBand ($rowsPerBand) must evenly divide numHashes " +
        s"($numHashes); a remainder would silently drop the trailing " +
        "signature components from banding")
    numHashes / rowsPerBand
  }

  /** (band, key) rows of a signature array, one per band. */
  private[graft] def sigBanded(sig: Column, numBands: Int,
                               rowsPerBand: Int): Column =
    explode(transform(sequence(lit(0), lit(numBands - 1)),
      b => struct(b.as("band"), sigBandKey(sig, b, rowsPerBand).as("key"))))

  /** Fraction of agreeing signature components — the MinHash Jaccard
    * estimate. Shared by the batch and streaming twins. */
  private[graft] def sigAgreement(a: Column, b: Column,
                                  numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  def dedupAgainstIndex(batch: DataFrame, index: DataFrame, idCol: String,
                        sigCol: String, numHashes: Int, rowsPerBand: Int,
                        minAgree: Double = 0.5): DataFrame = {
    val numBands = bandCount(numHashes, rowsPerBand)
    def banded(df: DataFrame, outId: String, outSig: String): DataFrame =
      df.select(col(idCol).as(outId), col(sigCol).as(outSig),
        sigBanded(col(sigCol), numBands, rowsPerBand).as("e"))
        .select(col(outId), col(outSig), col("e.band"), col("e.key"))
    val matched = banded(batch, "__bid", "__bsig")
      .join(banded(index, "__iid", "__isig"), Seq("band", "key"))
      .where(sigAgreement(col("__bsig"), col("__isig"), numHashes)
        >= minAgree)
      .select(col("__bid").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** SEMANTIC near-duplicate removal over an embedding column (the
    * SemDeDup-style pass of a pretraining pipeline, public technique):
    * hyperplane-LSH buckets gate candidate generation, cosine ≥ `threshold`
    * verifies, connected components group, min id per group survives.
    *
    * Edge emission mirrors [[lshCandidatePairs]]: buckets ≤ `allPairsCap`
    * self-join all pairs (≤ cap²/2 each — the cap IS the blow-up guard);
    * bigger buckets emit window-computed star + chain edges with the
    * vectors carried alongside, so verification is inline and a hot bucket
    * never materializes a member array on one task.
    *
    * Over-cap buckets order the window by the EXACT plane-0 PROJECTION
    * value (then id), not by id: identical vectors share the projection,
    * so every run of exact copies is CONSECUTIVE and the chain edges
    * connect it regardless of bucket size — ordering by id left copies
    * separated by thousands of unrelated members and the chain found
    * almost none of them (measured: 804 of 1000 planted copies survived a
    * 500k-vector probe; 0 survive with projection order — SCALING.md,
    * "Semantic-dedup recall probe"). The star anchor is the first row in
    * the same order. Near-dups BELOW cosine 1 sort nearby but not
    * necessarily adjacent: for θ < 1 recall in over-cap buckets, raise
    * `numPlanes` until buckets fall under the cap (the all-pairs path is
    * exact). Short vectors (bucket NULL) are never candidates. */
  def dedupSemantic(embs: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numPlanes: Int, dim: Int,
                    allPairsCap: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // TWO projections in the sort key: quantized embeddings can collide
    // on one exact projection value (lattice collisions interleaved an
    // unrelated vector into a copy run and broke its chain — 3 of 1000
    // planted copies survived the 500k probe with p0 alone); colliding on
    // both is vanishing
    def proj(j: Int) = graft.expressions.native.dot_f(col("__v"),
      typedLit(Similarity.planeWeights(j, dim)))
    val b = embs.select(col(idCol), col(vecCol).as("__v"),
        Similarity.hyperplaneBucket(col(vecCol), numPlanes, dim)
          .as("__bucket"))
      .where(col("__bucket").isNotNull)
      .withColumn("__p0", proj(0))
      .withColumn("__p1", proj(1))
    val w = Window.partitionBy("__bucket")
      .orderBy(col("__p0"), col("__p1"), col(idCol))
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val annotated = b
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__n") >= 2)
      .withColumn("__aid", first(col(idCol)).over(wAll))
      .withColumn("__av", first(col("__v")).over(wAll))
      .withColumn("__next", lead(col(idCol), 1).over(w))
      .withColumn("__nextv", lead(col("__v"), 1).over(w))
    val big = annotated.where(col("__n") > allPairsCap)
    val star = big.where(col(idCol) =!= col("__aid"))
      .select(col("__aid").as("a"), col(idCol).as("b"),
        Similarity.cosine(col("__av"), col("__v")).as("__sim"))
    val chain = big.where(col("__next").isNotNull)
      .select(col(idCol).as("a"), col("__next").as("b"),
        Similarity.cosine(col("__v"), col("__nextv")).as("__sim"))
    val small = annotated.where(col("__n") <= allPairsCap)
      .select(col("__bucket"), col(idCol), col("__v"))
    val smallPairs = small
      .select(col("__bucket"), col(idCol).as("a"), col("__v").as("__va"))
      .join(small.select(col("__bucket"), col(idCol).as("b"),
        col("__v").as("__vb")), Seq("__bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        Similarity.cosine(col("__va"), col("__vb")).as("__sim"))
    // No distinct before CC (r14): one vector lives in exactly ONE bucket,
    // so a pair can repeat at most ×2 — smallPairs and big buckets are
    // disjoint, and within a big bucket only the anchor's star edge to the
    // second vector duplicates the first chain edge. Union-find is
    // idempotent on duplicate edges and the stars path re-canonicalizes
    // anyway, so the distinct was a pure extra exchange+aggregate stage.
    // The driverMaxEdges count sees up to 2× the distinct edges, so a
    // workload near the cap switches to the distributed stars path early.
    val verified = smallPairs.unionAll(star).unionAll(chain)
      .where(col("__sim") >= threshold)
      .select(col("a"), col("b"))
    val comps = connectedComponents(verified)
    embs.join(comps.where(col("v") =!= col("component"))
      .select(col("v").as(idCol)), Seq(idCol), "left_anti")
  }

  /** WITHIN-document repeated-paragraph removal (the Gopher/CCNet
    * "repetition removal" cleanup): keep each paragraph's FIRST occurrence
    * in its document, in order. Pure narrow expression — `array_distinct`
    * preserves first-occurrence order — so this is zero-shuffle at any
    * scale. */
  def dedupParagraphsInDoc(text: Column, sep: String = "\n"): Column =
    concat_ws(sep, array_distinct(split(text, java.util.regex.Pattern
      .quote(sep))))

  /** CORPUS-WIDE paragraph dedup (the C4/RefinedWeb boilerplate-removal
    * pass): a paragraph survives only at its globally FIRST occurrence —
    * minimal (id, position) over every document containing it — so
    * repeated boilerplate ("subscribe to our newsletter", license
    * headers) is kept exactly once across the whole corpus. Paragraphs
    * shorter than `minChars` after trimming are exempt (blank separators
    * and stray punctuation are not boilerplate; deduping "" would delete
    * every blank line in the corpus).
    *
    * Returns (idCol, clean text, n_kept, n_dropped) — docs reassembled in
    * paragraph order; a doc whose every paragraph was dropped keeps an
    * empty string.
    *
    * Scale shape (100 TB): three keyed shuffles, no driver state —
    *  1. groupBy(paragraph) min(struct(id, pos)): partial-aggregated, so
    *     a paragraph duplicated 10⁹× combines map-side;
    *  2. join occurrences back on the paragraph (keeper side is one row
    *     per distinct paragraph; a mega-hot key is 1:N probe-side only —
    *     AQE skew split applies);
    *  3. groupBy(id) to reassemble (per-doc fan-in is bounded by the
    *     document's own paragraph count, never corpus-sized).
    * Keys are the paragraph STRINGS so external engines replay the result
    * exactly; a production variant can key shuffles 1-2 on
    * xxhash64(paragraph) to shrink shuffle bytes (collision ~2⁻⁶⁴). */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n", minChars: Int = 2): DataFrame = {
    val paras = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__p")))
      .withColumn("__eligible", length(trim(col("__p"))) >= minChars)
    val keepers = paras.where(col("__eligible"))
      .groupBy(col("__p"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    val kept = paras.join(keepers, Seq("__p"), "left")
      .where(!col("__eligible") ||
        (col("__first.__id") === col("__id") &&
         col("__first.__pos") === col("__pos")))
    val reassembled = kept.groupBy(col("__id"))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("__pos"), col("__p")))),
          s => s.getField("__p"))).as("__clean"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("__id"),
        size(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .cast("long").as("__total"))
      .join(reassembled, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
