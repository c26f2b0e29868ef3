package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity, Multimodal, Sampling, Chunking}

/** Training-data pipeline operators over `documents` / `embeddings`:
  * dedup (exact, minhash-LSH, simhash, n-gram jaccard, embedding cosine),
  * similarity search (brute-force + hyperplane-LSH ANN), text analysis
  * (lang-id, quality, token stats, fingerprint), multimodal plumbing.
  *
  * Oracle-parity notes: all integer arithmetic is exact; double quotients are
  * epsilon-rounded (see Queries.roundSafe rationale); dot products / rolling
  * hashes use sequential left-fold accumulation, verified bit-identical
  * between Spark HOF `aggregate` and DuckDB `list_sum`/`list_reduce`.
  * Engine-specific hashing (xxhash64) appears only in rows-only queries.
  */
object TrainingQueries {
  import Queries.{Q, rd, roundSafe}
  import QuerySpec.{BenchSkip, Headline, Parity}

  private def docs(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "embeddings")

  // ---------------------------------------------------------------------------
  // Dedup family
  // ---------------------------------------------------------------------------

  /** Exact dedup on normalized text: one hash aggregation. */
  val qDedupExact: Q = (s, dir) =>
    Dedup.exact(docs(s, dir), "doc_id", Seq(lower(trim(col("text")))))
      .select(col("keep_id"), col("n_copies"))

  /** Rank-based MinHash signatures (oracle-exact variant; production uses
    * xxhash64, see q_minhash_pairs). Long format: (doc_id, hidx, sig).
    * Capped to doc_id < 200: the global shingle rank (distinct+sort) is an
    * oracle-parity artifact, not a scale path — the cap keeps it out of the
    * bench hot set (it was 13% of round-1 bench time) while staying fully
    * hash-checked. */
  /** The six (a, b) affine hash params shared by the rank-based minhash
    * queries and their oracles. */
  private val rankHs =
    Seq((3L, 1L), (5L, 2L), (7L, 3L), (11L, 4L), (13L, 5L), (17L, 6L))

  /** Large odd multipliers for the agreement-based incremental dedup: with
    * the SMALL rankHs multipliers, min((sid·a+b) mod M) is nearly monotone
    * in sid — every doc containing the lexicographically smallest shingles
    * shares the same sig values, and sig agreement stops estimating
    * Jaccard (measured: 120 of 133 batch docs "matched" the index). Large
    * multipliers wrap mod M many times per step → behave as a proper
    * pseudo-random permutation (measured: agreement ≥ 5/6 selects exactly
    * the 5 ground-truth Jaccard ≥ 0.8 near-dups). sid < 10⁵, so sid·a
    * stays < 2⁴⁸ — exact in Long AND in any SQL BIGINT. */
  private val rankHsBig = Seq(
    (2654435761L, 17L), (2246822519L, 31L), (3266489917L, 47L),
    (668265263L, 61L), (374761393L, 79L), (2147483647L, 97L))

  /** Rank-based minhash signatures, wide form (doc_id, sig0..sig5) for
    * doc_id < 200 — the oracle-exact sig computation shared by
    * q_minhash_rank, q_dedup_pipeline_exact, and (with the big
    * multipliers) q_dedup_incremental. */
  /** (doc_id, sid) rows: every distinct 5-shingle of each id-capped doc
    * with its GLOBAL 1-based lexicographic rank — the oracle-replayable
    * substrate shared by every rank-based sketch: a distributed sort +
    * RDD zipWithIndex (row_number() over a global ORDER BY runs on ONE
    * task; Spark's in-plan `AttachDistributedSequenceExec` stores its
    * child outside [[graft.Materialize]]). */
  private def rankedShingles(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(col("doc_id") < 200)
    val sh = d.select(col("doc_id"),
      explode(TextFunctions.distinctShingles(col("text"), 5)).as("sh"))
    val distinctSorted = sh.select("sh").distinct().orderBy("sh")
    val ranks = {
      val sess = s
      import sess.implicits._
      distinctSorted.as[String].rdd.zipWithIndex()
        .map { case (v, i) => (v, i + 1L) }.toDF("sh", "sid")
    }
    sh.join(ranks, "sh")
  }

  private def rankSigsWide(s: SparkSession, dir: String,
                           hs: Seq[(Long, Long)] = rankHs): DataFrame = {
    val withH = rankedShingles(s, dir)
    val aggs = hs.zipWithIndex.map { case ((a, b), i) =>
      min((col("sid") * a + b) % 100003L).as(s"sig$i") }
    withH.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  val qMinhashRank: Q = (s, dir) =>
    rankSigsWide(s, dir)
      .select(col("doc_id"), explode(array(rankHs.indices.map(i =>
        struct(lit(i.toLong).as("hidx"), col(s"sig$i").as("sig"))): _*))
        .as("e"))
      .select(col("doc_id"), col("e.hidx"), col("e.sig"))

  /** FULLY oracle-checked end-to-end near-dup pipeline on the id-capped
    * corpus: rank-based minhash sigs → 3 bands × 2 rows banding on the RAW
    * sig values (no engine hash) → all-pairs candidates per bucket →
    * character-5-gram Jaccard ≥ 0.8 verification → connected components →
    * keep the min id per component. DuckDB replays every stage, including
    * CC via a recursive reachability CTE. The production path
    * (q_dedup_pipeline) keeps xxhash64 sketches + star/chain buckets; this
    * variant pins the SEMANTICS (verify-then-union, keep-min policy) with a
    * value-hash check. All-pairs banding is an oracle artifact, acceptable
    * only under the id cap. */
  val qDedupPipelineExact: Q = (s, dir) => {
    val sigsWide = rankSigsWide(s, dir)
    val banded = sigsWide.select(col("doc_id"), explode(array(
        (0 until 3).map(b => struct(lit(b).as("band"),
          col(s"sig${2 * b}").as("s1"), col(s"sig${2 * b + 1}").as("s2")))
          : _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.s1"), col("e.s2"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.s1") === col("y.s1") &&
          col("x.s2") === col("y.s2") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val texts = docs(s, dir).where(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val verified = cand
      .join(texts.select(col("doc_id").as("a"), col("text").as("__ta")), "a")
      .join(texts.select(col("doc_id").as("b"), col("text").as("__tb")), "b")
      // native pairwise jaccard kernel (primitive sorted shingle sets,
      // shared with verifiedPairs' per-document sets): the HOF form
      // extracts/distincts/intersects ~300-element string arrays per pair
      // and was this query's single dominant job (0.61 s of a 1.76 s wall,
      // per-job profile, r14). Byte shingles == char shingles on
      // this all-ASCII corpus (probed at every SF), parity with the HOF
      // form is spec-pinned (NativeExprSpec), and the DuckDB oracle still
      // replays the char-5-gram values independently — the hash check stays
      // as strong as before.
      .where(graft.expressions.native.ngram_jaccard(
        col("__ta"), col("__tb"), 5) >= 0.8)
      .select(col("a"), col("b"))
    val comps = Dedup.connectedComponents(verified)
    docs(s, dir).where(col("doc_id") < 200)
      .join(comps.where(col("v") =!= col("component"))
        .select(col("v").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Planted-truth machinery for the xxhash64 rows-only trio (VERDICT r9
    * item 6): exact copies of the lowest-id docs are unioned in at
    * `doc_id + PLANT_BASE`. Identical text → identical signature → every
    * band collides, so detection is DETERMINISTIC (no LSH probability in
    * the assertion): a correct pipeline must place each copy in its
    * source's pair-graph component. The emitted rows are the
    * original-corpus pairs (planted ids filtered); NOTE the planting is
    * not perfectly invisible — a copy raises its buckets' member counts
    * by one, so a bucket sitting exactly at allPairsCap flips to
    * star+chain emission and that bucket's original-pair set changes
    * (bounded: at most the ≤40 buckets a planted doc joins. These
    * queries are rows-only checks; the `_exact` oracle twins pin the
    * un-planted pair semantics value-for-value). The check rides along
    * as a broadcast scalar `planted_recall` (1.0 on pass — the
    * q_describe_approx pattern). */
  // 2^40: far above any realistic doc_id (ScaleGen replicas offset by
  // powers of 10 — a 10000x scale of sf0.1 tops out ~5e7), so planted
  // ids can never collide with real ones and the `< PlantBase` output
  // filters never drop legitimate rows
  private val PlantBase = 1L << 40
  private val PlantMaxId = 40L

  private def planted(d: DataFrame): DataFrame =
    d.where(col("doc_id") < PlantMaxId)
      .withColumn("doc_id", col("doc_id") + lit(PlantBase))

  /** Production MinHash+LSH candidate pairs (xxhash64; rows-only check
    * + planted-truth recall column). 4 bands × 4 rows: ~90% recall at
    * jaccard 0.8, ~0.1% false-candidate rate at jaccard 0.2 — tuned for
    * this corpus's dense low-similarity background (2-row bands admitted
    * >1% of all pairs). */
  val qMinhashPairs: Q = (s, dir) => {
    val d = docs(s, dir)
    def pairsOf(src: DataFrame): DataFrame = {
      val withSig = src.select(col("doc_id"),
        Dedup.minHashSignaturesNative(col("text"), numHashes = 16,
          shingleSize = 5).as("sig"))
      Dedup.lshCandidatePairs(withSig, "doc_id", "sig",
        numHashes = 16, rowsPerBand = 4)
    }
    withPlantedRecall(d, pairsOf)
  }

  /** Un-planted pairs + the `planted_recall` scalar from a SEPARATE
    * planted run: planted copies would perturb the shipped rows, since
    * over-cap bucket emissions could flip under the union.
    *
    * Connectivity check is 1-or-2-hop, NOT full CC, and that is SOUND
    * here: an exact copy shares EVERY band bucket with its source, and
    * each shared bucket yields either the direct pair (all-pairs ≤ cap,
    * or the source IS the bucket min) or star edges from both endpoints
    * to the same bucket-min (a common neighbor). The planted run's SMALL
    * pair list (~40k rows at sf0.1) is persisted only while the recall
    * scalar materializes (one 1-row collect). Every build runs the
    * planted pass eagerly, so a timed build pays for the check. */
  private def withPlantedRecall(d: DataFrame,
                                pairsOf: DataFrame => DataFrame): DataFrame = {
    val recall: Double =
      Materialize.within(pairsOf(d.unionByName(planted(d)))) { pairs =>
        val sym = pairs.select(col("a"), col("b"))
          .unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
        // edges INTO planted copies, keyed by the neighbor
        val toCopy = sym.where(col("b") >= PlantBase)
          .select(col("a").as("x"), (col("b") - PlantBase).as("sid"))
        val direct = toCopy.where(col("x") === col("sid")).select("sid")
        val toSrc = sym.where(col("b") < PlantMaxId)
          .select(col("a").as("x"), col("b").as("sid"))
        val twoHop = toCopy.join(toSrc, Seq("x", "sid")).select("sid")
        val hits = direct.unionAll(twoHop).distinct()
          .agg(count(lit(1)).as("nhit"))
        val denom = d.where(col("doc_id") < PlantMaxId)
          .agg(count(lit(1)).as("np"))
        hits.crossJoin(denom)
          .select(roundSafe(col("nhit") / col("np"), 4))
          .head.getDouble(0)
      }
    pairsOf(d).withColumn("planted_recall", lit(recall))
  }

  /** Production 64-bit SimHash near-dup pairs (xxhash64; rows-only check):
    * banded by 16-bit blocks, Hamming-verified inline at distance ≤ 3.
    * Blocks ≤ 32 members emit ALL pairs (full recall where it's cheap);
    * bigger boilerplate blocks emit window-computed star + chain edges —
    * linear in block size, never a per-bucket member array on one task.
    * See [[graft.operators.Dedup.simhashCandidatePairs]]. */
  val qSimhashPairs: Q = (s, dir) => {
    val d = docs(s, dir)
    def pairsOf(src: DataFrame): DataFrame = {
      val sigs = src
        .select(col("doc_id"), Dedup.simHash64Native(col("text")).as("sig"))
      Dedup.simhashCandidatePairs(sigs, "doc_id", "sig",
        numBands = 4, bitsPerBand = 16, maxHamming = 3)
    }
    withPlantedRecall(d, pairsOf)
  }

  /** Oracle-exact twin of q_minhash_pairs: the SAME pairing core
    * ([[Dedup.pairsFromBuckets]] — all-pairs ≤ cap, star+chain above)
    * driven by rank-affine signatures banded on their RAW values instead
    * of xxhash64 buckets, so DuckDB replays bucket membership AND the edge
    * emission value-for-value. allPairsCap=2 pushes every ≥3-member bucket
    * through the star+chain branch — the branch the production rows-only
    * check could never value-verify. Big multipliers per the documented
    * small-multiplier rank degeneracy. */
  val qMinhashPairsExact: Q = (s, dir) => {
    val sigsWide = rankSigsWide(s, dir, rankHsBig)
    val banded = sigsWide.select(col("doc_id"), explode(array(
        (0 until 3).map(b => struct(lit(b).as("band"),
          concat_ws(":", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}"))
            .as("bucket"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bucket"))
    Dedup.pairsFromBuckets(banded, "doc_id", allPairsCap = 2)
  }

  /** Number of signature bits in the rank-affine SimHash twin: 60 (not 64)
    * keeps the packed signature non-negative in a signed 64-bit integer,
    * so shift/div-mod banding and bit_count(xor) agree between engines
    * with no sign-extension edge cases. */
  private val simBits = 60
  /** Per-bit affine hash params: large odd multipliers (wrap mod M many
    * times per rank step — the proper-permutation lesson), derived
    * deterministically so the DuckDB oracle recomputes them inline. */
  private def simA(j: Int): Long = (2654435761L * (2L * j + 1L)) % 4294967296L
  private def simB(j: Int): Long = 97L * j + 31L

  /** 60-bit rank-affine SimHash: bit j of a doc's signature is the
    * majority sign over its distinct shingles of ±1 votes, where the vote
    * is the parity of an affine hash of the GLOBAL shingle rank — exact
    * integer arithmetic end-to-end (sid·a < 2⁴⁸), replayable in any SQL
    * engine. Plays the role xxhash64 token votes play in the production
    * [[Dedup.simHash64Native]]. */
  private def rankSimhashSigs(s: SparkSession, dir: String): DataFrame = {
    val withH = rankedShingles(s, dir)
    val voteAggs = (0 until simBits).map { j =>
      sum(((col("sid") * simA(j) + simB(j)) % 100003L % 2L) * 2L - 1L)
        .as(s"v$j") }
    withH.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"),
        (0 until simBits).map(j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** Oracle-exact twin of q_simhash_pairs: the REAL
    * [[Dedup.simhashCandidatePairs]] operator (block banding, all-pairs ≤
    * cap, star + DUAL-ORDER chain edges above, inline Hamming ≤ 3 verify)
    * over rank-affine signatures, value-replayed in DuckDB including
    * bit_count(xor) Hamming. allPairsCap=2 pushes every ≥3-member block
    * (the largest this id-capped corpus produces) onto the star+dual-chain
    * path, and maxHamming=24 ADMITS those blocks' edges (measured hamming
    * 17-24 here; at the production budget of 3 every big-branch edge was
    * filtered out and the dual-chain emission was only verified by
    * absence) — so star + both chain orderings are value-checked
    * edge-for-edge against the SQL replay. */
  val qSimhashPairsExact: Q = (s, dir) =>
    Dedup.simhashCandidatePairs(rankSimhashSigs(s, dir), "doc_id", "sig",
        numBands = 4, bitsPerBand = 15, maxHamming = 24, allPairsCap = 2)
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))

  /** Production near-dup pipeline (sigs → LSH candidates → jaccard
    * verification → connected components → keep min id per component;
    * rows-only check) + planted truth: exact copies planted at
    * doc_id+PlantBase MUST all be eliminated (jaccard 1.0 ≥ any threshold;
    * source id < copy id so keep-min keeps the source). A SEPARATE planted
    * run feeds only the 1-row `planted_removed` scalar (1.0 on pass); the
    * shipped rows come from the plain pipeline, byte-identical to
    * q_dedup_pipeline_exact's subject. Every build runs the planted pass
    * eagerly, so a timed build pays for the check. */
  val qDedupPipeline: Q = (s, dir) => {
    val d = docs(s, dir)
    val removed: Double = {
      val nKeptPlanted = Dedup.dedupNear(d.unionByName(planted(d)),
          "doc_id", "text", threshold = 0.8)
        .where(col("doc_id") >= PlantBase)
        .agg(count(lit(1)).as("nkept"))
      val denom = d.where(col("doc_id") < PlantMaxId)
        .agg(count(lit(1)).as("np"))
      nKeptPlanted.crossJoin(denom)
        .select(roundSafe(lit(1.0) - col("nkept") / col("np"), 4))
        .head().getDouble(0)
    }
    Dedup.dedupNear(d, "doc_id", "text", threshold = 0.8)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("planted_removed", lit(removed))
  }

  /** Character-3-gram Jaccard over all doc pairs with id < 40. */
  val qJaccardPairs: Q = (s, dir) => {
    val d = docs(s, dir).where(col("doc_id") < 40)
      .select(col("doc_id"),
        TextFunctions.distinctShingles(col("text"), 3).as("sh"))
    val a = d.select(col("doc_id").as("a"), col("sh").as("sha"))
    val b = d.select(col("doc_id").as("b"), col("sh").as("shb"))
    broadcast(a).crossJoin(b).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        (size(col("sha")) + size(col("shb")) -
          size(array_intersect(col("sha"), col("shb")))).cast("long").as("uni"))
      .withColumn("jac", roundSafe(col("inter") / col("uni"), 4))
  }

  /** Embedding cosine near-dup pairs (ids < 100, sim > 0.2) — exact doubles. */
  val qEmbedCosinePairs: Q = (s, dir) => {
    val e = embs(s, dir).where(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
    broadcast(a).crossJoin(b).where(col("a") < col("b"))
      .withColumn("sim", Similarity.cosine(col("ea"), col("eb")))
      .where(col("sim") > 0.2)
      .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
  }

  /** Decontamination: documents sharing ≥1 distinct 3-token n-gram with
    * the "benchmark" slice (the doc_id % 25 == 0 slice stands in for an eval set).
    * Exact string arithmetic — fully oracle-checked. */
  val qContamination: Q = (s, dir) => {
    val d = docs(s, dir)
    // 4% benchmark slice by modulo so the split scales with the table
    Dedup.contamination(
      d.where(col("doc_id") % 25 =!= 0), "doc_id", "text",
      d.where(col("doc_id") % 25 === 0), "text", n = 3)
  }

  /** [[qContamination]] through the bloom-prefilter scale path
    * ([[Dedup.contaminationBloom]]): the bloom gates the corpus-side grams
    * in the scan stage, an exact confirm join removes the fpp sliver, so
    * the SAME oracle replays it — the two queries sharing one oracle IS
    * the test that the bloom path loses nothing. */
  val qContaminationBloom: Q = (s, dir) => {
    val d = docs(s, dir)
    Dedup.contaminationBloom(
      d.where(col("doc_id") % 25 =!= 0), "doc_id", "text",
      d.where(col("doc_id") % 25 === 0), "text", n = 3, fpp = 0.01)
  }

  // ---------------------------------------------------------------------------
  // Similarity search
  // ---------------------------------------------------------------------------

  /** Brute-force exact top-3 cosine neighbors for queries vec_id < 20. */
  val qAnnBrute: Q = (s, dir) => {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(e.where(col("vec_id") < 20), e, k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Hyperplane-LSH bucket assignment (integer planes, engine-exact). */
  val qAnnLshBuckets: Q = (s, dir) =>
    embs(s, dir).select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), numPlanes = 8, dim = 64)
        .as("bucket"))

  /** LSH-bucketed approximate top-3 (scale path). Fully oracle-checked:
    * buckets are integer-exact and cosine is a bit-reproducible fold, so the
    * per-bucket ranking is deterministic in both engines. */
  val qAnnLshTopK: Q = (s, dir) => {
    val e = embs(s, dir)
    Similarity.lshTopK(e.where(col("vec_id") < 50), e, k = 3,
      numPlanes = 8, dim = 64)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** IVF ANN: coarse quantizer + nprobe search, FULLY oracle-checked.
    * The checked query uses the deterministic seed centroids (iters = 0 —
    * the first k vectors by id), because Lloyd's averaging sums floats in
    * shuffle order and is not bit-reproducible across engines; the entire
    * SEARCH path (exact-arithmetic −2·v·c + ‖c‖² cell argmin, nprobe cell
    * selection, per-cell cosine ranking) is replayed exactly in DuckDB.
    * The k-means refinement itself is spec-covered (planted-duplicate and
    * recall probes at iters = 2). */
  val qAnnIvf: Q = (s, dir) => {
    val e = embs(s, dir)
    val (assigned, centroids) = Similarity.ivfIndex(e, k = 16, iters = 0)
    Similarity.ivfTopK(e.where(col("vec_id") < 50), assigned, centroids,
      nprobe = 4, k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Product-quantization ANN, FULLY oracle-checked: seed codebooks
    * (iters = 0 — same rationale as q_ann_ivf: Lloyd averaging is not
    * cross-engine bit-reproducible; refinement is spec-covered), exact
    * argmin encode, ADC top-3. DuckDB replays the codebook construction
    * from the table, the per-subspace encode, and the ADC sum. */
  val qPqTopK: Q = (s, dir) => {
    val e = embs(s, dir)
    val books = Similarity.pqTrain(e, m = 8, k = 16, iters = 0)
    val encoded = e.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), books).as("__codes"))
    Similarity.pqTopK(e.where(col("vec_id") < 20), encoded, books, k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
  }

  // ---------------------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------------------

  /** Token statistics per document. */
  val qTokenStats: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.distinctTokenCount(col("text")).as("n_distinct"),
      roundSafe(TextFunctions.meanTokenLength(col("text")), 4).as("mean_len"))

  /** Quality scoring per document. */
  val qQuality: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      roundSafe(TextFunctions.typeTokenRatio(col("text")), 4).as("ttr"),
      roundSafe(TextFunctions.stopwordRatio(col("text")), 4).as("stop_ratio"),
      roundSafe(TextFunctions.qualityScore(col("text")), 4).as("quality"))

  /** Language-ID heuristic + per-language marker scores. */
  val qLangId: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      TextFunctions.predictLang(col("text")).as("pred_lang"),
      TextFunctions.langScore(col("text"), "en").as("en_score"),
      TextFunctions.langScore(col("text"), "de").as("de_score"))

  /** Rolling-hash content fingerprint (engine-exact). */
  val qFingerprint: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      TextFunctions.rollingHash(col("text")).as("fp"))

  /** Gopher-style quality signals + PII pattern counts per document —
    * the filtering/routing features of a pretraining cleanup pass. All
    * narrow in-scan expressions. The corpus text is single-line with no
    * PII, so the query first ENRICHES it deterministically (newlines,
    * bullets, duplicate lines, synthetic emails/IPs, symbol runs) with
    * the identical construction in the oracle — otherwise every signal
    * is zero and the parity check proves nothing. */
  val qQualitySignals: Q = (s, dir) => {
    val t2 = concat(
      regexp_replace(
        regexp_replace(col("text"), lit(" join "), lit("\nline one\n")),
        lit(" data "), lit("\n- ")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" u"), (col("doc_id") % 7).cast("string"),
          lit("@ex.com"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".1"))).otherwise(lit("")),
      lit(" "), expr("repeat('#', CAST(doc_id % 4 AS INT))"))
    docs(s, dir).withColumn("t2", t2).select(col("doc_id"),
      roundSafe(TextFunctions.duplicateLineFraction(col("t2")), 4)
        .as("dup_line"),
      roundSafe(TextFunctions.bulletLineFraction(col("t2")), 4)
        .as("bullet"),
      roundSafe(TextFunctions.alphaWordFraction(col("t2")), 4)
        .as("alpha"),
      roundSafe(TextFunctions.symbolWordRatio(col("t2")), 4).as("sym"),
      TextFunctions.emailCount(col("t2")).as("n_email"),
      TextFunctions.ipv4Count(col("t2")).as("n_ip"))
  }

  /** Span-level duplicate detection (fixed 8-token windows): every span
    * duplicated anywhere in the corpus is kept only at its globally first
    * (doc, position). */
  val qDupSpans: Q = (s, dir) =>
    Chunking.duplicatedSpans(docs(s, dir), "doc_id", "text", window = 8)

  /** Gopher repetition signals: top/duplicated word-n-gram character
    * fractions for n ∈ {2, 3} (native one-pass kernel; the max is over
    * count×chars products so no tie-break is needed — deterministic and
    * SQL-replayable). */
  val qNgramRepetition: Q = (s, dir) => {
    val b = graft.expressions.native.ngram_repetition(col("text"), 2)
    val t = graft.expressions.native.ngram_repetition(col("text"), 3)
    docs(s, dir).select(col("doc_id"),
      roundSafe(b.getField("top_frac"), 4).as("top2"),
      roundSafe(b.getField("dup_frac"), 4).as("dup2"),
      roundSafe(t.getField("top_frac"), 4).as("top3"),
      roundSafe(t.getField("dup_frac"), 4).as("dup3"))
  }

  /** The ONE multi-paragraph enrichment shared by qParaDedup,
    * qParaDedupDoc, and qCurateFull (their oracles replay [[paraEnrichSql]]
    * — a single definition per side so the three queries cannot drift):
    * every ` join ` becomes a cross-doc hot boilerplate paragraph, every
    * ` data ` a paragraph break, docs ≡ 0 mod 10 get an intra-doc repeat. */
  private def paraEnrich: org.apache.spark.sql.Column = concat(
    regexp_replace(
      regexp_replace(col("text"), lit(" join "),
        lit("\nshared boilerplate line\n")),
      lit(" data "), lit("\n")),
    when(col("doc_id") % 10 === 0, lit("\nshared boilerplate line"))
      .otherwise(lit("")))

  /** Corpus-wide paragraph dedup (C4/RefinedWeb boilerplate removal). The
    * corpus is single-line, so the query first ENRICHES it deterministically
    * into multi-paragraph docs ([[paraEnrich]]) — identical construction in
    * the oracle. The boilerplate survives at exactly ONE (doc, position)
    * across the whole corpus. */
  val qParaDedup: Q = (s, dir) =>
    Dedup.dedupParagraphs(
      docs(s, dir).select(col("doc_id"), paraEnrich.as("text")),
      "doc_id", "text")

  /** WITHIN-doc repeated-paragraph removal — zero-shuffle narrow form
    * (`array_distinct` keeps first occurrences in order). Same enrichment
    * as [[qParaDedup]]. */
  val qParaDedupDoc: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      Dedup.dedupParagraphsInDoc(paraEnrich).as("clean_text"))

  /** Incremental dedup of a "new batch" (doc_id % 3 ≠ 0) against the
    * signature index of the "existing corpus" (doc_id % 3 = 0) — rank-based
    * sigs so the oracle replays banding AND the agreement estimate exactly.
    * Production uses the engine-hash signatures (minHashSignaturesNative). */
  val qDedupIncremental: Q = (s, dir) => {
    val asArr = rankSigsWide(s, dir, rankHsBig).select(col("doc_id"),
      array(rankHsBig.indices.map(i => col(s"sig$i")): _*).as("sig"))
    val kept = Dedup.dedupAgainstIndex(
      asArr.where(col("doc_id") % 3 =!= 0),
      asArr.where(col("doc_id") % 3 === 0),
      "doc_id", "sig", numHashes = rankHsBig.length, rowsPerBand = 2,
      minAgree = 0.8)
    kept.join(docs(s, dir), Seq("doc_id"))
      .select(col("doc_id"), col("n_chars"))
  }

  /** End-to-end curation v2 — composes the round-4 second-half operators
    * as one replayed chain: enrich (multi-paragraph corpus) → corpus-wide
    * paragraph dedup → deterministic split assignment → sequence packing
    * (capacity 256 per split) → per-split shard accounting. Every stage is
    * exact, so DuckDB replays the WHOLE pipeline and hash-checks the
    * accounting. */
  val qCurateFull: Q = (s, dir) => {
    val cleaned = Dedup.dedupParagraphs(
      docs(s, dir).select(col("doc_id"), paraEnrich.as("text")),
      "doc_id", "text")
    val withSplit = cleaned.select(col("doc_id"),
      col("clean_text").as("text"),
      Sampling.splitColumn(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    Chunking.packSequences(withSplit, "doc_id", "text", 256, col("split"))
      .groupBy(col("grp").as("split"))
      .agg(countDistinct(col("chunk_id")).as("n_chunks"),
        count(lit(1)).as("n_doc_spans"),
        sum(col("off_len")).as("n_tokens"))
      .select(col("split"), col("n_chunks"), col("n_doc_spans"),
        col("n_tokens"))
  }

  /** Corpus-derived unigram LM log-probability per doc (CCNet-style
    * perplexity-proxy quality filter). avg(ln count) − ln total is
    * division-derived → epsilon-rounded for oracle parity. */
  val qUnigramLp: Q = (s, dir) =>
    graft.operators.Quality.unigramLogProb(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_toks"),
        roundSafe(col("avg_logp"), 4).as("avg_logp"))

  /** The production vocab shape end-to-end: TRAIN a top-50 vocabulary
    * ([[Quality.trainVocab]] — deterministic count-desc/token-asc
    * selection), then score every doc against the broadcast table with
    * the OOV floor ([[Quality.scoreWithVocab]]). The oracle replays
    * training AND scoring, so the whole train→broadcast→score chain is
    * hash-checked. */
  val qVocabScore: Q = (s, dir) => {
    val d = docs(s, dir)
    val (vocab, total) = graft.operators.Quality.trainVocab(d, "text", 50)
    graft.operators.Quality.scoreWithVocab(d, "doc_id", "text", vocab, total)
      .select(col("doc_id"), col("n_toks"),
        roundSafe(col("avg_logp"), 4).as("avg_logp"))
  }

  /** Semantic (embedding-space) dedup — SemDeDup-style. The corpus has no
    * natural near-dup pairs (max all-pairs cosine 0.48), so the query PLANTS
    * exact copies with asymmetric ids: negative ids (planted copy WINS
    * keep-min, original dropped) and +100000 ids (original wins, copy
    * dropped) — identical construction in the oracle, which replays the
    * full bucket → cosine-verify → CC → keep-min pipeline. */
  val qSemanticDedup: Q = (s, dir) => {
    val e = embs(s, dir)
    val planted = e
      .unionByName(e.where(col("vec_id") % 40 === 0)
        .select((-col("vec_id") - 1).as("vec_id"), col("embedding"),
          col("label")))
      .unionByName(e.where(col("vec_id") % 40 === 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
          col("label")))
    Dedup.dedupSemantic(planted, "vec_id", "embedding",
        threshold = 0.99, numPlanes = 8, dim = 64)
      .select(col("vec_id"), col("label").cast("long").as("label"))
  }

  /** Sequence packing (concat-then-chunk, capacity 512) across 8 hash-bucket
    * groups — every (doc, chunk) overlap with exact in-doc token offsets. */
  val qSeqPack: Q = (s, dir) =>
    Chunking.packSequences(docs(s, dir), "doc_id", "text", 512,
      col("doc_id") % 8)

  /** Per-doc sliding token windows (64 tokens, stride 48). */
  val qChunkWindows: Q = (s, dir) =>
    Chunking.slidingWindows(docs(s, dir), "doc_id", "text", 64, 48)

  // ---------------------------------------------------------------------------
  // Multimodal plumbing (decode STUBBED — see Multimodal.fakeDecode)
  // ---------------------------------------------------------------------------

  /** Binary payload → typed metadata via per-partition batched decode, plus
    * resize + frame-sample plumbing. Payload is the utf-8 bytes of `text`
    * standing in for real media bytes. */
  val qMultimodalMeta: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    val withPayload = docs(s, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    // size partitions by payload bytes before the batched decode (1 MB budget
    // so the test corpus actually spans multiple byte buckets)
    val sized = Multimodal.repartitionForMedia(withPayload, "payload",
      targetMB = 1)
    val meta = Multimodal.decodeMeta(sized, "doc_id", "payload").toDF()
    val (rw, rh) = Multimodal.resizeMeta(col("width"), col("height"), 256)
    meta.select(col("media_id"), col("byte_len"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"), col("format"),
        rw.cast("long").as("rw"), rh.cast("long").as("rh"),
        size(Multimodal.sampleFrameIndices(col("n_frames"), 3)).cast("long")
          .as("n_sampled"))
  }

  /** Exact dedup over BINARY media payloads — the multimodal twin of
    * q_dedup_exact: identical bytes collapse to the min id. Spark groups
    * by the binary column directly (one hash shuffle, same as text);
    * DuckDB groups by the blob natively, so the check is exact. The
    * payload is the utf-8 bytes of a truncated text prefix so planted
    * byte-level duplicates exist. */
  val qMediaDedup: Q = (s, dir) =>
    Dedup.exact(
      docs(s, dir).select(col("doc_id"),
        encode(substring(col("text"), 1, 40), "utf-8").as("payload")),
      "doc_id", Seq(col("payload")))
      .select(col("keep_id"), col("n_copies"))

  /** REAL image decode end-to-end: encode a deterministic PNG/GIF/JPEG per
    * doc row ([[Multimodal.encodeImage]] — real format bytes, distributed),
    * byte-budget repartition, then header-only `javax.imageio` decode
    * ([[Multimodal.decodeImageMeta]]). The oracle predicts
    * (width, height, channels, format) from the generation arithmetic —
    * they round-trip the encoder+decoder only if BOTH actually parse the
    * format, so this value-checks true byte→metadata extraction (the JDK
    * writers always produce 3-band RGB for these inputs). byte_len is
    * deliberately not emitted: compressed size is codec-version detail. */
  val qMediaDecode: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import sp.implicits._
    // two actions read this frame (repartitionForMedia's byte-count agg +
    // the decode): encode once (the CurateProbe lesson, SCALING.md round 5)
    val images = Materialize(docs(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 32).toInt
          val h = 12 + (id % 24).toInt
          val fmt = (id % 3) match {
            case 0 => "png"
            case 1 => "gif"
            case _ => "jpeg"
          }
          (id, Multimodal.encodeImage(w, h, id, fmt))
        }
      }.toDF("media_id", "payload"))
    val sized = Multimodal.repartitionForMedia(images, "payload", targetMB = 1)
    Multimodal.decodeImageMeta(sized, "media_id", "payload").toDF()
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        col("format"))
  }

  /** REAL pixel pipeline end-to-end: encode a deterministic image per doc
    * row (mixed formats), RESIZE through full ImageIO decode →
    * nearest-neighbor scale → PNG re-encode ([[Multimodal.resizeImages]]),
    * then header-decode the OUTPUT bytes. The oracle predicts the fixed
    * thumbnail contract (24×18 RGB png): any row failing real decode or
    * re-encode would surface as (-1,-1,'unknown') and hash-mismatch. */
  val qImageResize: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import sp.implicits._
    val images = docs(s, dir).where(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val fmt = (id % 3) match {
            case 0 => "png"
            case 1 => "gif"
            case _ => "bmp"
          }
          (id, Multimodal.encodeImage(10 + (id % 9).toInt,
            8 + (id % 7).toInt, id, fmt))
        }
      }.toDF("media_id", "payload")
    val resized = Multimodal.resizeImages(images, "media_id", "payload",
      width = 24, height = 18)
    Multimodal.decodeImageMeta(resized.toDF(), "media_id", "payload").toDF()
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("format"))
  }

  /** REAL audio decode end-to-end: encode a deterministic 16-bit PCM WAV
    * per doc row ([[Multimodal.encodeWav]] — real RIFF bytes, distributed),
    * byte-budget repartition, then header-only `javax.sound.sampled` decode
    * ([[Multimodal.decodeAudioMeta]]). The oracle predicts
    * (sample_rate, channels, bits, n_frames) from the generation
    * arithmetic — the values round-trip only if the RIFF/fmt/data chunks
    * were really written and really parsed. */
  val qAudioDecode: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import sp.implicits._
    // two actions (byte-count agg + decode): encode once
    val clips = Materialize(docs(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val sr = Seq(8000, 11025, 16000, 22050)((id % 4).toInt)
          val ch = 1 + (id % 2).toInt
          val nf = 50 + (id % 100).toInt
          (id, Multimodal.encodeWav(sr, ch, nf, id))
        }
      }.toDF("media_id", "payload"))
    val sized = Multimodal.repartitionForMedia(clips, "payload", targetMB = 1)
    Multimodal.decodeAudioMeta(sized, "media_id", "payload").toDF()
      .select(col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("bits").cast("long").as("bits"),
        col("n_frames"))
  }

  /** REAL video container-metadata decode end-to-end: write a minimal ISO
    * BMFF `ftyp`+`moov` tree per doc row ([[Multimodal.encodeMp4Meta]]),
    * then walk the box tree back ([[Multimodal.decodeMp4]]). Width/height
    * survive a 16.16 fixed-point round trip, duration a timescale
    * conversion, brand a raw byte copy — all predicted by the oracle from
    * the generation arithmetic. Frame decode stays stubbed (no JDK video
    * codec); the container path is the real plumbing. */
  val qVideoDecode: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import sp.implicits._
    val vids = docs(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 160 + (id % 33).toInt * 4
          val h = 120 + (id % 25).toInt * 4
          val dur = 1000L + (id % 97) * 53L
          val brand = if (id % 2 == 0) "isom" else "mp42"
          (id, Multimodal.encodeMp4Meta(w, h, dur, brand))
        }
      }.toDF("media_id", "payload")
    Multimodal.decodeVideoMeta(vids, "media_id", "payload").toDF()
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("duration_ms"), col("brand"))
  }

  /** End-to-end CURATION pipeline, fully oracle-checked — the composition a
    * real pretraining cleanup runs, each stage exact so DuckDB replays the
    * whole chain: quality gate (score + min length) → exact dedup with
    * keep-longest policy → decontamination vs the benchmark slice →
    * deterministic split assignment → per-(split, lang) accounting. */
  val qCurate: Q = (s, dir) => {
    val d = docs(s, dir).where(col("doc_id") % 25 =!= 0)
    // `deduped` feeds both the contamination probe and the final anti-join;
    // materialized, the quality+dedup chain runs once, not per consumer.
    val quality = d.where(
      TextFunctions.qualityScore(col("text")) > 0.5 &&
        TextFunctions.tokenCount(col("text")) >= 30)
    // keep-best dedup as ONE window over one keyed exchange (r14): the
    // previous exactKeepBest aggregate + left-semi join pair consumed
    // `quality` twice (which forced a second materialization of the regex
    // gate) and cost an extra aggregate exchange + broadcast build.
    // row_number over (k, n_chars desc, doc_id asc) = 1 keeps exactly the
    // max_by(doc_id, struct(n_chars, -doc_id)) row per group: max n_chars,
    // ties min id.
    val wKeep = Window.partitionBy(col("k"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val deduped = Materialize(quality
      .withColumn("k", substring(col("text"), 1, 40))
      .withColumn("__rn", row_number().over(wKeep))
      .where(col("__rn") === 1).drop("k", "__rn"))
    val bench = docs(s, dir).where(col("doc_id") % 25 === 0)
    // 8-token grams: the decontamination window real pipelines use —
    // word-soup corpora share many spurious 3-grams (at sf0.1 EVERY doc
    // collided and the curated set emptied), while an exact 8-token span
    // only matches a genuine copy
    val dirty = Dedup.contamination(deduped, "doc_id", "text",
        bench, "text", n = 8)
      .select("doc_id")
    deduped.join(dirty, Seq("doc_id"), "left_anti")
      .withColumn("split", Sampling.splitColumn(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
  }

  // ---------------------------------------------------------------------------
  // sampling / splits / keep-policy / embedding storage (round 2)
  // ---------------------------------------------------------------------------

  /** BPE-ish token counting next to whitespace counting: the per-document
    * "LLM token cost" estimate for training-mix budgeting. Pure regex column
    * expressions — run inside the scan stage. */
  val qBpeTokens: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
      TextFunctions.tokenCount(col("text")).as("n_ws"))

  /** Deterministic train/val/test split: stateless affine-mod bucket of the
    * id — reproducible across reruns, engines, cluster sizes (no RNG state,
    * no shuffle). */
  val qSplitAssign: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("split", Sampling.splitColumn(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))

  /** Per-language stratified sampling: keep rate by stratum (en 50%, zh 20%,
    * others 10%) — a pure filter, prunes at the scan. */
  val qStratified: Q = (s, dir) =>
    docs(s, dir)
      .where(Sampling.stratifiedFilter(col("doc_id"), col("lang"),
        Map("en" -> 0.5, "zh" -> 0.2), defaultRate = 0.1))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))

  /** Temperature-balanced source mixture (α=0.5): rates computed FROM the
    * per-source counts ([[Sampling.temperatureRates]] — rarest source keeps
    * 100%, bigger ones down-weighted toward p^α), then the deterministic
    * affine-bucket keep. Rates are rounded half-up to 6dp (+1e-9 nudge) on
    * BOTH engines so a pow() ulp difference cannot flip a bucket-boundary
    * comparison. */
  val qTemperatureMix: Q = (s, dir) => {
    val d = docs(s, dir)
    val rates = Sampling.temperatureRates(d, "source", alpha = 0.5)
      .map { case (k, v) => k -> (math.floor((v + 1e-9) * 1e6 + 0.5) / 1e6) }
    d.where(Sampling.stratifiedFilter(col("doc_id"), col("source"), rates))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Per-source document cap (pretraining-mix control): top 15 per source by
    * (n_chars desc, doc_id) — WindowGroupLimit prunes beyond-k map-side. */
  val qPerKeyCap: Q = (s, dir) =>
    Sampling.capPerKey(docs(s, dir), "source", 15,
        Seq(col("n_chars").desc, col("doc_id").asc))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))

  /** Deterministic global shuffle (training-order randomization): the first
    * 15 documents of the seeded-hash permutation, rank-stamped. The prefix
    * is taken with an explicit orderBy(gk) + limit (TakeOrderedAndProject —
    * a driver-side top-k merge, not a global sort), because LIMIT without a
    * global ORDER BY has no contractual row order in Spark; globalShuffle
    * itself stays in the plan, so the oracle (DuckDB replaying the
    * identical md5 ordering) still fails if the permutation is wrong.
    * globalShuffle's range-partitioned/partition-local-sort layout remains
    * the shape for shard WRITES, where per-partition order is the goal. */
  val qGlobalShuffle: Q = (s, dir) => {
    val shuffled = Sampling.globalShuffle(docs(s, dir), "doc_id", seed = 7L,
      numPartitions = 8, portableHash = true)
    shuffled
      .withColumn("gk", md5(concat(col("doc_id").cast("string"), lit(":7"))))
      .orderBy(col("gk")).limit(15)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("gk"))).cast("long"))
      .select(col("rank"), col("doc_id"))
  }

  /** Exact dedup with a keep policy: group by a 40-char content prefix, keep
    * the LONGEST doc (ties → min id) — one max_by aggregation, no window. */
  val qDedupKeepBest: Q = (s, dir) =>
    Dedup.exactKeepBest(
        docs(s, dir).withColumn("k", substring(col("text"), 1, 40)),
        "doc_id", Seq(col("k")), col("n_chars"))
      .select(col("keep_id"), col("n_copies"))

  /** L2 normalization at ingest (downstream cosine becomes a dot product)
    * + symmetric int8 quantization (4× smaller storage for ANN). */
  val qEmbedNorm: Q = (s, dir) => {
    val e = embs(s, dir)
    val (scale, quant) = Similarity.quantizeInt8(col("embedding"))
    e.select(col("vec_id"),
      round(Similarity.norm(col("embedding")) + lit(1e-9), 4).as("nrm"),
      round(element_at(Similarity.l2Normalize(col("embedding")), 1)
        + lit(1e-9), 6).as("e1n"),
      round(scale + lit(1e-9), 4).as("scale"),
      element_at(quant, 1).as("q1"))
  }

  // ---------------------------------------------------------------------------
  // registry: one QuerySpec per query, with its DuckDB oracle SQL
  // ---------------------------------------------------------------------------

  /** Shared by q_contamination and q_contamination_bloom (the bloom path is
    * exact-confirmed, so both queries must hash-match ONE truth). Distinct
    * 3-token shingles, space-joined — matches TextFunctions.tokenShingles
    * exactly. */
  private val contaminationOracle: String = {
    val grams = """list_distinct([array_to_string(ws[i:i+2], ' ')
      | for i in range(1, greatest(len(ws) - 2, 0) + 1)])""".stripMargin
    s"""WITH w AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws
       |  FROM documents),
       |dg AS (
       |  SELECT doc_id, unnest($grams) AS g
       |  FROM w WHERE doc_id % 25 <> 0),
       |bg AS (
       |  SELECT DISTINCT unnest($grams) AS g
       |  FROM w WHERE doc_id % 25 = 0)
       |SELECT doc_id, count(*) AS n_hits
       |FROM dg JOIN bg USING (g)
       |GROUP BY doc_id""".stripMargin
  }

  /** DuckDB CTEs `t → x → sp` tiling documents into token spans of
    * `window` tokens every `stride` — the replay of
    * [[graft.operators.Chunking.slidingWindows]], shared by the
    * q_chunk_windows and q_dup_spans oracles. Lines must not begin with
    * `|` (host stripMargin runs after interpolation). */
  private def duckSpanCtes(window: Int, stride: Int): String =
    s"""t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
       |  FROM documents),
       |x AS (
       |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
       |    unnest(range(0, len(ws), $stride)) AS tok_start
       |  FROM t),
       |sp AS (
       |  SELECT doc_id, tok_start,
       |    least($window, n - tok_start) AS tok_len,
       |    array_to_string(ws[tok_start + 1 :
       |      tok_start + least($window, n - tok_start)], ' ') AS chunk
       |  FROM x)""".stripMargin

  /** DuckDB twin of [[paraEnrich]] — the ONE enrichment definition shared
    * by the q_para_dedup / q_para_dedup_doc / q_curate_full oracles.
    * NOTE: embedded into s-interpolated strings whose .stripMargin runs
    * AFTER interpolation — no line here may begin with `|` (a leading `||`
    * concat would lose its first pipe), so the operators sit at line ends. */
  private val paraEnrichSql: String =
    """SELECT doc_id,
      |    replace(replace(text, ' join ', chr(10) ||
      |        'shared boilerplate line' || chr(10)), ' data ', chr(10)) ||
      |    (CASE WHEN doc_id % 10 = 0
      |        THEN chr(10) || 'shared boilerplate line' ELSE '' END)
      |      AS text
      |  FROM documents""".stripMargin

  /** DuckDB: distinct char n-gram shingles of text as a list. */
  private def duckShingles(n: Int): String =
    s"list_distinct([substr(text, i, $n) " +
      s"for i in range(1, greatest(length(text) - ${n - 1}, 0) + 1)])"

  /** DuckDB whole-word occurrence count of `w` in lower(text). */
  private def occ(w: String): String = {
    val padded = s"' ' || lower(text) || ' '"
    val kw = s" $w "
    s"((length($padded) - length(replace($padded, '$kw', ''))) // ${kw.length})"
  }

  private def langScoreSql(lang: String): String =
    TextFunctions.langMarkers.toMap.apply(lang).map(occ).mkString("(", " + ", ")")

  private val predLangSql: String = {
    val scores = TextFunctions.langMarkers.map { case (l, _) =>
      l -> langScoreSql(l) }
    val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val whens = scores.map { case (l, sc) =>
      s"WHEN $sc = __best AND __best > 0 THEN '$l'" }.mkString(" ")
    s"(SELECT CASE $whens ELSE 'unk' END FROM (SELECT $best AS __best))"
  }

  /** DuckDB literal for the plane-j integer weight vector (matches
    * Similarity.planeWeight exactly). */
  private def planeWeightsSql(j: Int, dim: Int): String =
    (0 until dim).map { d =>
      (((j.toLong * 64L + d.toLong) * 2654435761L % 97L) - 48L).toDouble
    }.mkString("[", ", ", "]")

  private def bucketSql(numPlanes: Int, dim: Int): String =
    (0 until numPlanes).map { j =>
      s"""(CASE WHEN list_sum(list_transform(list_zip(embedding,
         | ${planeWeightsSql(j, dim)}),
         | x -> CAST(x[1] AS DOUBLE) * x[2])) > 0
         | THEN ${1L << j} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")

  private def dotSqlOf(a: String, b: String) =
    s"""list_sum(list_transform(list_zip($a, $b),
       | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
  private val dotSql = dotSqlOf("a.ea", "b.eb")
  private def normSql(v: String) =
    s"""sqrt(list_sum(list_transform($v,
       | x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", qDedupExact, Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY lower(trim(text))""".stripMargin), Headline),
    QuerySpec("q_minhash_rank", qMinhashRank, Some {
      val hs = Seq((3, 1), (5, 2), (7, 3), (11, 4), (13, 5), (17, 6))
      val sigExprs = hs.zipWithIndex.map { case ((a, b), i) =>
        s"min((sid * $a + $b) % 100003) AS sig$i" }.mkString(", ")
      val unions = hs.indices.map(i =>
        s"SELECT doc_id, CAST($i AS BIGINT) AS hidx, sig$i AS sig FROM sigs")
        .mkString(" UNION ALL ")
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(${duckShingles(5)}) AS sh
         |  FROM documents WHERE doc_id < 200),
         |ranks AS (
         |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) AS BIGINT) AS sid
         |  FROM (SELECT DISTINCT sh FROM sh)),
         |sigs AS (
         |  SELECT doc_id, $sigExprs
         |  FROM sh JOIN ranks USING (sh) GROUP BY doc_id)
         |$unions""".stripMargin
    }, Headline, Parity),
    QuerySpec("q_jaccard_pairs", qJaccardPairs, Some(
      s"""WITH t AS (SELECT doc_id, ${duckShingles(3)} AS sh
         |           FROM documents WHERE doc_id < 40)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
         |       AS BIGINT) AS uni,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    + 1e-9, 4) AS jac
         |FROM t a JOIN t b ON a.doc_id < b.doc_id""".stripMargin), Headline),
    QuerySpec("q_embed_cosine_pairs", qEmbedCosinePairs, Some(
      s"""SELECT a.a, b.b,
         |  round($dotSql / (${normSql("a.ea")} * ${normSql("b.eb")}), 6) AS sim
         |FROM (SELECT vec_id AS a, embedding AS ea FROM embeddings
         |      WHERE vec_id < 100) a
         |JOIN (SELECT vec_id AS b, embedding AS eb FROM embeddings
         |      WHERE vec_id < 100) b ON a.a < b.b
         |WHERE $dotSql / (${normSql("a.ea")} * ${normSql("b.eb")}) > 0.2""".stripMargin), Headline),
    QuerySpec("q_ann_brute", qAnnBrute, Some(
      s"""WITH scored AS (
         |  SELECT a.a AS query_id, b.b AS neighbor_id,
         |    $dotSql / (${normSql("a.ea")} * ${normSql("b.eb")}) AS sim
         |  FROM (SELECT vec_id AS a, embedding AS ea FROM embeddings
         |        WHERE vec_id < 20) a
         |  JOIN (SELECT vec_id AS b, embedding AS eb FROM embeddings) b
         |    ON a.a <> b.b),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim
         |FROM ranked WHERE rank <= 3""".stripMargin), Headline),
    QuerySpec("q_ann_lsh_buckets", qAnnLshBuckets, Some(
      s"""SELECT vec_id, CAST(${bucketSql(8, 64)} AS BIGINT) AS bucket
         |FROM embeddings""".stripMargin), Headline),
    QuerySpec("q_token_stats", qTokenStats, Some(
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |   AS n_tokens,
        | CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |   AS BIGINT) AS n_distinct,
        | round(CAST(list_sum(list_transform(
        |     regexp_split_to_array(trim(text), '\s+'), w -> length(w)))
        |   AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+'))
        |   + 1e-9, 4) AS mean_len
        |FROM documents""".stripMargin), Headline),
    QuerySpec("q_quality", qQuality, Some {
      val toks = """regexp_split_to_array(trim(text), '\s+')"""
      val nTok = s"len($toks)"
      val nDist = s"len(list_distinct($toks))"
      val meanLen = s"CAST(list_sum(list_transform($toks, w -> length(w))) " +
        s"AS DOUBLE) / $nTok"
      val stopR = s"CAST(${langScoreSql("en")} AS DOUBLE) / $nTok"
      val ttr = s"CAST($nDist AS DOUBLE) / $nTok"
      s"""SELECT doc_id,
         | round($ttr + 1e-9, 4) AS ttr,
         | round($stopR + 1e-9, 4) AS stop_ratio,
         | round($ttr * 0.5 + least($stopR * 4.0, 1.0) * 0.3 +
         |   (CASE WHEN $meanLen BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END)
         |   + 1e-9, 4) AS quality
         |FROM documents""".stripMargin
    }, Headline),
    QuerySpec("q_lang_id", qLangId, Some(
      s"""SELECT doc_id, $predLangSql AS pred_lang,
         | CAST(${langScoreSql("en")} AS BIGINT) AS en_score,
         | CAST(${langScoreSql("de")} AS BIGINT) AS de_score
         |FROM documents""".stripMargin), Headline),
    QuerySpec("q_curate", qCurate, Some {
      val toks = """regexp_split_to_array(trim(text), '\s+')"""
      val nTok = s"len($toks)"
      val nDist = s"len(list_distinct($toks))"
      val meanLen = s"CAST(list_sum(list_transform($toks, w -> length(w))) " +
        s"AS DOUBLE) / $nTok"
      val stopR = s"CAST(${langScoreSql("en")} AS DOUBLE) / $nTok"
      val ttr = s"CAST($nDist AS DOUBLE) / $nTok"
      val qual = s"($ttr * 0.5 + least($stopR * 4.0, 1.0) * 0.3 + " +
        s"(CASE WHEN $meanLen BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END))"
      val grams = """list_distinct([array_to_string(ws[i:i+7], ' ')
        | for i in range(1, greatest(len(ws) - 7, 0) + 1)])""".stripMargin
      s"""WITH q AS (
         |  SELECT doc_id, text, lang, n_chars,
         |    regexp_split_to_array(trim(text), '\\s+') AS ws
         |  FROM documents
         |  WHERE doc_id % 25 <> 0 AND $qual > 0.5 AND $nTok >= 30),
         |kept AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY substr(text, 1, 40)
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM q) WHERE rn = 1),
         |dd AS (SELECT q.* FROM q JOIN kept USING (doc_id)),
         |bg AS (
         |  SELECT DISTINCT unnest($grams) AS g
         |  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS ws
         |        FROM documents WHERE doc_id % 25 = 0)),
         |dirty AS (
         |  SELECT DISTINCT doc_id
         |  FROM (SELECT doc_id, unnest($grams) AS g FROM dd)
         |  JOIN bg USING (g)),
         |clean AS (
         |  SELECT * FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
         |SELECT CASE WHEN (doc_id * 37 + 11) % 100 < 80 THEN 'train'
         |            WHEN (doc_id * 37 + 11) % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM clean GROUP BY 1, 2""".stripMargin
    }),
    QuerySpec("q_contamination", qContamination, Some(contaminationOracle)),
    // the bloom prefilter is exact-confirmed, so the SAME oracle replays it
    QuerySpec("q_contamination_bloom", qContaminationBloom, Some(contaminationOracle)),
    QuerySpec("q_quality_signals", qQualitySignals, Some(
      s"""WITH e AS (
         |  SELECT doc_id,
         |    replace(replace(text, ' join ', chr(10) || 'line one' ||
         |        chr(10)), ' data ', chr(10) || '- ')
         |    || (CASE WHEN doc_id % 3 = 0
         |        THEN ' u' || CAST(doc_id % 7 AS VARCHAR) || '@ex.com'
         |        ELSE '' END)
         |    || (CASE WHEN doc_id % 5 = 0
         |        THEN ' 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.1'
         |        ELSE '' END)
         |    || ' ' || repeat('#', CAST(doc_id % 4 AS INT)) AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, text,
         |    list_filter(str_split(text, chr(10)),
         |      l -> length(trim(l)) > 0) AS ls,
         |    regexp_split_to_array(trim(text), '\\s+') AS ws
         |  FROM e)
         |SELECT doc_id,
         |  round(CASE WHEN len(ls) > 0
         |    THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
         |    ELSE 0.0 END + 1e-9, 4) AS dup_line,
         |  round(CASE WHEN len(ls) > 0
         |    THEN CAST(len(list_filter(ls, l -> list_contains(
         |      ['-', '*', '•'], substr(trim(l), 1, 1)))) AS DOUBLE) / len(ls)
         |    ELSE 0.0 END + 1e-9, 4) AS bullet,
         |  round(CASE WHEN len(ws) > 0
         |    THEN CAST(len(list_filter(ws,
         |      w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(ws)
         |    END + 1e-9, 4) AS alpha,
         |  round(CAST(
         |      (length(text) - length(replace(text, '#', '')))
         |    + (length(text) - length(replace(text, '...', ''))) // 3
         |    + (length(text) - length(replace(text, '…', '')))
         |    AS DOUBLE) / len(ws) + 1e-9, 4) AS sym,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))
         |    AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text,
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
         |    AS BIGINT) AS n_ip
         |FROM t""".stripMargin)),
    QuerySpec("q_fingerprint", qFingerprint, Some(
      """SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     [CAST(unicode(c) AS BIGINT) for c in str_split_regex(text, '')]),
        |   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents""".stripMargin), Headline),
    QuerySpec("q_multimodal_meta", qMultimodalMeta, Some(
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        | CAST(320 + octet_length(encode(text)) % 321 AS BIGINT) AS width,
        | CAST(240 + (octet_length(encode(text)) * 7) % 241 AS BIGINT) AS height,
        | CAST(1 + octet_length(encode(text)) % 30 AS BIGINT) AS n_frames,
        | CASE WHEN octet_length(encode(text)) % 2 = 0
        |      THEN 'rgb8' ELSE 'yuv420' END AS format,
        | CAST(round((320 + octet_length(encode(text)) % 321) * (256.0 /
        |   least(320 + octet_length(encode(text)) % 321,
        |         240 + (octet_length(encode(text)) * 7) % 241)) + 1e-9)
        |   AS BIGINT) AS rw,
        | CAST(round((240 + (octet_length(encode(text)) * 7) % 241) * (256.0 /
        |   least(320 + octet_length(encode(text)) % 321,
        |         240 + (octet_length(encode(text)) * 7) % 241)) + 1e-9)
        |   AS BIGINT) AS rh,
        | CAST((1 + octet_length(encode(text)) % 30 + 2) // 3 AS BIGINT)
        |   AS n_sampled
        |FROM documents""".stripMargin), Headline),
    QuerySpec("q_ann_lsh_topk", qAnnLshTopK, Some {
      val sim = s"${dotSqlOf("q.emb", "c.emb")} / " +
        s"(${normSql("q.emb")} * ${normSql("c.emb")})"
      s"""WITH b AS (
         |  SELECT vec_id, embedding AS emb,
         |    CAST(${bucketSql(8, 64)} AS BIGINT) AS bucket
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $sim AS sim
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 50),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim
         |FROM ranked WHERE rank <= 3""".stripMargin
    }, Headline),
    // xxhash64-based, so rows-only checks with no oracle SQL (the engine
    // hash is not reproducible in DuckDB); the pipeline SEMANTICS are
    // value-hash-checked by q_dedup_pipeline_exact.
    QuerySpec("q_minhash_pairs", qMinhashPairs, None, Headline),
    QuerySpec("q_simhash_pairs", qSimhashPairs, None, Headline),
    QuerySpec("q_dedup_pipeline", qDedupPipeline, None, Headline),
    QuerySpec("q_pq_topk", qPqTopK, Some {
      // Replays PQ end-to-end: 8 subspaces × 16 seed centroids from the
      // table (first 16 vectors' slices), exact-arithmetic encode argmin
      // (tie → min code), ADC score = Σ_j dot(q_slice_j, book_j[code_j])
      // accumulated left-to-right like the Spark unroll.
      val m = 8; val sub = 8
      def sliceOf(v: String, j: Int) = s"$v[${j * sub + 1}:${(j + 1) * sub}]"
      def dotD(a: String, b: String) =
        s"""list_sum(list_transform(list_zip($a, $b),
           | x -> CAST(x[1] AS DOUBLE) * x[2]))""".stripMargin
      val centCtes = (0 until m).map { j =>
        s"""cent$j AS (
           |  SELECT cid,
           |    list_transform(${sliceOf("embedding", j)},
           |      x -> CAST(x AS DOUBLE)) AS c
           |  FROM cent),
           |cent2_$j AS (
           |  SELECT cid, c, list_sum(list_transform(c, x -> x * x)) AS c2
           |  FROM cent$j),
           |assign$j AS (
           |  SELECT vec_id, c FROM (
           |    SELECT e.vec_id, cc.c,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY -2.0 * ${dotD(s"${sliceOf("e.embedding", j)}", "cc.c")}
           |          + cc.c2, cc.cid) AS rn
           |    FROM embeddings e CROSS JOIN cent2_$j cc)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val joins = (1 until m).map(j =>
        s"JOIN assign$j a$j ON a$j.vec_id = a0.vec_id").mkString(" ")
      val adc = (0 until m).map(j =>
        dotD(sliceOf("q.embedding", j), s"a$j.c")).mkString(" + ")
      s"""WITH cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
         |    AS cid, embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16)),
         |$centCtes,
         |scored AS (
         |  SELECT q.vec_id AS query_id, a0.vec_id AS neighbor_id,
         |    ($adc) AS score
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        WHERE vec_id < 20) q
         |  CROSS JOIN assign0 a0 $joins
         |  WHERE q.vec_id <> a0.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score
         |FROM ranked WHERE rank <= 3""".stripMargin
    }),
    QuerySpec("q_minhash_pairs_exact", qMinhashPairsExact, Some {
      // Replays qMinhashPairsExact end-to-end: rank-affine sigs (big
      // multipliers), 3 bands × 2 raw-value banding, then the
      // pairsFromBuckets emission rules — all-pairs for buckets ≤ 2
      // members, star (min → other) + id-ordered chain above.
      val sigCols = rankHsBig.zipWithIndex.map { case ((a, b), i) =>
        s"min((sid * $a + $b) % 100003) AS sig$i" }.mkString(", ")
      val bandRows = (0 until 3).map(b =>
        s"SELECT doc_id, $b AS band, sig${2 * b} AS s1, " +
          s"sig${2 * b + 1} AS s2 FROM sigs").mkString(" UNION ALL ")
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(${duckShingles(5)}) AS sh
         |  FROM documents WHERE doc_id < 200),
         |ranks AS (
         |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) AS BIGINT) AS sid
         |  FROM (SELECT DISTINCT sh FROM sh)),
         |sigs AS (
         |  SELECT doc_id, $sigCols
         |  FROM sh JOIN ranks USING (sh) GROUP BY doc_id),
         |banded AS ($bandRows),
         |ann AS (
         |  SELECT doc_id, band, s1, s2,
         |    count(*) OVER wa AS n,
         |    min(doc_id) OVER wa AS mn,
         |    lead(doc_id) OVER
         |      (PARTITION BY band, s1, s2 ORDER BY doc_id) AS nxt
         |  FROM banded
         |  WINDOW wa AS (PARTITION BY band, s1, s2)),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM ann x JOIN ann y ON x.band = y.band AND x.s1 = y.s1
         |    AND x.s2 = y.s2 AND x.doc_id < y.doc_id
         |  WHERE x.n <= 2
         |  UNION ALL
         |  SELECT mn AS a, doc_id AS b FROM ann WHERE n > 2 AND doc_id <> mn
         |  UNION ALL
         |  SELECT doc_id AS a, nxt AS b FROM ann
         |  WHERE n > 2 AND nxt IS NOT NULL)
         |SELECT DISTINCT a, b FROM pairs WHERE a <> b""".stripMargin
    }, Parity),
    QuerySpec("q_simhash_pairs_exact", qSimhashPairsExact, Some {
      // Replays qSimhashPairsExact: 60-bit rank-affine simhash (per-bit
      // parity votes, majority sign, bits packed), 4 bands × 15-bit
      // div-mod banding, all-pairs for 2-member blocks, star + DUAL-ORDER
      // chains above, bit_count(xor) Hamming ≤ 24, least/greatest
      // normalize.
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(${duckShingles(5)}) AS sh
         |  FROM documents WHERE doc_id < 200),
         |ranks AS (
         |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) AS BIGINT) AS sid
         |  FROM (SELECT DISTINCT sh FROM sh)),
         |rs AS (SELECT doc_id, sid FROM sh JOIN ranks USING (sh)),
         |votes AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN (sid * ((2654435761 * (2 * j + 1)) % 4294967296)
         |        + (97 * j + 31)) % 100003 % 2 = 1
         |      THEN 1 ELSE -1 END) AS v
         |  FROM rs CROSS JOIN (SELECT unnest(range(0, $simBits)) AS j) bits
         |  GROUP BY doc_id, j),
         |sigs AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN v > 0 THEN 1::BIGINT << j ELSE 0 END) AS sig
         |  FROM votes GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, sig, bs.band,
         |    (sig // (1::BIGINT << (15 * bs.band))) % 32768 AS block
         |  FROM sigs
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bs),
         |ann AS (
         |  SELECT doc_id, sig, band, block,
         |    count(*) OVER wa AS n,
         |    first_value(doc_id) OVER wsa AS aid,
         |    first_value(sig) OVER wsa AS asig,
         |    lead(doc_id) OVER ws AS nxts, lead(sig) OVER ws AS nxtssig,
         |    lead(doc_id) OVER wi AS nxti, lead(sig) OVER wi AS nxtisig
         |  FROM banded
         |  WINDOW wa AS (PARTITION BY band, block),
         |    ws AS (PARTITION BY band, block ORDER BY sig, doc_id),
         |    wsa AS (PARTITION BY band, block ORDER BY sig, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         |    wi AS (PARTITION BY band, block ORDER BY doc_id)),
         |pairs AS (
         |  SELECT x.doc_id AS a, x.sig AS siga, y.doc_id AS b, y.sig AS sigb
         |  FROM ann x JOIN ann y ON x.band = y.band AND x.block = y.block
         |    AND x.doc_id < y.doc_id
         |  WHERE x.n = 2
         |  UNION ALL
         |  SELECT aid, asig, doc_id, sig FROM ann
         |  WHERE n > 2 AND doc_id <> aid
         |  UNION ALL
         |  SELECT doc_id, sig, nxts, nxtssig FROM ann
         |  WHERE n > 2 AND nxts IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, sig, nxti, nxtisig FROM ann
         |  WHERE n > 2 AND nxti IS NOT NULL),
         |norm AS (
         |  SELECT least(a, b) AS na, greatest(a, b) AS nb,
         |    CAST(bit_count(xor(siga, sigb)) AS BIGINT) AS hamming
         |  FROM pairs
         |  WHERE bit_count(xor(siga, sigb)) <= 24 AND a <> b)
         |SELECT DISTINCT na AS a, nb AS b, hamming FROM norm""".stripMargin
    }, Parity, BenchSkip),
    QuerySpec("q_dedup_pipeline_exact", qDedupPipelineExact, Some {
      val sigCols = rankHs.zipWithIndex.map { case ((a, b), i) =>
        s"min((sid * $a + $b) % 100003) AS sig$i" }.mkString(", ")
      val bandRows = (0 until 3).map(b =>
        s"SELECT doc_id, $b AS band, sig${2 * b} AS s1, sig${2 * b + 1} AS s2 " +
          "FROM sigs").mkString(" UNION ALL ")
      val inter = "len(list_intersect(ta.sh, tb.sh))"
      val jac = s"CAST($inter AS DOUBLE) / (len(ta.sh) + len(tb.sh) - $inter)"
      s"""WITH RECURSIVE sh AS (
         |  SELECT DISTINCT doc_id, unnest(${duckShingles(5)}) AS sh
         |  FROM documents WHERE doc_id < 200),
         |ranks AS (
         |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) AS BIGINT) AS sid
         |  FROM (SELECT DISTINCT sh FROM sh)),
         |sigs AS (
         |  SELECT doc_id, $sigCols
         |  FROM sh JOIN ranks USING (sh) GROUP BY doc_id),
         |banded AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.s1 = y.s1 AND x.s2 = y.s2
         |      AND x.doc_id < y.doc_id),
         |t AS (SELECT doc_id, ${duckShingles(5)} AS sh
         |      FROM documents WHERE doc_id < 200),
         |verified AS (
         |  SELECT c.a, c.b FROM cand c
         |  JOIN t ta ON ta.doc_id = c.a
         |  JOIN t tb ON tb.doc_id = c.b
         |  WHERE $jac >= 0.8),
         |nodes AS (SELECT a AS v FROM verified
         |          UNION SELECT b AS v FROM verified),
         |sym AS (SELECT a, b FROM verified
         |        UNION SELECT b AS a, a AS b FROM verified),
         |reach(v, r) AS (
         |  SELECT v, v AS r FROM nodes
         |  UNION
         |  SELECT s.b AS v, reach.r
         |  FROM reach JOIN sym s ON s.a = reach.v),
         |comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id < 200 AND d.doc_id NOT IN
         |  (SELECT v FROM comp WHERE v <> component)""".stripMargin
    }, Parity),
    QuerySpec("q_ann_ivf", qAnnIvf, Some {
      // Replays the FULL IVF search: seed centroids from the table itself
      // (first 16 vectors by id — matching ivfIndex(iters=0)), corpus cell
      // assignment by exact-arithmetic argmin of −2·v·c + ‖c‖² (tie → min
      // cid, mirroring Spark's array_sort on struct(d, cid)), nprobe=4 cell
      // selection per query, per-cell cosine top-3.
      val dotEC = """list_sum(list_transform(list_zip(e.embedding, cc.c),
        | x -> CAST(x[1] AS DOUBLE) * x[2]))""".stripMargin
      val dotQC = """list_sum(list_transform(list_zip(q.embedding, cc.c),
        | x -> CAST(x[1] AS DOUBLE) * x[2]))""".stripMargin
      val sim = s"${dotSqlOf("q.qe", "c.emb")} / " +
        s"(${normSql("q.qe")} * ${normSql("c.emb")})"
      s"""WITH cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
         |    AS cid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16)),
         |cent2 AS (
         |  SELECT cid, c, list_sum(list_transform(c, x -> x * x)) AS c2
         |  FROM cent),
         |assigned AS (
         |  SELECT e.vec_id, e.embedding, cc.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY -2.0 * $dotEC + cc.c2, cc.cid) AS rn
         |  FROM embeddings e CROSS JOIN cent2 cc),
         |corpus AS (
         |  SELECT vec_id, embedding AS emb, cid FROM assigned WHERE rn = 1),
         |qcells AS (
         |  SELECT q.vec_id, q.embedding, cc.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY -2.0 * $dotQC + cc.c2, cc.cid) AS rn
         |  FROM embeddings q CROSS JOIN cent2 cc WHERE q.vec_id < 50),
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS qe, cid
         |  FROM qcells WHERE rn <= 4),
         |scored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id, $sim AS sim
         |  FROM probes q JOIN corpus c
         |    ON q.cid = c.cid AND q.query_id <> c.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim
         |FROM ranked WHERE rank <= 3""".stripMargin
    }, Headline),
    QuerySpec("q_bpe_tokens", qBpeTokens, Some(
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
        |   AS BIGINT) AS n_bpe,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |   AS n_ws
        |FROM documents""".stripMargin)),
    QuerySpec("q_split_assign", qSplitAssign, Some(
      """SELECT CASE WHEN (doc_id * 37 + 11) % 100 < 80 THEN 'train'
        |            WHEN (doc_id * 37 + 11) % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        | count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin)),
    QuerySpec("q_stratified", qStratified, Some(
      """SELECT lang, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE (doc_id * 37 + 11) % 100 <
        |  CASE lang WHEN 'en' THEN 50.0 WHEN 'zh' THEN 20.0 ELSE 10.0 END
        |GROUP BY lang""".stripMargin)),
    // rates replayed from the counts: qp = p^(α-1) with α=0.5; rarest
    // source divides by its own qp → exactly 1.0 in both engines; 6dp
    // half-up rounding (+1e-9) guards pow() ulp drift at bucket boundaries
    QuerySpec("q_temperature_mix", qTemperatureMix, Some(
      """WITH c AS (SELECT source, count(*) AS n FROM documents
        |           GROUP BY source),
        |q AS (SELECT source,
        |        pow(n / (SELECT CAST(sum(n) AS DOUBLE) FROM c), -0.5) AS qp
        |      FROM c),
        |r AS (SELECT source,
        |        round(qp / (SELECT max(qp) FROM q) + 1e-9, 6) AS rate
        |      FROM q)
        |SELECT d.source, count(*) AS n_kept,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE (d.doc_id * 37 + 11) % 100 < rate * 100
        |GROUP BY d.source""".stripMargin)),
    QuerySpec("q_per_key_cap", qPerKeyCap, Some(
      """SELECT source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT source, n_chars,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 15 GROUP BY source""".stripMargin)),
    // globalShuffle's portable md5 key replayed verbatim: DuckDB md5()
    // over 'doc_id:seed' produces the same lowercase hex as Spark's
    QuerySpec("q_global_shuffle", qGlobalShuffle, Some(
      """SELECT CAST(row_number() OVER (ORDER BY
        |         md5(CAST(doc_id AS VARCHAR) || ':7')) AS BIGINT) AS rank,
        |       doc_id
        |FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7')
        |LIMIT 15""".stripMargin)),
    QuerySpec("q_dedup_keep_best", qDedupKeepBest, Some(
      """SELECT keep_id, n_copies
        |FROM (SELECT doc_id AS keep_id,
        |        row_number() OVER (PARTITION BY substr(text, 1, 40)
        |          ORDER BY n_chars DESC, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY substr(text, 1, 40)) AS n_copies
        |      FROM documents)
        |WHERE rn = 1""".stripMargin)),
    QuerySpec("q_embed_norm", qEmbedNorm, Some {
      val nrm = normSql("embedding")
      val maxAbs =
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
      s"""SELECT vec_id,
         | round($nrm + 1e-9, 4) AS nrm,
         | round(CAST(embedding[1] AS DOUBLE) / $nrm + 1e-9, 6) AS e1n,
         | round(127.0 / $maxAbs + 1e-9, 4) AS scale,
         | CAST(round(CAST(embedding[1] AS DOUBLE) * (127.0 / $maxAbs))
         |   AS INT) AS q1
         |FROM embeddings""".stripMargin
    }),
    QuerySpec("q_para_dedup", qParaDedup, Some(
      // eligibility (len(trim) >= 2) is a function of the paragraph string,
      // so each window partition is homogeneous and the CASE override for
      // ineligible paragraphs never interleaves with ranked ones
      s"""WITH e AS (
         |  $paraEnrichSql),
         |sp AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM e),
         |occ AS (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'p': ls[i]}
         |    for i in range(1, len(ls) + 1)]) AS o
         |  FROM sp),
         |ranked AS (
         |  SELECT doc_id, o.pos AS pos, o.p AS p,
         |    CASE WHEN length(trim(o.p)) >= 2 THEN
         |      row_number() OVER (PARTITION BY o.p ORDER BY doc_id, o.pos)
         |    ELSE 1 END AS rn
         |  FROM occ),
         |agg AS (
         |  SELECT doc_id,
         |    string_agg(p, chr(10) ORDER BY pos) AS clean_text,
         |    count(*) AS n_kept
         |  FROM ranked WHERE rn = 1 GROUP BY doc_id)
         |SELECT e.doc_id,
         |  coalesce(a.clean_text, '') AS clean_text,
         |  coalesce(a.n_kept, 0) AS n_kept,
         |  len(str_split(e.text, chr(10))) - coalesce(a.n_kept, 0)
         |    AS n_dropped
         |FROM e LEFT JOIN agg a ON e.doc_id = a.doc_id""".stripMargin)),
    QuerySpec("q_para_dedup_doc", qParaDedupDoc, Some(
      s"""WITH e AS (
         |  $paraEnrichSql),
         |sp AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM e),
         |occ AS (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'p': ls[i]}
         |    for i in range(1, len(ls) + 1)]) AS o
         |  FROM sp),
         |ranked AS (
         |  SELECT doc_id, o.pos AS pos, o.p AS p,
         |    row_number() OVER (PARTITION BY doc_id, o.p ORDER BY o.pos)
         |      AS rn
         |  FROM occ)
         |SELECT doc_id,
         |  string_agg(p, chr(10) ORDER BY pos) AS clean_text
         |FROM ranked WHERE rn = 1 GROUP BY doc_id""".stripMargin)),
    QuerySpec("q_seq_pack", qSeqPack, Some(
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 8 AS grp,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY grp
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS strt
         |  FROM t),
         |x AS (
         |  SELECT grp, doc_id, n_tokens, strt,
         |    unnest(range(strt // 512, (strt + n_tokens - 1) // 512 + 1))
         |      AS chunk_id
         |  FROM c WHERE n_tokens > 0)
         |SELECT grp, chunk_id, doc_id, n_tokens,
         |  greatest(chunk_id * 512, strt) - strt AS off_start,
         |  least((chunk_id + 1) * 512, strt + n_tokens)
         |    - greatest(chunk_id * 512, strt) AS off_len
         |FROM x""".stripMargin)),
    QuerySpec("q_chunk_windows", qChunkWindows, Some(
      s"""WITH ${duckSpanCtes(window = 64, stride = 48)}
         |SELECT doc_id, tok_start // 48 AS win_id, tok_start, tok_len,
         |  chunk
         |FROM sp""".stripMargin)),
    QuerySpec("q_semantic_dedup", qSemanticDedup, Some {
      def cosOf(a: String, b: String) =
        s"${dotSqlOf(a, b)} / (${normSql(a)} * ${normSql(b)})"
      s"""WITH RECURSIVE base AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  UNION ALL
         |  SELECT -vec_id - 1, embedding, label FROM embeddings
         |  WHERE vec_id % 40 = 0
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding, label FROM embeddings
         |  WHERE vec_id % 40 = 20),
         |bk AS (
         |  SELECT vec_id, embedding, ${bucketSql(8, 64)} AS bucket,
         |    list_sum(list_transform(list_zip(embedding,
         |      ${planeWeightsSql(0, 64)}),
         |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS p0,
         |    list_sum(list_transform(list_zip(embedding,
         |      ${planeWeightsSql(1, 64)}),
         |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS p1
         |  FROM base WHERE len(embedding) >= 64),
         |ann AS (
         |  SELECT vec_id, embedding, bucket,
         |    count(*) OVER (PARTITION BY bucket) AS n,
         |    first_value(vec_id) OVER (PARTITION BY bucket
         |      ORDER BY p0, p1, vec_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND UNBOUNDED FOLLOWING) AS aid,
         |    first_value(embedding) OVER (PARTITION BY bucket
         |      ORDER BY p0, p1, vec_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND UNBOUNDED FOLLOWING) AS av,
         |    lead(vec_id) OVER (PARTITION BY bucket ORDER BY p0, p1, vec_id)
         |      AS nxt,
         |    lead(embedding) OVER (PARTITION BY bucket ORDER BY p0, p1, vec_id)
         |      AS nxtv
         |  FROM bk QUALIFY n >= 2),
         |pairs AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    ${cosOf("x.embedding", "y.embedding")} AS sim
         |  FROM ann x JOIN ann y
         |    ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  WHERE x.n <= 32
         |  UNION ALL
         |  SELECT aid, vec_id, ${cosOf("av", "embedding")}
         |  FROM ann WHERE n > 32 AND vec_id <> aid
         |  UNION ALL
         |  SELECT vec_id, nxt, ${cosOf("embedding", "nxtv")}
         |  FROM ann WHERE n > 32 AND nxt IS NOT NULL),
         |verified AS (SELECT DISTINCT a, b FROM pairs WHERE sim >= 0.99),
         |nodes AS (SELECT a AS v FROM verified
         |          UNION SELECT b AS v FROM verified),
         |sym AS (SELECT a, b FROM verified
         |        UNION SELECT b AS a, a AS b FROM verified),
         |reach(v, r) AS (
         |  SELECT v, v AS r FROM nodes
         |  UNION
         |  SELECT s.b AS v, reach.r
         |  FROM reach JOIN sym s ON s.a = reach.v),
         |comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
         |SELECT b.vec_id, CAST(b.label AS BIGINT) AS label FROM base b
         |WHERE b.vec_id NOT IN
         |  (SELECT v FROM comp WHERE v <> component)""".stripMargin
    }),
    QuerySpec("q_unigram_lp", qUnigramLp, Some(
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS T FROM toks)
         |SELECT doc_id, count(*) AS n_toks,
         |  round(avg(ln(CAST(c AS DOUBLE))) - ln(T) + 1e-9, 4) AS avg_logp
         |FROM toks JOIN vocab USING (tok), tot
         |GROUP BY doc_id, T""".stripMargin)),
    // replays trainVocab (top-50 by count desc, token asc) AND the
    // broadcast scoring with the 1/(T+1) OOV floor
    QuerySpec("q_vocab_score", qVocabScore, Some(
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |vc AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS T FROM toks),
         |vocab AS (SELECT tok, c FROM vc ORDER BY c DESC, tok LIMIT 50)
         |SELECT doc_id, count(*) AS n_toks,
         |  round(avg(ln(coalesce(CAST(v.c AS DOUBLE) / T, 1.0 / (T + 1.0))))
         |    + 1e-9, 4) AS avg_logp
         |FROM toks LEFT JOIN vocab v USING (tok), tot
         |GROUP BY doc_id, T""".stripMargin)),
    QuerySpec("q_dedup_incremental", qDedupIncremental, Some {
      val sigCols = rankHsBig.zipWithIndex.map { case ((a, b), i) =>
        s"min((sid * $a + $b) % 100003) AS sig$i" }.mkString(", ")
      val bandRows = (0 until 3).map(b =>
        s"SELECT doc_id, $b AS band, sig${2 * b} AS s1, " +
          s"sig${2 * b + 1} AS s2 FROM sigs").mkString(" UNION ALL ")
      val est = (0 until 6).map(i =>
        s"(CASE WHEN sb.sig$i = si.sig$i THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(${duckShingles(5)}) AS sh
         |  FROM documents WHERE doc_id < 200),
         |ranks AS (
         |  SELECT sh, CAST(row_number() OVER (ORDER BY sh) AS BIGINT) AS sid
         |  FROM (SELECT DISTINCT sh FROM sh)),
         |sigs AS (
         |  SELECT doc_id, $sigCols
         |  FROM sh JOIN ranks USING (sh) GROUP BY doc_id),
         |banded AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS bd, i.doc_id AS ix
         |  FROM banded b JOIN banded i
         |    ON b.band = i.band AND b.s1 = i.s1 AND b.s2 = i.s2
         |  WHERE b.doc_id % 3 <> 0 AND i.doc_id % 3 = 0),
         |matched AS (
         |  SELECT DISTINCT c.bd FROM cand c
         |  JOIN sigs sb ON sb.doc_id = c.bd
         |  JOIN sigs si ON si.doc_id = c.ix
         |  WHERE CAST($est AS DOUBLE) / 6 >= 0.8)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id < 200 AND d.doc_id % 3 <> 0
         |  AND length(d.text) >= 5
         |  AND d.doc_id NOT IN (SELECT bd FROM matched)""".stripMargin
      // length >= 5: a doc with no 5-char shingle never gets a signature
      // on the Spark side (rankSigsWide's explode drops it), so the batch
      // frame cannot contain it — the oracle must exclude it too
    }),
    QuerySpec("q_curate_full", qCurateFull, Some(
      s"""WITH e AS (
         |  $paraEnrichSql),
         |sp AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM e),
         |occ AS (
         |  SELECT doc_id, unnest([{'pos': i - 1, 'p': ls[i]}
         |    for i in range(1, len(ls) + 1)]) AS o
         |  FROM sp),
         |ranked AS (
         |  SELECT doc_id, o.pos AS pos, o.p AS p,
         |    CASE WHEN length(trim(o.p)) >= 2 THEN
         |      row_number() OVER (PARTITION BY o.p ORDER BY doc_id, o.pos)
         |    ELSE 1 END AS rn
         |  FROM occ),
         |agg AS (
         |  SELECT doc_id,
         |    string_agg(p, chr(10) ORDER BY pos) AS clean_text
         |  FROM ranked WHERE rn = 1 GROUP BY doc_id),
         |docs2 AS (
         |  SELECT e.doc_id, coalesce(a.clean_text, '') AS text,
         |    CASE WHEN (e.doc_id * 37 + 11) % 100 < 80 THEN 'train'
         |         WHEN (e.doc_id * 37 + 11) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM e LEFT JOIN agg a ON e.doc_id = a.doc_id),
         |t AS (
         |  SELECT doc_id, split,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM docs2),
         |c AS (
         |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY split
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS strt
         |  FROM t),
         |x AS (
         |  SELECT split, doc_id, n_tokens, strt,
         |    unnest(range(strt // 256, (strt + n_tokens - 1) // 256 + 1))
         |      AS chunk_id
         |  FROM c WHERE n_tokens > 0)
         |SELECT split, count(DISTINCT chunk_id) AS n_chunks,
         |  count(*) AS n_doc_spans,
         |  CAST(sum(least((chunk_id + 1) * 256, strt + n_tokens)
         |    - greatest(chunk_id * 256, strt)) AS BIGINT) AS n_tokens
         |FROM x GROUP BY split""".stripMargin)),
    QuerySpec("q_media_dedup", qMediaDedup, Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |        encode(substr(text, 1, 40)) AS payload
        |      FROM documents)
        |GROUP BY payload""".stripMargin)),
    // Predicts the ImageIO encode→decode round trip from the generation
    // arithmetic: dims/format survive only if both codec passes really ran;
    // the JDK PNG/GIF/JPEG writers emit 3-band RGB for TYPE_INT_RGB input.
    QuerySpec("q_media_decode", qMediaDecode, Some(
      """SELECT doc_id AS media_id,
        |  16 + doc_id % 32 AS width,
        |  12 + doc_id % 24 AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    ELSE 'jpeg' END AS format
        |FROM documents WHERE doc_id < 300""".stripMargin)),
    // the fixed thumbnail contract: every input really decoded, scaled,
    // and re-encoded as 24×18 png (failures would emit -1/'unknown')
    QuerySpec("q_image_resize", qImageResize, Some(
      """SELECT doc_id AS media_id, CAST(24 AS BIGINT) AS width,
        |  CAST(18 AS BIGINT) AS height, 'png' AS format
        |FROM documents WHERE doc_id < 200""".stripMargin)),
    // Predicts the WAV encode→decode round trip: sample rate / channels /
    // bits / frame count survive only if the RIFF header was really
    // written by AudioSystem.write and really parsed by getAudioFileFormat.
    QuerySpec("q_audio_decode", qAudioDecode, Some(
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
        |    WHEN 2 THEN 16000 ELSE 22050 END AS sample_rate,
        |  1 + doc_id % 2 AS channels,
        |  CAST(16 AS BIGINT) AS bits,
        |  50 + doc_id % 100 AS n_frames
        |FROM documents WHERE doc_id < 300""".stripMargin)),
    // Predicts the MP4 box-tree round trip: dims survive 16.16 fixed-point
    // encode/decode, duration the ms→timescale→ms conversion (timescale
    // 1000 = exact), brand a raw 4-byte copy.
    QuerySpec("q_video_decode", qVideoDecode, Some(
      """SELECT doc_id AS media_id,
        |  160 + (doc_id % 33) * 4 AS width,
        |  120 + (doc_id % 25) * 4 AS height,
        |  1000 + (doc_id % 97) * 53 AS duration_ms,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand
        |FROM documents WHERE doc_id < 300""".stripMargin)),
    QuerySpec("q_dup_spans", qDupSpans, Some(
      s"""WITH ${duckSpanCtes(window = 8, stride = 8)},
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY chunk
         |      ORDER BY doc_id, tok_start) AS rn,
         |    count(*) OVER (PARTITION BY chunk) AS n_occ
         |  FROM sp)
         |SELECT doc_id, tok_start, tok_len,
         |  (n_occ = 1 OR rn = 1) AS keep
         |FROM ranked""".stripMargin)),
    QuerySpec("q_ngram_repetition", qNgramRepetition, Some {
      def gramAgg(n: Int, tag: String) =
        s"""g$tag AS (
           |  SELECT doc_id, unnest([array_to_string(ws[i:i+${n - 1}], ' ')
           |    for i in range(1, greatest(len(ws) - ${n - 1}, 0) + 1)])
           |    AS gram
           |  FROM t),
           |c$tag AS (
           |  SELECT doc_id, gram, count(*) AS c,
           |    length(gram) - ${n - 1} AS chars
           |  FROM g$tag GROUP BY doc_id, gram),
           |a$tag AS (
           |  SELECT doc_id, max(c * chars) AS top,
           |    sum(CASE WHEN c >= 2 THEN c * chars ELSE 0 END) AS dup
           |  FROM c$tag GROUP BY doc_id)""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
         |  FROM documents),
         |tot AS (
         |  SELECT doc_id, CAST(list_sum(list_transform(ws,
         |    w -> length(w))) AS DOUBLE) AS total
         |  FROM t),
         |${gramAgg(2, "2")},
         |${gramAgg(3, "3")}
         |SELECT t.doc_id,
         |  round(coalesce(a2.top / nullif(tot.total, 0), 0) + 1e-9, 4)
         |    AS top2,
         |  round(coalesce(a2.dup / nullif(tot.total, 0), 0) + 1e-9, 4)
         |    AS dup2,
         |  round(coalesce(a3.top / nullif(tot.total, 0), 0) + 1e-9, 4)
         |    AS top3,
         |  round(coalesce(a3.dup / nullif(tot.total, 0), 0) + 1e-9, 4)
         |    AS dup3
         |FROM t
         |JOIN tot ON t.doc_id = tot.doc_id
         |LEFT JOIN a2 ON t.doc_id = a2.doc_id
         |LEFT JOIN a3 ON t.doc_id = a3.doc_id""".stripMargin
    }),
  )
}
