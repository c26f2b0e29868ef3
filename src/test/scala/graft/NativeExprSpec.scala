package graft

import graft.expressions.native
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  lazy val vecs = Seq(
    (0L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0, 5.0, 6.0)),
    (1L, Seq(0.5f, -1.5f, 2.5f), Seq(-1.0, 0.0, 2.0))
  ).toDF("id", "f", "d")

  test("dot_f matches the HOF fold bit-for-bit (float and double arrays)") {
    val r = vecs.select(
      native.dot_f($"f", $"f").as("nf"),
      CrossCheck.dotHof($"f", $"f").as("hf"),
      native.dot_f($"d", $"d").as("nd"),
      CrossCheck.dotHof($"d", $"d").as("hd")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(1))
      assert(row.getDouble(2) == row.getDouble(3))
    }
    assert(r(0).getDouble(0) == 14.0)
  }

  test("native minhash: identical docs same sig, disjoint docs differ") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "zzzz xxxx yyyy wwww vvvv uuuu tttt ssss")).toDF("id", "text")
    val sigs = docs.select($"id", native.minhash($"text", 8, 5).as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(2L))
    assert(sigs(0L).length == 8)
    assert(sigs(0L).forall(_ >= 0))
  }

  test("native token_ngrams matches the HOF formulation on edge cases") {
    import graft.functions.TextFunctions
    val docs = Seq(
      "the quick brown fox jumps",            // plain
      "the the the quick the the quick the",  // duplicate grams
      "  leading and trailing spaces   ",     // space trim
      "tabs\tand\nnewlines mixedhere",  // non-space whitespace
      "\ttab first",                          // leading empty token case
      "one two",                              // fewer tokens than n
      "")                                     // empty
      .toDF("t")
    val both = docs.select(
      TextFunctions.tokenShingles($"t", 3).as("n"),
      CrossCheck.tokenShinglesHof($"t", 3).as("h"))
    assert(both.where(expr("n <> h")).count() == 0)
    // and the order/dedup contract: first occurrence wins
    val grams = docs.where($"t".startsWith("the the"))
      .select(TextFunctions.tokenShingles($"t", 3)).as[Seq[String]]
      .collect()(0)
    assert(grams == Seq("the the the", "the the quick", "the quick the",
      "quick the the"))
  }

  test("native simhash64: dup identical, near-dup closer than unrelated") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "completely different words entirely unrelated text"),
      (3L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val sigs = docs.select($"id", native.simhash64($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) <
      java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)))
  }

  test("SQL registration via GraftExtensions.register") {
    GraftExtensions.register(spark)
    vecs.createOrReplaceTempView("v")
    val d = spark.sql("SELECT graft_dot(f, f) AS x FROM v WHERE id = 0")
      .as[Double].collect()(0)
    assert(d == 14.0)
    val sh = spark.sql(
      "SELECT graft_simhash64('a b c'), graft_minhash('hello world', 4, 3)")
    assert(sh.collect().length == 1)
    val ng = spark.sql("SELECT graft_token_ngrams('a b c d', 2) AS g")
      .as[Seq[String]].collect()(0)
    assert(ng == Seq("a b", "b c", "c d"))
    // aggregate registration: top-2 by score within one group
    val tk = spark.sql(
      """SELECT graft_topk_by(s, i, 2) AS t FROM VALUES
        |  (1.0D, 10L), (3.0D, 30L), (2.0D, 20L) AS tab(s, i)""".stripMargin)
      .selectExpr("transform(t, x -> x.id) AS ids")
      .as[Seq[Long]].collect()(0)
    assert(tk == Seq(30L, 20L))
    // RUNNING-frame window use: eval runs on the SAME buffer once per
    // output row — a destructive eval (draining the heap) returned only
    // the rows added since the previous frame
    val run = spark.sql(
      """SELECT t, transform(graft_topk_by(s, i, 2) OVER (ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  x -> x.id) AS ids
        |FROM VALUES (1, 5.0D, 1L), (2, 3.0D, 2L), (3, 4.0D, 3L)
        |  AS tab(t, s, i) ORDER BY t""".stripMargin)
      .select($"ids").as[Seq[Long]].collect().toSeq
    assert(run == Seq(Seq(1L), Seq(1L, 2L), Seq(1L, 3L)))
    // wrong argument types fail analysis with the expression's own message
    val dotErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dot('oops', array(1.0))").collect() }
    assert(dotErr.getMessage.contains("expects two numeric arrays"))
    val mhErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_minhash(123, 4, 3)").collect() }
    assert(mhErr.getMessage.contains("expects string"))
  }

  test("ngram_repetition: closed-form fractions, degenerate docs score 0") {
    import graft.expressions.native
    val df = Seq(
      // tokens: a b a b a → bigrams "a b"×2 (4 chars covered), "b a"×2 (4)
      // total chars 5; top = max(2·2, 2·2)=4/5; dup = (4+4)/5
      (1L, "a b a b a"),
      (2L, "xyz"),    // single token → (0, 0)
      (3L, ""),       // empty → (0, 0)
      (4L, "aa bb cc")// all unique bigrams: top = 1·4/6, dup = 0
    ).toDF("id", "text")
    val r = df.select($"id", native.ngram_repetition($"text", 2).as("r"))
      .select($"id", $"r.top_frac", $"r.dup_frac")
      .as[(Long, Double, Double)].collect()
      .map { case (id, t, d) =>
        id -> (math.rint(t * 1e6) / 1e6, math.rint(d * 1e6) / 1e6) }
      .toMap
    assert(r(1L) == ((0.8, 1.6)))
    assert(r(2L) == ((0.0, 0.0)))
    assert(r(3L) == ((0.0, 0.0)))
    assert(r(4L) == ((math.rint(4.0 / 6 * 1e6) / 1e6, 0.0)))
  }

  test("BoundedTopK buffer serialize/deserialize round-trip (spill path)") {
    // ObjectHashAggregate only serializes buffers when it falls back to
    // sort-based aggregation under memory pressure — never in small
    // specs — so the codec is exercised directly here
    import graft.expressions.{BoundedTopK, TopKEntry}
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = BoundedTopK(BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = false), k = 3)
    val buf = agg.createAggregationBuffer()
    Seq((false, 0.5, 1L), (true, 0.0, 2L), (false, 0.9, 3L),
        (false, 0.9, 4L), (false, 0.1, 5L)).foreach { case (n, s, i) =>
      val e = new TopKEntry(n, s, i)
      // mirror update()'s offer via merge of singleton buffers
      val single = agg.createAggregationBuffer()
      single.offer(e)
      agg.merge(buf, single)
    }
    val restored = agg.deserialize(agg.serialize(buf))
    val a = agg.eval(buf)
    val b = agg.eval(restored)
    assert(a.toString == b.toString)
    // eval is non-destructive: calling again yields the identical result
    assert(agg.eval(buf).toString == a.toString)
  }

  test("dot_f null array → null; empty arrays → 0.0") {
    val df = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]]),
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])))
      .toDF("a", "b")
    val r = df.select(native.dot_f($"a", $"b")).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getDouble(0) == 0.0)
  }

  test("native ngram_jaccard matches the HOF formulation on ASCII text") {
    val docs = Seq(
      ("the quick brown fox jumps over the lazy dog",
       "the quick brown fox jumps over the lazy cat"),
      ("aaaaa", "aaaaa"),
      ("abcdefg", "zzzzzzz")).toDF("ta", "tb")
    val r = docs.select(
      native.ngram_jaccard($"ta", $"tb", 5).as("nj"),
      graft.operators.Dedup.nGramJaccard($"ta", $"tb", 5).as("hj")).collect()
    r.foreach(row => assert(row.getDouble(0) == row.getDouble(1)))
  }

  test("native qualityScore equals qualityScoreHof bit-for-bit, " +
      "codegen and interpreted, with and without ICU case mappings") {
    import graft.expressions.TextQualityScore
    import graft.functions.TextFunctions
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val texts = Seq(
      "", " ", null,
      "\tleading tab then the words of a line",  // trim keeps tabs/newlines
      "trailing newline and the end\n",
      "\n\t the middle is to \t\n",
      "the the the",                             // overlapping " the " matches
      // ... below the stopword cap, where 2 vs 3 matches moves the score
      "the the the apple banana cherry dates elder figs grape honey kiwi",
      "the\tthe of\nof and",                     // non-space separators
      "  the  spaced   out   the  a ",
      "The THE tHe Of AND is To A mixed Case",
      "İstanbul İS THE İ capital of a country",  // İ lowers to two chars
      "naïve café façade the résumé über to ÀÉÎ",
      "单词 the 中文 of 文本 and 是 a",
      "x\u000By\fz the\ra",                      // \s also matches VT, FF, CR
      "no\u00A0break\u2003spaces the of",         // non-ASCII spaces: no split
      "single",
      "supercalifragilisticexpialidocious",
      "the quick brown fox jumps over the lazy dog and is to a of")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 3),
      StructType(Seq(StructField("t", StringType))))
    val words = TextFunctions.langMarkers.toMap.apply("en")
    val icuKey = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.getOption(icuKey)
    try for (icu <- Seq("false", "true")) {
      spark.conf.set(icuKey, icu)
      val both = df.select($"t",
        TextFunctions.qualityScore($"t").as("n"),
        TextFunctions.qualityScoreHof($"t").as("h"))
      assert(both.where(!($"n" <=> $"h")).count() == 0, s"icu=$icu")
      val rows = both.collect()
      assert(rows.length == texts.length)
      rows.foreach { r =>
        val (t, h) = (r.getString(0), r.get(2))
        assert((r.get(1) == null) == (t == null) && (h == null) == (t == null))
        if (t != null) {
          val hb = java.lang.Double.doubleToRawLongBits(r.getDouble(2))
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) == hb,
            s"codegen, icu=$icu: '$t'")
          // the interpreted path (eval) against the same HOF value
          val interp = TextQualityScore(Literal(t), words).eval(null)
            .asInstanceOf[Double]
          assert(java.lang.Double.doubleToRawLongBits(interp) == hb,
            s"interpreted, icu=$icu: '$t'")
        }
      }
    } finally before match {
      case Some(v) => spark.conf.set(icuKey, v)
      case None => spark.conf.unset(icuKey)
    }
  }

  test("native qualityScore rejects collated text at analysis") {
    import graft.functions.TextFunctions
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("a b c").toDF("t")
        .select(TextFunctions.qualityScore(collate($"t", "UTF8_LCASE")))
        .collect()
    }
    assert(e.getMessage.contains("qualityScoreHof"))
  }

  test("sorted_jaccard(shingle_hashes) equals ngram_jaccard and a boxed " +
      "hash-set reference (short, multi-byte and repeated text)") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val pairs = Seq(
      ("", ""), ("abc", "abcd"), ("abc", "abcdefgh"), ("abcde", "abcde"),
      ("naïve café déjà vu", "naïve cafe deja vu"),
      ("日本語のテキストです", "日本語のテキストでした"),
      ("emoji 😀😀 text", "emoji 😀 text"),
      ("aaaaaaaaaaaa", "aaaaaa"), ("abababababab", "ababab"),
      ("the quick brown fox jumps over the lazy dog",
       "the quick brown fox jumps over the lazy cat"),
      ("abcdefg", "zzzzzzz"), (null, "abcdef"))
    /** The shingle set as the pre-kernel implementation built it. */
    def ref(t: String, n: Int): Set[Long] = {
      val u = UTF8String.fromString(t)
      (0 to u.numBytes() - n).map(i => XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset + i, n, 42L)).toSet
    }
    // an RDD source, so the kernels run as generated code in tasks
    val df = spark.sparkContext.parallelize(pairs, 2).toDF("a", "b")
    for (n <- Seq(1, 3, 5)) {
      val sorted = native.sorted_jaccard(native.shingle_hashes($"a", n),
        native.shingle_hashes($"b", n))
      val pairwise = native.ngram_jaccard($"a", $"b", n)
      val rows = df.select($"a", $"b", sorted, pairwise, sorted <=> pairwise,
        native.shingle_hashes($"a", n)).collect()
      rows.foreach { r =>
        assert(r.getBoolean(4), s"n=$n: ${r.getString(0)} / ${r.getString(1)}")
        if (r.isNullAt(0)) assert(r.isNullAt(2) && r.isNullAt(3))
        else {
          val (sa, sb) = (ref(r.getString(0), n), ref(r.getString(1), n))
          val inter = (sa & sb).size
          val union = sa.size + sb.size - inter
          val want = if (union == 0) 0.0 else inter.toDouble / union
          assert(r.getDouble(2) == want && r.getDouble(3) == want,
            s"n=$n: ${r.getString(0)} / ${r.getString(1)}")
          assert(r.getSeq[Long](5) == sa.toSeq.sorted, s"set of ${r.getString(0)}")
        }
      }
    }
  }
}
