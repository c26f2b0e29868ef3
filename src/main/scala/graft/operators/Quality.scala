package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.functions.TextFunctions

/** Statistical quality scoring beyond per-row signals: corpus-derived
  * unigram language-model log-probabilities (the CCNet-style "perplexity
  * proxy" filter — docs whose tokens are collectively improbable under the
  * corpus's own distribution are boilerplate, spam, or noise; public
  * technique).
  *
  * Scale design (100 TB):
  *  - the vocabulary pass is one partial-aggregated groupBy(token) — a
  *    token repeated 10¹⁰× combines map-side;
  *  - scoring joins each token occurrence to its single count row (keyed
  *    shuffle; a stop-word hot key is 1:N probe-side only), then one
  *    partial-aggregated groupBy(doc);
  *  - [[scoreWithVocab]] skips the join entirely when a (possibly
  *    truncated) vocabulary fits in a broadcast — the production shape:
  *    train counts once, broadcast the top-K table, score any stream with
  *    an OOV floor, zero shuffles on the corpus.
  */
object Quality {

  /** Per-document mean unigram log-probability under the corpus's own
    * token distribution: avg_t ln(count(t)) − ln(total_tokens). Higher =
    * more typical text. Returns (idCol, n_toks, avg_logp). Tokens are
    * whitespace tokens ([[TextFunctions.tokens]]). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("__tok"))
    val vocab = toks.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__c"))
    // the corpus total is ONE row — stays in-plan via a broadcast cross
    // join, no driver round-trip; summed from the (tiny) vocab aggregate
    // rather than a third full tokenize-and-scan of the corpus
    val total = vocab.agg(sum(col("__c")).cast("double").as("__T"))
    toks.join(vocab, Seq("__tok"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        // __T is constant per group (one global total): first() satisfies
        // the aggregate requirement without changing the value
        (avg(log(col("__c").cast("double"))) - log(first(col("__T"))))
          .as("avg_logp"))
  }

  /** Train a `(token, count)` vocabulary from a corpus: one
    * partial-aggregated token count + bounded top-K selection
    * (TakeOrderedAndProject — K rows cross the wire, nothing else). Ties
    * at the count boundary break lexicographically so the kept set is
    * deterministic. Returns the vocab frame [[scoreWithVocab]] consumes
    * plus the TOTAL token count over the WHOLE corpus (not just the kept
    * top-K) so OOV scoring stays calibrated to the true distribution. */
  def trainVocab(df: DataFrame, textCol: String,
                 topK: Int): (DataFrame, Double) = {
    require(topK > 0, s"topK must be > 0, got $topK")
    // two actions read it; the returned vocab is a topK-bounded LOCAL frame
    Materialize.within(df.select(
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("count"))) { counts =>
      val total = counts.agg(sum(col("count")))
        .head().getLong(0).toDouble
      val topk = counts.orderBy(col("count").desc, col("token").asc)
        .limit(topK)
      val local = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(topk.collect(): _*), topk.schema)
      (local, total)
    }
  }

  /** Score documents against a PRE-TRAINED broadcast vocabulary
    * `(token, count)` with `total` tokens; unseen tokens take the Laplace
    * floor 1/(total+1). The corpus is never shuffled — one broadcast hash
    * probe per token. */
  def scoreWithVocab(df: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame, total: Double,
                     tokenCol: String = "token",
                     countCol: String = "count"): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("__tok"))
    toks.join(broadcast(vocab.select(col(tokenCol).as("__tok"),
        col(countCol).as("__c"))), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        // seen tokens score count/total (matching unigramLogProb's trained
        // distribution); ONLY the unseen case takes the 1/(total+1) floor
        avg(log(coalesce(col("__c").cast("double") / lit(total),
          lit(1.0 / (total + 1.0))))).as("avg_logp"))
  }
}
