package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.tools.Profile
import org.apache.spark.sql.functions.{assert_true, col}

class ProfileSpec extends SparkSpec {

  /** Node names of the final adaptive plan, read off the formatted plan
    * file: an oracle for the node counts that does not share their code. */
  private def finalPlanNodes(r: Profile.Record): Seq[String] =
    Files.readAllLines(Paths.get(r.plan)).asScala.toSeq
      .dropWhile(!_.contains("== Final Plan =="))
      .drop(1)
      .takeWhile(!_.contains("== Initial Plan =="))
      .map(_.replaceAll("^[\\s:|+*-]*", "").replaceAll("\\s*\\(\\d+\\).*$", ""))

  /** Everything a sample counts, i.e. all of it but the timings. */
  private def counts(s: Profile.Sample) =
    (s.jobs, s.stages, s.shuffles, s.broadcasts, s.reusedExchanges)

  private def flagship(): Profile.Sample = Profile.sample(spark)(
    SparkEntry.named("q_flagship").head.build(spark, sf0001))._1

  private lazy val flagshipAlone = flagship()

  test("the record times every rep and splits the last into busy and idle") {
    val r = Profile.run(spark, "q_flagship", sf0001, reps = 2)
    assert(r.query == "q_flagship")
    assert(r.repsS.size == 2)
    assert(r.coldS > 0 && r.repsS.forall(_ > 0))
    assert(r.jobs >= 1 && r.stages >= 1)
    assert(r.idleS >= 0)
    assert(r.busyS <= r.repsS.last)
    assert(math.abs(r.busyS + r.idleS - r.repsS.last) < 1e-9)
    assert(r.json.startsWith("{\"query\":\"q_flagship\""))
  }

  test("exchanges are counted as final-plan nodes: reused and broadcast are not shuffles") {
    // q_minhash_pairs reuses a shuffle; q_set_ops broadcasts
    val withReuse = Profile.run(spark, "q_minhash_pairs", sf0001, reps = 1)
    val withBroadcast = Profile.run(spark, "q_set_ops", sf0001, reps = 1)
    assert(withReuse.reusedExchanges >= 1)
    assert(withBroadcast.broadcasts >= 1)
    Seq(withReuse, withBroadcast).foreach { r =>
      val nodes = finalPlanNodes(r)
      assert(nodes.nonEmpty, r.plan)
      assert(r.shuffles == nodes.count(_ == "Exchange"), r.plan)
      assert(r.broadcasts == nodes.count(_ == "BroadcastExchange"), r.plan)
      assert(r.reusedExchanges == nodes.count(_ == "ReusedExchange"), r.plan)
    }
  }

  test("back-to-back samples each report only their own jobs") {
    val alone = counts(flagshipAlone)
    val (a, b) = (flagship(), flagship())
    assert(counts(a) == alone)
    assert(counts(b) == alone)
    Seq(flagshipAlone, a, b).foreach { s =>
      assert(s.jobs >= 1 && s.wallS > 0)
      assert(math.abs(s.busyS + s.idleS - s.wallS) < 1e-9)
    }
  }

  test("a sample that throws leaves the next sample's jobs its own") {
    intercept[RuntimeException](Profile.sample(spark) {
      spark.range(100).count() // a job inside the failing sample
      sys.error("build failed")
    })
    assert(counts(flagship()) == counts(flagshipAlone))
    // a failing write: its job is started and fails inside the sample
    intercept[Exception](Profile.sample(spark)(
      spark.range(10).select(assert_true(col("id") < 0))))
    assert(counts(flagship()) == counts(flagshipAlone))
  }

  test("the sorted-group pass shows its exchange in the query's final plan") {
    Seq("q_ewm", "q_ewm_var", "q_ewm_cov", "q_rolling_time").foreach { q =>
      val r = Profile.run(spark, q, sf0001, reps = 1)
      assert(r.shuffles >= 1, r.json)
      val nodes = finalPlanNodes(r)
      assert(nodes.nonEmpty && !nodes.exists(_.contains("ExistingRDD")), r.plan)
    }
  }

  test("q_flagship plans the exchanges measured before the shared sampler") {
    val s = flagship()
    assert((s.shuffles, s.broadcasts) == (1, 1))
  }
}
