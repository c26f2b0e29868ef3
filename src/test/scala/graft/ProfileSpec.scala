package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.tools.Profile

class ProfileSpec extends SparkSpec {

  /** Node names of the final adaptive plan, read off the formatted plan
    * file: an oracle for the node counts that does not share their code. */
  private def finalPlanNodes(r: Profile.Record): Seq[String] =
    Files.readAllLines(Paths.get(r.plan)).asScala.toSeq
      .dropWhile(!_.contains("== Final Plan =="))
      .drop(1)
      .takeWhile(!_.contains("== Initial Plan =="))
      .map(_.replaceAll("^[\\s:|+*-]*", "").replaceAll("\\s*\\(\\d+\\).*$", ""))

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
}
