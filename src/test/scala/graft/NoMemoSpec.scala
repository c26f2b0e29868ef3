package graft

import org.apache.spark.sql.classic
import graft.tools.Profile

/** A registry query leaves no storage behind that its next build could
  * read: the second sample of a query does the work of the first. */
class NoMemoSpec extends SparkSpec {

  test("materializing queries leave no cache entry and redo their work") {
    spark.catalog.clearCache()
    val queries = Seq("q_factorize", "q_audio_decode", "q_media_decode")
    val jobs = SparkEntry.named(queries: _*).map { q =>
      q.name -> Seq.fill(2)(
        Profile.sample(spark)(q.build(spark, sf0001))._1.jobs)
    }
    val lessWork = jobs.collect { case (q, Seq(first, second))
      if second != first => s"$q ran $first then $second jobs" }
    assert(lessWork.isEmpty)
    assert(spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }
}
