package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** The materialize policy's reach, checked without running a Spark job:
  * every checkpoint, persist and release in `src/main/scala` goes through
  * [[Materialize]], and no frame leaves its plan for an RDD except at a
  * named site. */
class MaterializePolicySpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val storage = """localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\(""".r
  private val rdd = """\.rdd\b""".r
  /** A member of a top-level object or class, at two spaces' indent. */
  private val member = """^  (?:private(?:\[\w+\])? )?(?:lazy )?(?:def|val) (\w+)""".r.unanchored

  /** (file under `root`, enclosing member, line) for every source line. */
  private lazy val lines: Seq[(String, String, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally files.close()
  }.flatMap { f: Path =>
    var in = ""
    Files.readAllLines(f).asScala.map { l =>
      l match { case member(name) => in = name; case _ => }
      (root.relativize(f).toString, in, l.trim)
    }
  }

  /** The lines that `re` matches. */
  private def scan(re: Regex): Seq[(String, String, String)] =
    lines.filter(l => re.findFirstIn(l._3).isDefined)

  /** (file under `root`, line) for every storage call. */
  private lazy val calls: Seq[(String, String)] = scan(storage).map(c => (c._1, c._3))

  test("only Materialize checkpoints, persists or unpersists a frame") {
    assert(calls.exists(_._1 == "graft/Materialize.scala"))
    // StreamBench's two index caches live as long as the stream they serve
    val streamIndexes = calls.filter(_._1 == "graft/tools/StreamBench.scala")
    assert(streamIndexes.size == 2 && streamIndexes.forall(_._2.endsWith(".cache()")),
      streamIndexes.mkString("\n"))
    val elsewhere = calls.filterNot(c => c._1 == "graft/Materialize.scala" ||
      c._1 == "graft/tools/StreamBench.scala")
    assert(elsewhere.isEmpty, elsewhere.mkString("\n"))
  }

  /** The `.rdd` calls left in `src/main/scala`, by (file, member), each with
    * the reason it stays. A per-partition pass belongs in the query plan
    * (typed `Dataset.mapPartitions`), where Profile sees its exchanges. */
  private val rddAllowed = Map(
    ("graft/Materialize.scala", "superseding") ->
      "frees a checkpoint's blocks; a checkpointed frame has no unpersist",
    ("graft/operators/InheritedOps.scala", "qcutBins") ->
      "zipWithIndex picks order statistics for a driver collect; no frame is rebuilt",
    ("graft/operators/InheritedOps.scala", "factorizeCodes") ->
      "zipWithIndex: the in-plan AttachDistributedSequenceExec stores its child outside Materialize",
    ("graft/TrainingQueries.scala", "rankedShingles") ->
      "zipWithIndex: the in-plan AttachDistributedSequenceExec stores its child outside Materialize")

  test("a frame leaves its plan for an RDD only at a named site") {
    val found = scan(rdd).filterNot(_._3.startsWith("import "))
    val unlisted = found.filterNot(c => rddAllowed.contains((c._1, c._2)))
    assert(unlisted.isEmpty, unlisted.mkString("\n"))
    // a site that no longer calls .rdd leaves the list
    val stale = rddAllowed.keySet -- found.map(c => (c._1, c._2))
    assert(stale.isEmpty, stale.mkString("\n"))
  }
}
