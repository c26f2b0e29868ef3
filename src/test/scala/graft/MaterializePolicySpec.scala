package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The materialize policy's reach, checked without running a Spark job:
  * every checkpoint, persist and release in `src/main/scala` goes through
  * [[Materialize]]. */
class MaterializePolicySpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val storage = """localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\(""".r

  /** (file under `root`, line) for every storage call. */
  private lazy val calls: Seq[(String, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally files.close()
  }.flatMap { f: Path =>
    Files.readAllLines(f).asScala.collect {
      case l if storage.findFirstIn(l).isDefined =>
        (root.relativize(f).toString, l.trim)
    }
  }

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
}
