package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The running kernels' reach, checked without running a Spark job: the
  * pandas ewm weight update and the time-window deque live once, in
  * `graft/operators/RunningKernels.scala`, and every batch and streaming
  * verb calls them there. */
class KernelLocationSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val home = "graft/operators/RunningKernels.scala"
  // W2's update, the decay factor, and a deque evicting by the low bound
  private val kernelCode = """sumWt2|oldWtFactor|ArrayDeque|lowBound""".r

  /** (file under `root`, line) for every line of kernel code. */
  private lazy val hits: Seq[(String, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally files.close()
  }.flatMap { f: Path =>
    Files.readAllLines(f).asScala.collect {
      case l if kernelCode.findFirstIn(l).isDefined =>
        (root.relativize(f).toString, l.trim)
    }
  }

  test("the ewm recurrence and the time-window aggregate exist once") {
    val elsewhere = hits.filterNot(_._1 == home)
    assert(elsewhere.isEmpty, elsewhere.mkString("\n"))
    val inHome = hits.filter(_._1 == home).map(_._2).mkString("\n")
    assert(Seq("sumWt2", "oldWtFactor", "lowBound").forall(inHome.contains),
      s"$home no longer holds the kernels")
  }
}
