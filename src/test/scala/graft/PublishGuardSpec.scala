package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-maintained structures are rewritten through
  * [[graft.operators.TablePublish]] alone: a hand-written dynamic
  * overwrite elsewhere would bring back its own touched-set and
  * emptied-partition rules. The generation writers replace one whole
  * generation under their own contract and are the only exceptions.
  */
class PublishGuardSpec extends AnyFunSuite {

  private val allowed = Set("TablePublish.scala", "ZOrder.scala",
    "AggTable.scala", "RollingActiveStream.scala")

  test("partitionOverwriteMode appears only in TablePublish and the generation writers") {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "TablePublish.scala"))
    val hits = for {
      f <- files if !allowed(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("partitionOverwriteMode")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "publish touched partitions through " +
      "graft.operators.TablePublish, not a hand-written dynamic overwrite:\n" +
      hits.mkString("\n"))
  }
}
