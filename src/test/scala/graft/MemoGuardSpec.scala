package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Operators memoize through [[ByproductCache]] alone: a private
  * concurrent map in an operator would bring back a second memo with
  * its own lock, lifetime and `clear()` rules.
  */
class MemoGuardSpec extends AnyFunSuite {

  test("no operator keeps its own ConcurrentHashMap / computeIfAbsent memo") {
    val dir = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("ConcurrentHashMap") || line.contains("computeIfAbsent")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "memoize through graft.ByproductCache.getOrCompute, " +
      "not a per-operator map:\n" + hits.mkString("\n"))
  }
}
