package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: [[BuildTimes]] is the only process-wide artifact memo.
  * A hand-rolled `ConcurrentHashMap` memo (or a build timed apart from
  * the memo) would re-open the gaps it closed: untimed builds, scratch
  * dirs that are never re-checked, session-bound cached values. */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  // listener bookkeeping (job id → start time), not an artifact memo
  private val allowed = Set("BuildTimes.scala", "bench/OptProbe.scala")

  private val banned = Seq(
    "new ConcurrentHashMap" -> """new\s+(java\.util\.concurrent\.)?ConcurrentHashMap\b""".r,
    "BuildTimes.timed" -> """BuildTimes\s*\.\s*timed\b""".r)

  test("no memo map or timed build outside BuildTimes") {
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    val hits = for {
      f: Path <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      if !allowed(rel)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (what, re) <- banned
      if re.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: $what"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
