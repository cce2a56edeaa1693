package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards for the one streaming run path: a query starts only in
  * `streaming/Run.scala`, every temp dir goes through
  * `core/TempDir.scala`, whose single exit hook deletes whole trees, and
  * every local checkpoint goes through `graftshim/Checkpoint.scala`. */
class RunGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private def sources: Vector[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  /** (file, line substring) → why that line may break the rule. */
  private val exemptions: Map[(String, String), String] = Map(
    ("QueriesProc.scala", "queryName(\"src_socket_sink\")") ->
      "the socket source supports neither AvailableNow nor a replayable checkpoint")

  private def hits(banned: String, allowedIn: String): Vector[String] = {
    val files = sources
    assert(files.exists(_.endsWith(allowedIn)), s"$allowedIn not found")
    for {
      f <- files if !f.endsWith(allowedIn)
      name = f.getFileName.toString
      (line, n) <- Files.readAllLines(f, UTF_8).asScala.toVector.zipWithIndex
      if line.contains(banned)
      if !exemptions.keys.exists { case (file, sub) => file == name && line.contains(sub) }
    } yield s"${root.relativize(f)}:${n + 1}: $banned"
  }

  test("src/main starts streaming queries only through streaming.Run") {
    val found = hits(".writeStream", "streaming/Run.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("src/main makes temp dirs only through core.TempDir, and never deleteOnExit") {
    val found = hits("createTempDirectory", "core/TempDir.scala") ++
      hits("deleteOnExit()", "core/TempDir.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("src/main takes local checkpoints only through graftshim.Checkpoint") {
    val found = hits(".localCheckpoint(", "graftshim/Checkpoint.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("each exemption still names a live line") {
    exemptions.keys.foreach { case (file, sub) =>
      val f = sources.find(_.getFileName.toString == file)
      assert(f.exists(p => Files.readAllLines(p, UTF_8).asScala.exists(_.contains(sub))),
        s"stale exemption $file: $sub")
    }
  }
}
