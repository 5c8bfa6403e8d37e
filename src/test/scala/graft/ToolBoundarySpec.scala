package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine code does not depend on the dev tools: an A/B toggle is
  * inlined before its change merges.
  */
class ToolBoundarySpec extends AnyFunSuite {
  test("no file under src/main/scala outside graft/tools mentions graft.tools or OptToggle") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found; run from the repository root")
    val tools = root.resolve("graft/tools")
    val engine = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.startsWith(tools)).toSeq
    assert(engine.exists(_.endsWith("graft/sources/GraftStore.scala")))
    val offenders = engine.filter { p =>
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      text.contains("graft.tools") || text.contains("OptToggle")
    }
    assert(offenders.isEmpty, offenders.mkString("engine files naming a dev tool:\n", "\n", ""))
  }
}
