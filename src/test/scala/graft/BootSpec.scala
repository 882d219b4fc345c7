package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one session bootstrap: every entry point and tool builds
  * its SparkSession through [[Boot.session]], so the settings they all
  * share (master override, UI off, Graft extensions, UTC, WARN
  * logging) live in exactly one place. */
class BootSpec extends AnyFunSuite {

  test("SparkSession.builder appears under src/main/scala only in Boot.scala") {
    val callers = BootSpec.mainSourcesContaining("SparkSession.builder")
    assert(callers == Seq("graft/Boot.scala"),
      s"SparkSession.builder outside graft/Boot.scala: $callers — use Boot.session")
  }
}

object BootSpec {

  /** The sources under src/main/scala that contain `needle`, as sorted
    * paths relative to it. */
  def mainSourcesContaining(needle: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(p => root.relativize(p).toString).toSeq.sorted
  }
}
