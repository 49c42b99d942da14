package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.graft.*` conf surface is closed: routes come from the
  * observed input, and the only confs graft reads are deployment
  * settings. A new tuning knob fails here. */
class ConfSurfaceSpec extends AnyFunSuite {

  /** Every `spark.graft.<name>` under `root`, `org.apache.spark.graft`
    * (a package path, not a conf) excluded. */
  private def confNames(root: Path): Set[String] = {
    val name = """(?<!apache\.)spark\.graft\.([A-Za-z]\w*(?:\.[A-Za-z]\w*)*)""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap(f => name.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
  }

  test("src/main reads exactly the two deployment confs") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root; no $main here")
    val names = confNames(main)
    assert(names == Set("reliableCheckpoints", "checkpointDir"),
      s"spark.graft.* names in src/main: ${names.toSeq.sorted.mkString(", ")}; " +
        "only the deployment settings reliableCheckpoints and checkpointDir may be read")
  }
}
