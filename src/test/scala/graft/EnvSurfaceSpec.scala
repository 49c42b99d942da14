package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_*` environment surface of the mains is closed: a
  * removed knob cannot come back unseen, and a new one is a
  * deliberate change to this list. */
class EnvSurfaceSpec extends AnyFunSuite {

  private def envNames(root: Path): Set[String] = {
    val name = """SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap(f => name.findAllMatchIn(Files.readString(f)).map(_.matched)).toSet
  }

  test("src/main reads exactly eleven SPARK_GRAFT_* names") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root; no $main here")
    val expected = Set("BENCH_CEILING", "BENCH_FORCE", "BENCH_OUT", "BENCH_REPS", "CPUS",
      "ONLY", "REFSCALE_OUT", "REF_ROWS", "SCALEUP_TEXT", "SF_DIR", "VERIFY_CEILING")
      .map("SPARK_GRAFT_" + _)
    val names = envNames(main)
    assert(names == expected,
      s"SPARK_GRAFT_* names in src/main: ${names.toSeq.sorted.mkString(", ")}; " +
        s"added: ${(names -- expected).toSeq.sorted.mkString(", ")}; " +
        s"gone: ${(expected -- names).toSeq.sorted.mkString(", ")}")
  }
}
