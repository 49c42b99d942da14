package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Runs in a child JVM: a JVM holds one SparkContext, and stopping
  * the suite's shared session would break every later suite. Prints
  * one `key=value` line per observation. */
object ScratchProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(Some("local[1]"), Some("1")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    println(s"root_before=${Scratch.rootOf(sc).isDefined}")
    val rows = SparkEntry.queries("ingest_csv")(spark, args(0)).collect()
    println(s"rows=${rows.length}")
    val root = Scratch.rootOf(sc).getOrElse(sys.error("ingest_csv staged outside the scratch root"))
    println(s"root=$root")
    println(s"children=${Files.list(root).iterator().asScala.map(_.getFileName).mkString(",")}")
    spark.stop()
    println(s"root_after=${Files.exists(root)}")
  }
}

class ScratchSpec extends AnyFunSuite {

  test("a fresh session stages ingest_csv under its scratch root, and stop() removes the root") {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the test JVM's own flags (the --add-opens Spark needs on JDK 17),
    // with a smaller heap for the one-core child
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      "graft.ScratchProbe", SparkTestSession.sf)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() == 0, out.takeRight(30).mkString("\n"))
    val kv = out.flatMap { l =>
      l.split("=", 2) match {
        case Array(k, v) if Set("root_before", "rows", "root", "children", "root_after")(k) => Some(k -> v)
        case _ => None
      }
    }.toMap
    assert(kv("root_before") == "false", "the root must not exist before a directory is asked for")
    assert(kv("rows").toInt > 0)
    assert(kv("children").split(",").exists(_.startsWith("graft-csv")),
      s"ingest_csv's directory must sit under the root: ${kv("children")}")
    assert(kv("root_after") == "false", s"${kv("root")} must be gone after stop()")
  }
}
