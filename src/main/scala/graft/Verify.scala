package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry entry's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev affordance: SPARK_GRAFT_ONLY=a,b,c restricts the dump to the
    // named entries (the driver never sets it — full sweep by default);
    // an unknown name throws before the session starts
    val attempted = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(Some(s"local[$cpus]"), Some(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // per-entry wall ceiling (seconds): one pathological plan must fail
    // ITS entry (no dump → the compare tool flags it) instead of
    // rc-124ing the whole sweep and erasing every other entry's
    // evidence — the round-11 failure mode. 600 s default: generous vs
    // the ~1 s sf0.1 median, still bounded at the 10x sweep.
    val ceiling = sys.env.getOrElse("SPARK_GRAFT_VERIFY_CEILING", "600").trim.toInt
    attempted.foreach { e =>
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // final post-shuffle stage to one task, so an entry whose last
      // stage carries the expensive work (e.g. the SNM families'
      // candidate Jaccard verification after the pair join) runs it
      // single-threaded and can blow the wall ceiling at 10x even
      // though the plan itself is parallel (Bench's noop sink runs the
      // same entry 30-80x faster). repartition adds one exchange of
      // the FINAL result — small by construction, every entry is a
      // bounded report — and keeps the upstream stages parallel.
      Bench.runBounded(spark, "verify", e.name, ceiling)(
        e.build(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/${e.name}"))
    }
    // manifest of attempted entries: the compare tool flags an
    // attempted entry with no dump as a FAILURE (a crashed query must
    // not silently vanish from the report)
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      attempted.map(_.name).mkString("[\"", "\", \"", "\"]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
