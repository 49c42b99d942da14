package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.NestedIngest

class NestedIngestSpec extends AnyFunSuite {
  import SparkTestSession._

  test("R6: JSON round trip preserves row count and flattens to dotted-path columns") {
    val flat = NestedIngest.ingestJson(NestedIngest.eventsAsJson(spark, sf), "json")
    val expected = Set(
      "doc_id", "timestamp", "level", "message", "payload_size", "processed",
      "source_ip", "source_host", "source_region",
      "user_id", "user_session_id",
      "user_metrics_login_time_ms", "user_metrics_clicks", "user_metrics_active_time_secs",
      "tags", "answers")
    assert(flat.columns.toSet == expected)
    assert(flat.count() == Tables.events(spark, sf).count())
    // arrays survive flattening intact
    assert(flat.schema("tags").dataType == ArrayType(StringType))
    assert(flat.schema("answers").dataType.isInstanceOf[ArrayType])
  }

  test("R6: nested leaf values survive the round trip") {
    val ev = Tables.events(spark, sf).orderBy("event_id").limit(5)
      .select(col("event_id"), (col("event_id") % 37).as("clicks")).collect()
    val flat = NestedIngest.ingestJson(NestedIngest.eventsAsJson(spark, sf), "json")
      .orderBy("doc_id").limit(5)
      .select(col("doc_id"), col("user_metrics_clicks")).collect()
    assert(ev.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
           flat.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("jsonl ingest: clean lines parse against the explicit schema, malformed quarantine") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl-spec").toString
    Seq(
      """{"id": 1, "kind": "a", "v": 1.5}""",
      """{"id": 2, "kind": "b", "v": 2.25}""",
      """{"id": 3, "kind": "a"}"""
    ).toDS().write.mode("overwrite").text(tmp)
    Seq("""{"id": broken""", "garbage").toDS().write.mode("append").text(tmp)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("kind", StringType),
      StructField("v", DoubleType)))
    val read = graft.sources.JsonlIngest.readWithCorruptCapture(spark, tmp, schema)
    val clean = read.where(col(graft.sources.JsonlIngest.CorruptCol).isNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // missing fields are null, not corrupt; malformed lines are corrupt
    assert(clean == Set((1L, "a"), (2L, "b"), (3L, "a")))
    // collect, not count: a count over the raw source reads only the
    // corrupt column, which Spark refuses
    assert(read.where(col(graft.sources.JsonlIngest.CorruptCol).isNotNull).collect().length == 2)
    // the driver entry shape: per-kind rollup + sentinel corrupt row
    val entry = graft.sources.JsonlIngest.ingestEntry(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(entry("__corrupt") == ((3L, 0.0)))
    val expected = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(entry.filterNot(_._1 == "__corrupt") == expected)
  }

  test("csv ingest: quoting round-trips, corrupt lines quarantine, rollup matches parquet") {
    import spark.implicits._
    // embedded delimiter, doubled quote, missing trailing fields
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv-spec").toString
    Seq("1,en,\"a,b\",5,\"say \"\"hi\"\", ok\"",
        "2,fr,plain,3,text",
        "3,en,short,2",            // short arity: corrupt in CSV (unlike JSONL)
        "bad,en,web,1,x")          // un-typeable doc_id -> corrupt
      .toDS().write.mode("overwrite").text(tmp)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType),
      StructField("text", StringType)))
    val read = graft.sources.CsvIngest.readWithCorruptCapture(spark, tmp, schema)
    val clean = read.where(col(graft.sources.CsvIngest.CorruptCol).isNull)
      .collect().map(r => (r.getLong(0), r.getString(2), Option(r.get(4)))).toSet
    assert(clean == Set(
      (1L, "a,b", Some("say \"hi\", ok")),
      (2L, "plain", Some("text"))))
    // CSV quarantines BOTH bad arity and bad types — stricter than
    // JSONL, where a missing field is just NULL
    assert(read.where(col(graft.sources.CsvIngest.CorruptCol).isNotNull).collect().length == 2)
    // the driver entry shape: per-(lang, source) rollup + sentinel
    val entry = graft.sources.CsvIngest.ingestEntry(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(entry(("__corrupt", "__corrupt"))._1 == 3L)
    val expected = Tables.documents(spark, sf).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(entry.filterNot(_._1._1 == "__corrupt") == expected)
  }

  test("ingest_csv and ingest_jsonl leave no cached relation or persisted RDD behind") {
    // numCachedEntries is private[sql] in Scala but public in bytecode
    val cache = spark.sharedState.cacheManager
    def held = (cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int],
      spark.sparkContext.getPersistentRDDs.keySet)
    val before = held
    for (name <- Seq("ingest_csv", "ingest_jsonl"); _ <- 1 to 2)
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty)
    assert(held == before, "an ingest entry must not cache its parsed read")
  }

  test("orc ingest: values survive the format hop to the microsecond and bit") {
    // row-level fidelity, stronger than the entry's rollup: every
    // event's (ts, value, type) must come back from ORC bit-identical
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc-spec").toString
    val src = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    src.write.mode("overwrite").orc(tmp)
    val back = spark.read.orc(tmp)
    assert(back.count() == src.count())
    val mismatches = src.alias("a").join(back.alias("b"), Seq("event_id"))
      .where(col("a.ts") =!= col("b.ts") || col("a.value") =!= col("b.value") ||
        col("a.event_type") =!= col("b.event_type") ||
        col("a.user_id") =!= col("b.user_id"))
      .count()
    assert(mismatches == 0, "ORC round trip must be lossless")
    // and the entry rollup matches the same rollup off parquet
    val entry = graft.sources.OrcIngest.ingestEntry(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expect = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(entry == expect)
  }

  test("evolve ingest: mergeSchema widens v1 with NULL price; sums match the source slices") {
    import org.apache.spark.sql.functions.col
    val got = graft.sources.SchemaEvolution.ingestEvolved(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    val li = Tables.lineitem(spark, sf)
      .select("l_linenumber", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    def bd(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    Seq(1, 2).foreach { gen =>
      val rows = li.filter(_._1 == gen)
      val (n, np, sq, sp) = got(gen.toLong)
      assert(n == rows.length && rows.nonEmpty)
      assert(np == (if (gen == 1) 0L else rows.length.toLong),
        "v1 price must be all-NULL after the merge")
      assert(math.abs(sq - rows.map(r => bd(r._2)).sum.toDouble) < 1e-6)
      assert(math.abs(sp - (if (gen == 1) BigDecimal(0)
        else rows.map(r => bd(r._3)).sum).toDouble) < 1e-6)
    }
  }

  test("R5+R6: flatten handles arbitrary depth and InvertedIndex can query the result") {
    val flat = NestedIngest.ingestJson(NestedIngest.eventsAsJson(spark, sf), "json")
    // dotted path from the reference's DSL resolves to the flattened column
    val c = graft.operators.InvertedIndex.fieldNameToColumn("user.metrics.clicks")
    assert(c == "user_metrics_clicks" && flat.columns.contains(c))
    val stats = graft.operators.InvertedIndex.numericStats(flat, "user.metrics.clicks")
      .collect()(0)
    assert(stats.getDouble(1) >= 0.0 && stats.getDouble(2) <= 36.0)
  }
}
