package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{ConnectedComponents, Dedup, InvertedIndex}
import graft.sources.ClusteredParquet

/** What one timed op returned. `check` runs off the clock on `out` and
  * returns an error message when the result is wrong. `rows` counts
  * input rows the op processed (for rows_per_s); `scanned` (read off
  * the clock, -1 if not measured) and `returned` feed the traced
  * rows-scanned-per-row-out ratio of doc-id reads. */
final case class Outcome(out: Array[Row], check: Array[Row] => Option[String], rows: Long,
                         scanned: () => Long = () => -1L, returned: Long = 0L)

final case class Op(kind: String, run: Tracer => Outcome)

/** One benchmark workload: seeded inputs, the op sequence of its
  * closed loop, and the oracle that checks each op. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Generate and write the inputs under `dir`; timed, repeated. */
  def setup(dir: File): Unit
  /** Driver-side ground truth; off the clock, after the last setup.
    * Returns the checks that failed, which count as failed ops. */
  def prepare(): Seq[String] = Nil
  /** The i-th op of the deterministic op sequence. */
  def op(i: Long): Op
  /** Ops per cycle of the sequence. */
  def cycle: Int
  /** On-disk bytes and the rows they hold, for stored_bytes_per_row. */
  def storage: (Long, Long)
  /** Inputs as written: rows, files, row groups, bytes. */
  def inputStats: Map[String, Double]
  /** The clustered table the set-up wrote. */
  def inputDir: File
  /** Workload-specific per-layer values. */
  def layerValues: Map[String, Double] = Map.empty

  /** Tracer for calls made during set-up. */
  var tracer = new Tracer(false)
  import spark.implicits._

  protected def logRows(lo: Long, hi: Long, parts: Int): DataFrame = {
    val s = seed // a local, so the closure does not capture the workload
    spark.range(lo, hi, 1, parts).mapPartitions(_.map(i => Gen.row(s, i.longValue))).toDF()
  }

  protected def write(t: Tracer, df: DataFrame, path: File, rows: Long): Unit =
    t.span("sources.write", rows)(ClusteredParquet.write(df, path.getPath))

  protected def rng(i: Long, salt: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(Gen.hash(seed, i, salt))

  /** `n` ids from [0, bound): a contiguous range or scattered draws. */
  protected def idSet(r: java.util.SplittableRandom, n: Int, bound: Long, range: Boolean): Array[Long] =
    if (range) {
      val start = r.nextLong(bound - n)
      Array.tabulate(n)(k => start + k)
    } else {
      val s = new java.util.HashSet[Long](n * 2)
      while (s.size < n) s.add(r.nextLong(bound))
      val a = new Array[Long](n)
      var k = 0
      val it = s.iterator()
      while (it.hasNext) { a(k) = it.next(); k += 1 }
      java.util.Arrays.sort(a)
      a
    }
}

object Check {
  def ids(r: Row, i: Int): Array[Long] = r.getSeq[Long](i).toArray

  def near(a: Double, e: Double): Boolean = math.abs(a - e) <= 1e-9 * math.max(1.0, math.abs(e))

  /** Posting lists of an R1/R2 result against the expected map. */
  def postings(rows: Array[Row], expected: Map[String, Array[Long]]): Option[String] = {
    if (rows.length != expected.size)
      return Some(s"${rows.length} values, expected ${expected.size}")
    rows.foreach { r =>
      val v = r.getString(0)
      val got = ids(r, 1)
      expected.get(v) match {
        case None => return Some(s"unexpected value $v")
        case Some(e) =>
          if (!java.util.Arrays.equals(got, e)) return Some(s"posting list of $v differs")
          if (r.getLong(2) != e.length) return Some(s"n_docs of $v is ${r.getLong(2)}, expected ${e.length}")
      }
    }
    None
  }

  /** min, max and avg of an R3/R4 result. */
  def stats(rows: Array[Row], min: Double, max: Double, avg: Double): Option[String] = {
    if (rows.length != 1) return Some(s"${rows.length} stats rows")
    val r = rows(0)
    if (r.getDouble(1) != min || r.getDouble(2) != max || !near(r.getDouble(3), avg))
      Some(s"stats (${r.getDouble(1)}, ${r.getDouble(2)}, ${r.getDouble(3)}) expected ($min, $max, $avg)")
    else None
  }
}

object Disk {
  def files(d: File): Seq[File] =
    if (!d.exists) Nil
    else if (d.isFile) Seq(d)
    else d.listFiles().toSeq.sortBy(_.getName).flatMap(files)

  def parquet(d: File): Seq[File] = files(d).filter(_.getName.endsWith(".parquet"))

  def bytes(d: File): Long = parquet(d).map(_.length).sum

  def rowGroups(d: File): Int = parquet(d).map { f =>
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getPath), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size finally r.close()
  }.sum

  def delete(d: File): Unit = {
    if (d.isDirectory) d.listFiles().foreach(delete)
    d.delete()
  }

  def stats(d: File, rows: Long): Map[String, Double] = Map(
    "rows" -> rows.toDouble, "files" -> parquet(d).size.toDouble,
    "row_groups" -> rowGroups(d).toDouble, "bytes" -> bytes(d).toDouble)
}

/** Doc-id-restricted reads on a static clustered table: R2 and R4 on a
  * held DataFrame, R8 point lookups that list the files on every call.
  * Id sets hit all three routes of restrictToDocIds / LargeInListToJoin
  * and come as scattered ids and as contiguous ranges. */
final class IiLookup(spark: SparkSession, seed: Long, rows: Long)
    extends Workload(spark, seed) {
  private var path: File = _
  private var table: DataFrame = _

  def setup(dir: File): Unit = {
    path = new File(dir, "table")
    write(tracer, logRows(0, rows, 8), path, rows)
    table = ClusteredParquet.read(spark, path.getPath)
  }

  /** (kind, ids, contiguous?) in cycle order. Each route gets one id
    * count (isin ≤ 1,000 < rule ≤ 10,000 < broadcast), so an op kind
    * costs the same in every run; the seed picks which ids, as a
    * contiguous range (which prunes on the clustered layout) or
    * scattered. Planning the 5,000-literal In list dominates, which
    * splits the cycle into three cost blocks: isin and point lookups
    * (3 cheap), broadcast (3 middle), rule (4 dear). The median falls
    * inside the middle block and the tail percentile inside the dear
    * one, not on the edge between two blocks, where it would swing
    * from run to run. */
  private val kinds = Seq(
    ("r2_isin", 500, false), ("r2_rule", 5000, true), ("r2_rule", 5000, false),
    ("r4_isin", 500, true), ("r4_rule", 5000, true), ("r4_rule", 5000, false),
    ("r8_point", 100, false), ("r2_broadcast", 12000, true), ("r2_broadcast", 12000, false),
    ("r4_broadcast", 12000, true))

  def cycle = kinds.size

  def op(i: Long): Op = {
    val (kind, n, range) = kinds((i % kinds.size).toInt)
    val ids = idSet(rng(i, 7), n, rows, range)
    val route = if (ids.length <= 1000) "isin" else if (ids.length <= 10000) "rule" else "broadcast"
    Op(kind, t => {
      val df = kind.take(2) match {
        case "r2" => t.span(s"operators.by_doc_ids.$route")(
          InvertedIndex.fieldValuesByDocIds(table, "level", ids.toSeq))
        case "r4" => t.span("operators.numeric_stats_by_doc_ids")(
          InvertedIndex.numericStatsByDocIds(table, "user.metrics.clicks", ids.toSeq))
        case _ => t.span("sources.point_lookup")(
          ClusteredParquet.pointLookup(spark, path.getPath, ids.toSeq))
      }
      val out = t.collect(df)
      Outcome(out, check(kind, ids, _), ids.length, () => if (t.enabled) ScanRows(df) else -1L, ids.length)
    })
  }

  def check(kind: String, ids: Array[Long], out: Array[Row]): Option[String] = {
    val gen = ids.map(Gen.row(seed, _))
    kind.take(2) match {
      case "r2" =>
        Check.postings(out, gen.groupBy(_.level).map { case (v, rs) => v -> rs.map(_.doc_id).sorted })
      case "r4" =>
        val c = gen.map(_.user_metrics_clicks.toDouble)
        Check.stats(out, c.min, c.max, c.sum / c.length)
      case _ =>
        val got = out.map(r => LogRow(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getString(4), r.getLong(5), r.getDouble(6), r.getString(7))).sortBy(_.doc_id)
        if (got.toSeq != gen.toSeq) Some(s"point lookup returned ${got.length} rows, not the ${gen.length} generated")
        else None
    }
  }

  def storage = (Disk.bytes(path), rows)
  def inputStats = Disk.stats(path, rows)
  def inputDir = path
}

/** MinHash-LSH near-duplicate pairs into connected components, on a
  * seeded corpus with planted near-duplicate chains. Each op runs the
  * whole pipeline on the stored corpus. */
final class DedupCc(spark: SparkSession, seed: Long, docs: Int)
    extends Workload(spark, seed) {
  import spark.implicits._
  private var path: File = _
  private var corpus: DataFrame = _
  private var planted: Array[(Long, Long)] = _
  private var expected: Map[Long, Long] = _
  private var pairs = 0L
  private var candidates = 0L
  private var recall = 0.0
  val MinRecall = 0.95
  val rounds = mutable.ArrayBuffer.empty[Int]

  def setup(dir: File): Unit = {
    path = new File(dir, "corpus")
    val (d, p) = Gen.corpus(seed, docs)
    planted = p
    write(tracer, d.toSeq.toDF(), path, docs.toLong)
    corpus = ClusteredParquet.read(spark, path.getPath)
  }

  /** Pairs once through graft, each checked against exact shingle
    * Jaccard on the driver; the expected components are a union-find
    * over the pairs that pass. Planted neighbours have Jaccard ≈ 0.85,
    * which 16 LSH bands of 8 find with probability ≈ 0.995, so finding
    * fewer than `MinRecall` of them is a failure too: it would make a
    * pipeline that loses pairs look merely faster. */
  override def prepare(): Seq[String] = {
    val text = Gen.corpus(seed, docs)._1.map(d => d.doc_id -> d.text).toMap
    val got = Dedup.minhashLshPairs(corpus).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("jaccard")))
    val (good, bad) = got.map { case (a, b, j) => (a, b, j, Gen.jaccard(Gen.shingles(text(a)), Gen.shingles(text(b)))) }
      .partition { case (_, _, j, e) => Check.near(j, e) && e >= 0.8 }
    pairs = good.length
    if (tracer.enabled) {
      // the same banding minhashLshPairs does with its defaults
      val banded = Dedup.bandSignatures(corpus.select(col("doc_id").as("id"),
        graft.functions.TextFunctions.minhashText(col("text"), 3, 128).as("sig")), 128, 16)
      candidates = Dedup.bucketPairs(banded, 100).count()
    }
    val found = good.map(p => (p._1, p._2)).toSet
    recall = planted.count(found).toDouble / planted.length
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    good.foreach { case (a, b, _, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    expected = parent.keys.toSeq.map(k => k -> find(k)).toMap
    bad.headOption.map { case (a, b, j, e) =>
      s"${bad.length} of ${got.length} pairs fail the exact Jaccard check, e.g. ($a, $b): $j, exact $e" }.toSeq ++
      (if (recall < MinRecall) Seq(f"planted-pair recall $recall%.4f is below $MinRecall") else Nil)
  }

  def cycle = 1

  def op(i: Long): Op = Op("dedup_cc", t => {
    val p = t.span("operators.minhash_pairs")(Dedup.minhashLshPairs(corpus))
    val before = CcRounds.seen
    val clusters = t.span("operators.cc_clusters")(ConnectedComponents.clusters(p))
    rounds ++= CcRounds.seen.drop(before.size)
    val out = t.collect(clusters)
    Outcome(out, checkClusters, docs.toLong)
  })

  /** The components equal the union-find over the checked pairs, and
    * they put at least `MinRecall` of the planted pairs together. */
  def checkClusters(out: Array[Row]): Option[String] = {
    val got = out.flatMap { r =>
      val comp = r.getLong(0)
      r.getString(2).split(',').map(m => m.toLong -> comp)
    }
    val comp = got.toMap
    val together = planted.count { case (a, b) => comp.get(a).exists(comp.get(b).contains) }.toDouble / planted.length
    if (got.length != expected.size) Some(s"${got.length} clustered docs, union-find has ${expected.size}")
    else if (got.exists { case (m, c) => !expected.get(m).contains(c) }) Some("components differ from union-find")
    else if (out.exists(r => r.getLong(1) != r.getString(2).split(',').length)) Some("n_members differs")
    else if (together < MinRecall) Some(f"components hold $together%.4f of the planted pairs, below $MinRecall")
    else None
  }

  override def layerValues = Map(
    "operators.dedup.verified_per_candidate" -> (if (candidates > 0) pairs.toDouble / candidates else 0.0),
    "operators.dedup.planted_recall" -> recall,
    "operators.dedup.pairs" -> pairs.toDouble)

  def storage = (Disk.bytes(path), docs.toLong)
  def inputStats = Disk.stats(path, docs.toLong)
  def inputDir = path
}

/** Round counts of ConnectedComponents, read from the one line it
  * prints per call ("[cc] converged after N rounds"). */
object CcRounds {
  private val Pattern = """\[cc\] converged after (\d+) rounds""".r.unanchored
  @volatile var seen = Vector.empty[Int]

  def install(): Unit = {
    val orig = System.err
    System.setErr(new java.io.PrintStream(new java.io.OutputStream {
      private val line = new java.io.ByteArrayOutputStream()
      override def write(b: Int): Unit = {
        orig.write(b)
        if (b == '\n') {
          line.toString("UTF-8") match {
            case Pattern(n) => seen :+= n.toInt
            case _ =>
          }
          line.reset()
        } else line.write(b)
      }
      override def flush(): Unit = orig.flush()
    }, true))
  }
}
