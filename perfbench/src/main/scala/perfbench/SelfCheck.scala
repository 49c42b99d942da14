package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** Checks on the benchmark itself, at reduced sizes, for one seed:
  * a fingerprint of each workload's inputs (counts, data file digest,
  * verified pairs, CC rounds) that run.py compares across processes,
  * and the oracle's verdict on real and on corrupted results. */
object SelfCheck {

  private def small(spark: SparkSession, name: String, seed: Long): Workload = name match {
    case "ii_lookup" => new IiLookup(spark, seed, 50000L)
    case "dedup_cc" => new DedupCc(spark, seed, 300)
  }

  private def sha256(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }

  /** SHA-256 of the input rows as stored, read back in doc-id order. */
  private def rowsDigest(spark: SparkSession, d: File): String =
    sha256(spark.read.parquet(d.getPath).orderBy("doc_id").collect().iterator
      .map(r => (r.mkString("\u0001") + "\n").getBytes("UTF-8")))

  /** SHA-256 over the data files under `d`, in path order. Part file
    * names carry a per-write UUID, so only the part number is hashed. */
  private def filesDigest(d: File): String =
    sha256(Disk.parquet(d).iterator.flatMap(f => Iterator(
      (f.getParentFile.getName + "/" + f.getName.take(10)).getBytes("UTF-8"),
      java.nio.file.Files.readAllBytes(f.toPath))))

  def run(spark: SparkSession, work: File, seed: Long): Any = {
    val checks = mutable.ArrayBuffer.empty[Any]
    def expect(name: String, ok: Boolean, detail: String): Unit =
      checks += Json.obj("check" -> name, "ok" -> ok, "detail" -> detail)
    val t = new Tracer(false)

    val prints = Seq("ii_lookup", "dedup_cc").map { name =>
      val w = small(spark, name, seed)
      val d = new File(work, name)
      w.tracer = new Tracer(true) // so dedup_cc counts its LSH candidates
      w.setup(d)
      val prepared = w.prepare()
      expect(s"$name: oracle preparation passes", prepared.isEmpty, prepared.mkString("; "))
      val print = Json.obj("inputs" -> w.inputStats, "rows_sha256" -> rowsDigest(spark, w.inputDir),
        "files_sha256" -> filesDigest(w.inputDir))
      // one op of each kind: a whole cycle
      val ops = (0L until w.cycle).map { i => val op = w.op(i); (op.kind, op.run(t)) }
      ops.foreach { case (kind, o) =>
        val err = o.check(o.out)
        expect(s"$name: $kind passes its check", err.isEmpty, err.toString)
      }
      corrupt(ops).foreach { case (label, o, bad) =>
        expect(s"$name: oracle rejects $label", o.check(bad).nonEmpty, "accepted")
      }
      w match {
        case dc: DedupCc =>
          print("verified_pairs") = dc.layerValues("operators.dedup.pairs")
          print("cc_rounds") = dc.rounds.toSeq
        case _ =>
      }
      Disk.delete(d)
      name -> print
    }
    Json.obj("seed" -> seed, "fingerprints" -> Json.obj(prints: _*), "checks" -> checks)
  }

  /** Corrupted copies of correct results: one doc id dropped from one
    * posting list, a nudged average, a changed field, a member moved
    * to another component. */
  private def corrupt(ops: Seq[(String, Outcome)]): Seq[(String, Outcome, Array[Row])] =
    ops.flatMap { case (kind, o) =>
      val out = o.out
      if (out.isEmpty) None
      else kind match {
        case "r2_isin" =>
          val i = out.indexWhere(_.getSeq[Long](1).size > 1)
          val r = out(i)
          val bad = Row.fromSeq(r.toSeq.updated(1, r.getSeq[Long](1).drop(1)))
          Some((s"$kind with one doc id dropped", o, out.updated(i, bad)))
        case "r4_isin" =>
          val r = out(0)
          Some((s"$kind with a nudged average", o, Array(Row.fromSeq(r.toSeq.updated(3, r.getDouble(3) * (1 + 1e-6))))))
        case "r8_point" =>
          val r = out(0)
          Some((s"$kind with a changed source_host", o, out.updated(0, Row.fromSeq(r.toSeq.updated(3, "nowhere")))))
        case "dedup_cc" =>
          val i = out.indexWhere(_.getLong(1) > 1)
          val r = out(i)
          Some((s"$kind with a member moved", o, out.updated(i, Row.fromSeq(r.toSeq.updated(0, r.getLong(0) + 1)))))
        case _ => None
      }
    }.groupBy(_._1).values.map(_.head).toSeq
}
