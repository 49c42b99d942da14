package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an FK-consistent `factor`× amplification of a driver sf-dir
  * — a full synthetic step up the scale ladder (sf0.1 × 10 ≈ sf1) so
  * the ENTIRE gate (Verify → DuckDB oracles, tools/local_verify.py)
  * and Bench can run one decade above the driver's largest SF. The
  * correctness argument is unchanged at any factor: the oracle SQL
  * recomputes over the SAME amplified tables, so the comparison stays
  * exact — amplification only has to keep the data semantically sane,
  * not reproduce the generator.
  *
  * Per-table shapes (each mirrors what real growth looks like):
  *  - region/nation: copied verbatim — dimensions don't grow with SF;
  *  - customer/supplier/part/orders/lineitem: `factor` replicas with
  *    every PK/FK remapped `key*factor+rep` IN LOCKSTEP, so each
  *    replica is a self-consistent TPC-H world (join cardinalities
  *    per key unchanged, totals × factor);
  *  - documents: replica tokens prefixed `r{rep}_` (rep 0 verbatim) —
  *    replicas share no shingles with each other or with rep 0, while
  *    a planted near-dup pair stays a near-dup inside its replica
  *    (both members get the same prefix, so their Jaccard is
  *    unchanged). Duplicate DENSITY stays constant: N× data, not N×
  *    near-dups. Pair verification cost is linear in true pairs, so a
  *    text remap that kept shingles shared across replicas (rotating
  *    tokens does) would grow the pair output far faster than the
  *    rows and measure the wrong thing. `SPARK_GRAFT_SCALEUP_TEXT`
  *    picks the mode: `prefix` (default), `byteneutral` (same
  *    properties at ~1× bytes per row) or `verbatim` (text unchanged,
  *    search family only: every term's postings and df grow N×,
  *    which prefixed replicas hide because they never match a query
  *    term; every replica is an exact duplicate of its rep-0 doc, so
  *    the dedup family must not read it);
  *  - embeddings: replica vectors rotated by rep components at
  *    constant norm (cell/band diversity), labels kept;
  *  - events: N× users each carrying the ORIGINAL series — constant
  *    per-user history, which is what event growth looks like.
  *
  * Run: sbt "runMain graft.ScaleUp [srcDir destDir factor]"; README
  * "Running" has the ScaleUp → Bench recipe for 1×/N× wall ratios.
  */
object ScaleUp {

  private def remap(df: DataFrame, keys: Seq[String], factor: Int): DataFrame = {
    val order = df.columns
    val rep = df.withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
    order.foldLeft(rep) { (acc, c) =>
      if (keys.contains(c))
        acc.withColumn(c, col(c) * factor + col("__rep"))
      else acc
    }.select(order.map(col): _*)
  }

  /** documents: id remap + replica-prefixed tokens, all columns kept.
    * Replicas additionally lead with a 64-hex-char sha256 preamble
    * token unique per (doc, rep): the multimodal paths read `text` as
    * the payload BYTES and derive signatures from the leading bytes —
    * near-verbatim replica bytes would make every replica set a
    * perceptual-hash near-dup clique (3 pairs -> 44k at 10x),
    * violating the amplifier's own constant-duplicate-density rule.
    * High-entropy leading bytes restore it (replica phash bits are
    * ~independent); the preamble is one whitespace-delimited token, so
    * every shingle containing it is unique per (doc, rep) and the
    * token-prefix disjointness argument is untouched. */
  private[graft] def documents(df: DataFrame, factor: Int,
                                textMode: String = "prefix"): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val order = df.columns
    val amplified = textMode match {
      case "prefix" =>
        when(col("__rep") === 0, col("text")).otherwise(
          concat_ws(" ",
            sha2(concat_ws("_", col("doc_id").cast("string"),
              col("__rep").cast("string")), 256),
            array_join(transform(toks,
              t => concat(lit("r"), col("__rep"), lit("_"), t)), " ")))
      // BYTE-NEUTRAL amplification: each replica token is hash-remapped
      // to a SAME-LENGTH hex string (rpad cycles/truncates the sha256
      // to the token's own length), so 10x rows means ~10x bytes — the
      // prefix mode inflates text ~2.3x and every text-op wall ratio
      // with it, which is exactly where a real scaling regression would
      // hide. The properties the gate needs survive: replicas share no
      // shingles with rep 0 or each other (the hash keys on rep), equal
      // tokens within a rep remap equally (near-dup density inside each
      // replica world mirrors rep 0), and rep>0 leading bytes are
      // high-entropy hex (replica phash signatures stay decorrelated
      // without the preamble token the prefix mode needs).
      //
      // Remap entropy is FLOORED at 4 hex chars: truncating to a 1-2
      // char token's own length would leave a 16/256-value space where
      // cross-replica and cross-token collisions stop being negligible
      // and the disjointness invariants above degrade from structural
      // to merely probabilistic. At 4 chars (65,536 values) a single
      // token pair still collides at ~2^-16, and a SHINGLE collision
      // needs every token in the shingle to collide simultaneously —
      // vanishing. Cost: tokens shorter than 4 chars inflate by ≤3
      // bytes each; on natural-language corpora (mean token ≥4 chars)
      // the mode stays byte-neutral to within a few percent.
      case "byteneutral" =>
        when(col("__rep") === 0, col("text")).otherwise(
          array_join(transform(toks, t =>
            call_function("rpad",
              sha2(concat_ws("_", t, col("__rep").cast("string")), 256),
              greatest(length(t), lit(4)), lit("f"))), " "))
      // id remap only: the search family's hot-term scaling
      case "verbatim" => col("text")
      case other => throw new IllegalArgumentException(
        s"unknown text mode '$other' (prefix | byteneutral | verbatim)")
    }
    df.withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("doc_id", col("doc_id") * factor + col("__rep"))
      .withColumn("text", amplified)
      .select(order.map(col): _*)
  }

  /** embeddings: id remap + rep-component rotation, label kept. */
  private def embeddings(df: DataFrame, factor: Int): DataFrame = {
    val order = df.columns
    df.withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("vec_id", col("vec_id") * factor + col("__rep"))
      .withColumn("embedding",
        when(col("__rep") === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), col("__rep") + 1, lit(1 << 20)),
            slice(col("embedding"), lit(1), col("__rep")))))
      .select(order.map(col): _*)
  }

  def build(spark: SparkSession, srcDir: String, destDir: String,
            factor: Int, textMode: String = "prefix"): Unit = {
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$destDir/$name.parquet")
      println(s"[scaleup] $name written")
    }
    def raw(name: String) = Tables.table(spark, srcDir, name)
    write("region", raw("region"))
    write("nation", raw("nation"))
    write("customer", remap(raw("customer"), Seq("c_custkey"), factor))
    write("supplier", remap(raw("supplier"), Seq("s_suppkey"), factor))
    write("part", remap(raw("part"), Seq("p_partkey"), factor))
    write("orders", remap(raw("orders"), Seq("o_orderkey", "o_custkey"), factor))
    write("lineitem",
      remap(raw("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"), factor))
    write("documents", documents(raw("documents"), factor, textMode))
    write("embeddings", embeddings(raw("embeddings"), factor))
    write("events", remap(raw("events"), Seq("event_id", "user_id"), factor))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val destDir = if (args.length > 1) args(1)
      else s"${System.getProperty("java.io.tmpdir")}/graft_scale10x"
    val factor = if (args.length > 2) args(2).toInt else 10
    val textMode = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_TEXT", "prefix")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(Some(s"local[$cpus]"), Some(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, srcDir, destDir, factor, textMode)
    spark.stop()
  }
}
