package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.TextFunctions

/** Driver contract — see SURVEY.md §2 for the operator inventory each
  * entry implements. Every entry declares its builder and its DuckDB
  * oracle together in `entries` (hash-compared at sf0.01); `queries` and
  * `oracleSql` are derived from that one list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The namesake operator: full inverted index over the
    * documents table (reference src/main.rs:398-499). */
  def entry(spark: SparkSession): DataFrame =
    InvertedIndex.fieldValues(Tables.documents(spark, "/root/testdata/sf0.001"), "lang")

  /** Deterministic 100-id probe set for the doc-id-restricted queries —
    * mirrors the reference's workload of 100 evenly spaced ids
    * (reference src/main.rs:731). Same literal list feeds the DuckDB
    * oracle so both engines see identical predicates. */
  private val iiDocIds: Seq[Long] = (0 until 100).map(i => i * 5L)
  private def iiDocIdsSql: String = iiDocIds.mkString(", ")

  /** SRP sign-bit SQL for the embedding oracles: the same splitmix64
    * hyperplane chain as SrpSignBits / Similarity.hyperplanes, embedded
    * as ±1 literals (numPlanes × the testdata embeddings' dim 64) so
    * DuckDB reproduces the banding bit-for-bit — the whole LSH pipeline
    * becomes hash-comparable, not just its verification stage. */
  /** Deterministic 1200-key probe set for q_large_in — longer than
    * LargeInListToJoin.Threshold (1000), so the SQL-surface IN list
    * rewrites to the pushed range + `graft_doc_id_in` kernel plan
    * (gcd(17, 4000) = 1 keeps the 1200 keys distinct). */
  private[graft] def largeInKeys: Seq[Long] =
    (0 until 1200).map(i => (i.toLong * 17) % 4000)

  private def srpBitsSql(numPlanes: Int, dim: Int): String =
    Similarity.hyperplanes(numPlanes, dim).zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(e, [${p.mkString(", ")}]) > 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n  ")

  /** Banded SRP buckets: band j = bits j*w .. j*w+w-1 of the bitmask,
    * bit b weighted 2^b — identical packing to Similarity.srpBanded's
    * shiftrightunsigned/mask extraction. */
  private def srpBandedSql(numPlanes: Int, bands: Int): String = {
    val w = numPlanes / bands
    (0 until bands).map { j =>
      val sum = (0 until w).map(b => s"${1 << b}*b${j * w + b}").mkString(" + ")
      s"SELECT id, $j AS band, $sum AS bhash FROM bits"
    }.mkString("\n UNION ALL ")
  }

  /** AUTO-width SRP banding CTE block over an existing `v(id, e)`
    * CTE — the oracle side of Similarity.autoBandBits: sign bits for
    * the maximum width, the integer ⌊log₂(n DIV 100)⌋ ladder from the
    * counted rows (`countWhere` restricts which rows size the width —
    * the incremental twin keys on its corpus side), and one banding
    * arm per candidate width with only the selected one surviving the
    * join. Emits CTEs `bits`, `wsel`, `banded`; `bits` is
    * MATERIALIZED so the 64-dim dot products compute once however
    * many arms reference them. Returns an already-stripped fragment
    * for interpolation into a stripMargin template. */
  private def autoSrpBandedSql(bands: Int, countWhere: String = ""): String = {
    // mirror of Similarity.autoBandBits' budget-derived clamp top:
    // bands × bits ≤ 64 (one-Long bitmask), ceiling 12 — at bands = 4
    // the ladder runs to 12 bits, so the oracle keeps agreeing with
    // the engine past n ≈ 128k where the old hard-8 top saturated
    val maxBits = math.min(12, 64 / bands)
    val arms = (2 to maxBits).flatMap { w =>
      (0 until bands).map { j =>
        val sum = (0 until w).map(b => s"${1 << b}*b${j * w + b}").mkString(" + ")
        s"SELECT id, $w AS w, $j AS band, $sum AS bhash FROM bits"
      }
    }.mkString("\n  UNION ALL ")
    val ladder = (maxBits to 3 by -1)
      .map(x => s"WHEN m >= ${1L << x} THEN $x").mkString(" ")
    s"""bits AS MATERIALIZED (SELECT id, e, ${srpBitsSql(bands * maxBits, 64)} FROM v),
       |wsel AS (SELECT CASE $ladder ELSE 2 END AS w
       |         FROM (SELECT GREATEST(1, count(*) // 100) AS m FROM v $countWhere)),
       |banded AS MATERIALIZED (
       | SELECT id, band, bhash FROM ($arms) a JOIN wsel USING (w))""".stripMargin
  }

  /** Shared banded-kNN oracle prefix (WITH-clause body): SRP banding
    * at AUTO width, the bucket-cap filter, within-bucket pairs,
    * exact-cosine rerank, top-k per query — ends at `top`
    * (q_id, c_id, s, rank ≤ k). Mirrors Similarity.bandedSelfTopK
    * stage for stage: all bands·maxBits plane sign bits are
    * materialized once, `wsel` recomputes Similarity.autoBandBits'
    * integer
    * ⌊log₂(n DIV 100)⌋ ladder from count(*) (threshold CASE — no
    * float-log to disagree on), and `banded` unions one arm per
    * (width, band) pair with only the selected width surviving the
    * join — so the oracle reproduces the banding bit-for-bit at EVERY
    * SF, which a pinned width cannot (the 10× sweep caught pinned
    * 4-bit banding capping out every bucket: recall 0). Buckets with
    * < 2 or > maxBucket members drop (a degenerate bucket cannot go
    * quadratic), pairs are DISTINCT directed (q, c) within surviving
    * buckets, ranks tie (s DESC, c_id) like the TopKBuffer total
    * order. banded/inb are MATERIALIZED: each is referenced twice and
    * inlining would recompute the 64-dim dot products per reference. */
  private def bandedKnnTopSql(bands: Int, maxBucket: Int, k: Int): String = {
    s"""v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${autoSrpBandedSql(bands)},
       |ok AS (SELECT band, bhash FROM banded GROUP BY band, bhash
       |       HAVING count(*) >= 2 AND count(*) <= $maxBucket),
       |inb AS MATERIALIZED (
       | SELECT b.id, b.band, b.bhash FROM banded b JOIN ok USING (band, bhash)),
       |pairs AS (
       | SELECT DISTINCT l.id AS q_id, r.id AS c_id
       | FROM inb l JOIN inb r
       |  ON l.band = r.band AND l.bhash = r.bhash AND l.id <> r.id),
       |rescored AS (
       | SELECT q_id, c_id, list_cosine_similarity(v1.e, v2.e) AS s
       | FROM pairs JOIN v v1 ON v1.id = q_id JOIN v v2 ON v2.id = c_id),
       |rankedk AS (
       | SELECT q_id, c_id, s,
       |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
       | FROM rescored),
       |top AS MATERIALIZED (
       | SELECT q_id, c_id, s, rank FROM rankedk WHERE rank <= $k)""".stripMargin
  }

  /** PQ codebook literals for the ann_pq oracle — the same ±1
    * [m][K][dsub] codebooks ProductQuantization derives from the
    * splitmix64 chain (seed block 8192), as DuckDB VALUES rows. */
  private def pqCodebookValuesSql(m: Int, numK: Int, dsub: Int): String =
    ProductQuantization.codebooks(m, numK, dsub).zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, k) => s"($j, $k, [${c.mkString(", ")}])" }
    }.mkString(",\n   ")

  /** Unrolled MMR greedy for the ann_mmr oracle: k chained CTE steps,
    * each picking argmax(λ·rel − (1−λ)·max-cos-to-selected) with ties
    * to the lowest id — the same objective sequence the graft_mmr
    * kernel walks. λ routes through CAST(str AS DOUBLE) and (1−λ) is
    * computed IN double (literal 0.3 ≠ 1.0−0.7 in IEEE), so every
    * score is bit-identical. selu CTEs are MATERIALIZED: each is
    * referenced twice per step, and inlining would double the plan per
    * step. */
  private def mmrOracleSql(k: Int, m: Int, lambda: Double): String = {
    val lam = s"CAST('$lambda' AS DOUBLE)"
    val oneMinus = s"(CAST(1 AS DOUBLE) - $lam)"
    val steps = new StringBuilder
    steps.append(
      s"""sel1 AS (
         | SELECT q_id, c_id AS id, $lam * rel AS score, 1 AS step FROM (
         |  SELECT q_id, c_id, rel,
         |   row_number() OVER (PARTITION BY q_id ORDER BY $lam * rel DESC, c_id) AS rn
         |  FROM topm) WHERE rn = 1),
         |selu1 AS MATERIALIZED (SELECT * FROM sel1)""")
    for (i <- 2 to k) steps.append(
      s""",
         |cand$i AS (
         | SELECT t.q_id, t.c_id, t.rel, max(list_cosine_similarity(a.e, b.e)) AS ms
         | FROM topm t
         | JOIN v a ON a.vec_id = t.c_id
         | JOIN selu${i - 1} s ON s.q_id = t.q_id
         | JOIN v b ON b.vec_id = s.id
         | WHERE NOT EXISTS (
         |  SELECT 1 FROM selu${i - 1} x WHERE x.q_id = t.q_id AND x.id = t.c_id)
         | GROUP BY 1, 2, 3),
         |sel$i AS (
         | SELECT q_id, c_id AS id, sc AS score, $i AS step FROM (
         |  SELECT q_id, c_id, $lam * rel - $oneMinus * ms AS sc,
         |   row_number() OVER (PARTITION BY q_id
         |    ORDER BY ($lam * rel - $oneMinus * ms) DESC, c_id) AS rn
         |  FROM cand$i) WHERE rn = 1),
         |selu$i AS MATERIALIZED (SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM sel$i)""")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 8),
       |scored AS (
       | SELECT q_id, vec_id AS c_id, list_cosine_similarity(qv, e) AS s
       | FROM q CROSS JOIN v WHERE q_id <> vec_id),
       |topm AS (
       | SELECT q_id, c_id, s AS rel FROM (
       |  SELECT q_id, c_id, s,
       |   row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rn
       |  FROM scored) WHERE rn <= $m),
       |${steps.toString}
       |SELECT q_id, CAST(step AS BIGINT) AS rank, id AS c_id, round(score, 4) AS score
       |FROM selu$k ORDER BY q_id, rank""".stripMargin
  }

  /** Fixed IVF centroid literals for the ann_ivf_fixed oracle — the
    * same ±1 matrix Similarity.fixedCentroids derives from the
    * splitmix64 chain, embedded as DuckDB VALUES rows. */
  private def ivfCentroidValuesSql(numCells: Int, dim: Int): String =
    Similarity.fixedCentroids(numCells, dim).zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}])"
    }.mkString(",\n   ")

  /** Shared WITH-clause prefix of the ann_ivf_pq / ann_rerank oracles:
    * fixed-centroid cell CTEs composed with the ann_pq code/LUT CTEs,
    * ending at `ranked` = the full ADC ranking per query (ties
    * (s DESC, c_id) like the TopKBuffer total order). Callers append
    * either the top-k projection (ann_ivf_pq) or further CTEs that
    * re-score the top-poolSize pool exactly (ann_rerank). */
  private def ivfPqAdcRankedSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |ctr AS (SELECT * FROM (VALUES
      |   ${ivfCentroidValuesSql(16, 64)}) t(cell, c)),
      |cellsc AS (
      | SELECT vec_id AS id, cell, list_cosine_similarity(e, c) AS s FROM v CROSS JOIN ctr),
      |assigned AS (
      | SELECT id, cell FROM (
      |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY s DESC, cell DESC) AS rn
      |  FROM cellsc) WHERE rn = 1),
      |qprobe AS (
      | SELECT id AS q_id, cell FROM (
      |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY s DESC, cell ASC) AS rn
      |  FROM cellsc WHERE id < 8) WHERE rn <= 4),
      |cb AS (SELECT * FROM (VALUES
      |   ${pqCodebookValuesSql(8, 16, 8)}) t(j, code, cvec)),
      |sub AS (
      | SELECT vec_id AS id, js.j, e[js.j*8+1 : js.j*8+8] AS sub
      | FROM v CROSS JOIN (SELECT DISTINCT j FROM cb) js),
      |codesc AS (
      | SELECT id, j, code, list_cosine_similarity(sub, cvec) AS s
      | FROM sub JOIN cb USING (j)),
      |codes AS (
      | SELECT id, j, code FROM (
      |  SELECT id, j, code,
      |   row_number() OVER (PARTITION BY id, j ORDER BY s DESC, code DESC) AS rn
      |  FROM codesc) WHERE rn = 1),
      |lutw AS (
      | SELECT q.id AS q_id, cb.j, cb.code, list_dot_product(q.sub, cb.cvec) AS w
      | FROM sub q JOIN cb ON cb.j = q.j WHERE q.id < 8),
      |cand AS (
      | SELECT q_id, a.id AS c_id
      | FROM qprobe p JOIN assigned a ON p.cell = a.cell WHERE p.q_id <> a.id),
      |adc AS (
      | SELECT l.q_id, c.id AS c_id, sum(l.w) AS s
      | FROM codes c JOIN lutw l ON l.j = c.j AND l.code = c.code
      | JOIN cand ON cand.q_id = l.q_id AND cand.c_id = c.id
      | GROUP BY 1, 2),
      |ranked AS (
      | SELECT q_id, c_id, s,
      |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
      | FROM adc)""".stripMargin

  /** Word-shingle CTE body shared by the decontamination oracles: same
    * semantics as TextFunctions.wordShingles (docs shorter than n
    * collapse to one whole-doc shingle), distinct per doc. `src` is
    * the table/CTE to shingle (must expose doc_id, text). */
  private def shingleCteSql(n: Int, src: String = "documents"): String =
    s"""toks AS (
       | SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS t
       | FROM $src),
       |sh AS (
       | SELECT doc_id,
       |  CASE WHEN len(t) >= $n
       |   THEN list_distinct([array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})])
       |   ELSE [array_to_string(t, ' ')] END AS s
       | FROM toks)""".stripMargin

  /** Decontamination twin (5-gram shingles, benchmark = doc_id%17=0):
    * per-corpus-doc count of distinct shingles shared with ANY
    * benchmark doc. Shared verbatim by the exact and Bloom-prefiltered
    * entries — the Bloom sketch never changes the result set. */
  private lazy val decontaminateOracle: String =
    s"""WITH ${shingleCteSql(5)},
      |bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 17 = 0),
      |corp AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 17 <> 0)
      |SELECT c.doc_id, count(*) AS n_hits
      |FROM corp c JOIN bench b USING (shingle)
      |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin

  /** Per-language stopword score columns for the langid oracle —
    * generated from the same Stopwords profiles the kernel hashes. */
  private def langidScoresSql: String =
    TextFunctions.Stopwords.all.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$list], lower(x)))) AS s_$l"
    }.mkString(",\n  ")

  /** Winner CASE for the langid oracle: kernel tie rule = highest
    * score, ties to the lexicographically GREATEST code, zero → und. */
  private def langidWinnerSql: String = {
    val langs = TextFunctions.Stopwords.all.map(_._1)
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val desc = langs.sorted.reverse
    val whens = desc.init.map(l => s"WHEN s_$l = $g THEN '$l'").mkString("\n            ")
    s"""CASE WHEN $g = 0 THEN 'und'
       |            $whens
       |            ELSE '${desc.last}' END""".stripMargin
  }

  /** BM25 twin: identical formula structure and constants to
    * Search.bm25TopK — interpolated constants go through
    * CAST('…' AS DOUBLE) so DuckDB's strtod reproduces the exact
    * Scala doubles (decimal-literal arithmetic would diverge). */
  /** PageRank twin: the mutual-kNN edge closure, then `iters` UNROLLED
    * damped power-iteration CTEs (DuckDB's recursive term cannot
    * aggregate). Literal arithmetic is forced to DOUBLE — DuckDB's
    * bare 0.85 is DECIMAL, and (1 - 0.85) would be EXACT where
    * Scala's 1.0 - 0.85 is not — so both engines iterate on identical
    * doubles; the per-iteration round(_, 9) absorbs summation order. */
  private def pageRankOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         | SELECT e.b AS vtx,
         |  round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
         |        CAST(0.85 AS DOUBLE) * sum(p.r / d.outdeg), 9) AS r
         | FROM sym e JOIN r${i - 1} p ON e.a = p.vtx
         |  JOIN deg d ON d.vtx = p.vtx CROSS JOIN nn
         | GROUP BY e.b, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bandedKnnTopSql(4, 500, 10)},
       |me AS (SELECT t.q_id AS a, t.c_id AS b
       |       FROM top t JOIN top r ON r.q_id = t.c_id AND r.c_id = t.q_id
       |       WHERE t.q_id < t.c_id),
       |sym AS (SELECT a, b FROM me UNION ALL SELECT b, a FROM me),
       |deg AS (SELECT a AS vtx, count(*) AS outdeg FROM sym GROUP BY a),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT vtx, round(CAST(1.0 AS DOUBLE) / nn.n, 9) AS r
       |       FROM deg CROSS JOIN nn),
       |$rounds
       |SELECT vtx AS vec_id, r AS pagerank FROM r$iters ORDER BY vec_id""".stripMargin
  }

  /** Label-propagation twin: the banded mutual-edge substrate plus
    * `iters` UNROLLED synchronous rounds — per round a (node, label)
    * count and a (count DESC, label) argmax, nodes without neighbors
    * carrying their previous label. Labels are integers end to end. */
  private def labelPropOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""cnt$i AS (
         | SELECT sym.a AS id, l.label, count(*) AS c
         | FROM sym JOIN l${i - 1} l ON l.id = sym.b
         | GROUP BY 1, 2),
         |best$i AS (
         | SELECT id, label FROM (
         |  SELECT id, label,
         |   row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
         |  FROM cnt$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         | SELECT p.id, coalesce(b.label, p.label) AS label
         | FROM l${i - 1} p LEFT JOIN best$i b ON b.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bandedKnnTopSql(4, 500, 10)},
       |me AS (SELECT t.q_id AS a, t.c_id AS b
       |       FROM top t JOIN top r ON r.q_id = t.c_id AND r.c_id = t.q_id
       |       WHERE t.q_id < t.c_id),
       |sym AS (SELECT a, b FROM me UNION ALL SELECT b, a FROM me),
       |l0 AS (SELECT vec_id AS id, vec_id AS label FROM embeddings),
       |$rounds
       |SELECT id AS vec_id, CAST(label AS BIGINT) AS label
       |FROM l$iters ORDER BY vec_id""".stripMargin
  }

  /** k-core twin: the banded mutual-edge substrate plus `rounds`
    * UNROLLED degree-peeling rounds (degrees over the surviving edge
    * set, keep ≥ k, filter both endpoints), then in-core degrees. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""sym$i AS (SELECT a, b FROM e${i - 1} UNION ALL SELECT b, a FROM e${i - 1}),
         |keep$i AS (SELECT a AS v FROM sym$i GROUP BY a HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         | SELECT e.a, e.b FROM e${i - 1} e
         | JOIN keep$i ka ON ka.v = e.a JOIN keep$i kb ON kb.v = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bandedKnnTopSql(4, 500, 10)},
       |me AS (SELECT t.q_id AS a, t.c_id AS b
       |       FROM top t JOIN top r ON r.q_id = t.c_id AND r.c_id = t.q_id
       |       WHERE t.q_id < t.c_id),
       |e0 AS MATERIALIZED (SELECT a, b FROM me),
       |$peels,
       |symf AS (SELECT a, b FROM e$rounds UNION ALL SELECT b, a FROM e$rounds)
       |SELECT a AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
       |FROM symf GROUP BY a ORDER BY vec_id""".stripMargin
  }

  /** Assortativity twin: the same banded mutual edge set, endpoint
    * degrees joined back, exact DECIMAL moment sums, one fixed final
    * sequence (sqrt-before-product). */
  private def assortativityOracleSql: String =
    s"""WITH ${bandedKnnTopSql(4, 500, 10)},
       |me AS (SELECT t.q_id AS a, t.c_id AS b
       |       FROM top t JOIN top r ON r.q_id = t.c_id AND r.c_id = t.q_id
       |       WHERE t.q_id < t.c_id),
       |sym AS (SELECT a, b FROM me UNION ALL SELECT b, a FROM me),
       |deg AS (SELECT a AS v, CAST(count(*) AS DECIMAL(38,0)) AS d
       |        FROM sym GROUP BY 1),
       |xy AS (SELECT dx.d AS x, dy.d AS y
       |       FROM sym JOIN deg dx ON dx.v = sym.a JOIN deg dy ON dy.v = sym.b),
       |s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
       |  sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
       |  sum(y*y) AS syy, sum(x*y) AS sxy FROM xy)
       |SELECT CAST(n AS BIGINT) AS n_directed_edges,
       | round(CAST(n*sxy - sx*sy AS DOUBLE) /
       |   (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
       |    sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 4) AS assortativity
       |FROM s""".stripMargin

  /** Dirichlet-QL twin: per-term tf computed inside the token list,
    * one 1-row stats CTE, and the score spelled as the SAME
    * left-assoc sum in declared term order. */
  private def lmDirichletOracleSql(terms: Seq[String], k: Int,
                                   mu: Double): String = {
    val tfCols = terms.map(t =>
      s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n | ")
    val cfCols = terms.map(t =>
      s"CAST(sum(tf_$t) AS BIGINT) AS cf_$t").mkString(", ")
    val scoreSum = terms.map(t =>
      s"ln((CAST(tf_$t AS DOUBLE) + $mu * (CAST(cf_$t AS DOUBLE) / " +
        s"CAST(c_total AS DOUBLE))) / (CAST(dl AS DOUBLE) + $mu))")
      .mkString(" + ")
    val anyMatch = terms.map(t => s"tf_$t > 0").mkString(" OR ")
    s"""WITH toks AS (
       | SELECT doc_id,
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |    x -> len(x) > 0) AS t
       | FROM documents),
       |tf AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
       | $tfCols
       | FROM toks),
       |stats AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total, $cfCols FROM tf),
       |scored AS (
       | SELECT doc_id, $scoreSum AS score
       | FROM tf CROSS JOIN stats WHERE $anyMatch)
       |SELECT doc_id, round(score, 4) AS score
       |FROM scored ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** k-means twin: the identical Lloyd walk at (cluster, pos)
    * granularity — quantized components are exact integers so every
    * per-dimension sum is order-free; assignment is the same
    * (dist, cl) total order via row_number; centroid updates round
    * half-away (DuckDB `round` ≡ the engine's BigDecimal HALF_UP);
    * empty clusters COALESCE back to their previous centroid exactly
    * like the engine's `updated.getOrElse(cl, old)`. One extra
    * assignment step at the end mirrors the engine emitting the final
    * assignment AFTER the last update. */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""d$i AS MATERIALIZED (
         | SELECT qx.id, c.cl, sum((qx.x - c.c) * (qx.x - c.c)) AS d
         | FROM qx JOIN cx${i - 1} c USING (pos) GROUP BY 1, 2),
         |a$i AS (SELECT id, cl FROM (
         |  SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY d, cl) AS rn
         |  FROM d$i) WHERE rn = 1),
         |cm$i AS (SELECT a.cl, qx.pos, round(sum(qx.x) / count(*)) AS c
         |         FROM a$i a JOIN qx USING (id) GROUP BY 1, 2),
         |cx$i AS MATERIALIZED (
         | SELECT p.cl, p.pos, coalesce(m.c, p.c) AS c
         | FROM cx${i - 1} p LEFT JOIN cm$i m ON m.cl = p.cl AND m.pos = p.pos)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       | SELECT vec_id AS id,
       |  list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1e6)) AS qv
       | FROM embeddings),
       |qx AS MATERIALIZED (
       | SELECT id, unnest(qv) AS x, unnest(range(1, len(qv) + 1)) AS pos FROM q),
       |seeds AS (SELECT id FROM q ORDER BY id LIMIT $k),
       |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cl, id FROM seeds),
       |cx0 AS MATERIALIZED (
       | SELECT c0.cl, qx.pos, qx.x AS c FROM c0 JOIN qx USING (id)),
       |$steps,
       |df AS (SELECT qx.id, c.cl, sum((qx.x - c.c) * (qx.x - c.c)) AS d
       |       FROM qx JOIN cx$iters c USING (pos) GROUP BY 1, 2),
       |af AS (SELECT id, cl, d FROM (
       |  SELECT id, cl, d, row_number() OVER (PARTITION BY id ORDER BY d, cl) AS rn
       |  FROM df) WHERE rn = 1)
       |SELECT id AS vec_id, CAST(cl AS BIGINT) AS cluster,
       | round(sqrt(d) / 1e6, 6) AS dist
       |FROM af ORDER BY vec_id""".stripMargin
  }

  /** Matryoshka twin: one exact-cosine top-k arm per truncation width
    * (list slice INSIDE list_cosine_similarity, (s DESC, c_id) tie
    * order exactly like the TopKBuffer), overlap counted against the
    * materialized full-width answer. */
  private def matryoshkaOracleSql(dims: Seq[Int], k: Int,
                                  nQueries: Int): String = {
    val arms = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dims, q_id, c_id FROM (
         | SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |   ORDER BY list_cosine_similarity(qv[1:$d], cv[1:$d]) DESC, c_id) AS rank
         | FROM q CROSS JOIN c WHERE q_id <> c_id) WHERE rank <= $k""".stripMargin
    }.mkString("\n UNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |full_top AS MATERIALIZED (
       | SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(qv, cv) DESC, c_id) AS rank
       |  FROM q CROSS JOIN c WHERE q_id <> c_id) WHERE rank <= $k),
       |tr AS ($arms)
       |SELECT q_id, dims,
       | CAST(sum(CASE WHEN f.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
       | round(CAST(sum(CASE WHEN f.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $k, 2) AS recall
       |FROM tr LEFT JOIN full_top f USING (q_id, c_id)
       |GROUP BY q_id, dims ORDER BY q_id, dims""".stripMargin
  }

  private def bm25OracleSql(terms: Seq[String], k: Int,
                            k1: Double = 1.2, b: Double = 0.75): String = {
    val termValues = terms.map(t => s"('$t')").mkString(", ")
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    s"""WITH toks AS (
       | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS t
       | FROM documents),
       |base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
       |tf AS (
       | SELECT doc_id, dl, term, len(list_filter(t, x -> x = term)) AS tf
       | FROM base CROSS JOIN (VALUES $termValues) q(term)
       | WHERE len(list_filter(t, x -> x = term)) > 0),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       | SELECT doc_id,
       |  sum(ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |      (CAST(tf AS DOUBLE) * CAST('$k1p1' AS DOUBLE)) /
       |      (CAST(tf AS DOUBLE) + CAST('$k1' AS DOUBLE) *
       |       (CAST('$oneMinusB' AS DOUBLE) + CAST('$b' AS DOUBLE) * dl / avgdl))) AS score
       | FROM tf JOIN dft USING (term) CROSS JOIN stats
       | GROUP BY doc_id)
       |SELECT doc_id, round(score, 4) AS score
       |FROM scored ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Hybrid-RRF twin: the bm25 scored CTE and a brute-force vector
    * leg, each ranked (score DESC, id) and cut to its own top-k, fused
    * by 1/(κ+rank) with a missing leg contributing 0 — identical
    * double sequence to Search.hybridRrf. */
  private def hybridRrfOracleSql(terms: Seq[String], qVecId: Long, k: Int,
                                 kappa: Int = 60,
                                 k1: Double = 1.2, b: Double = 0.75): String = {
    val termValues = terms.map(t => s"('$t')").mkString(", ")
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    s"""WITH toks AS (
       | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS t
       | FROM documents),
       |base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
       |tf AS (
       | SELECT doc_id, dl, term, len(list_filter(t, x -> x = term)) AS tf
       | FROM base CROSS JOIN (VALUES $termValues) q(term)
       | WHERE len(list_filter(t, x -> x = term)) > 0),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       | SELECT doc_id,
       |  sum(ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |      (CAST(tf AS DOUBLE) * CAST('$k1p1' AS DOUBLE)) /
       |      (CAST(tf AS DOUBLE) + CAST('$k1' AS DOUBLE) *
       |       (CAST('$oneMinusB' AS DOUBLE) + CAST('$b' AS DOUBLE) * dl / avgdl))) AS score
       | FROM tf JOIN dft USING (term) CROSS JOIN stats
       | GROUP BY doc_id),
       |tr AS (
       | SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_text
       | FROM scored ORDER BY score DESC, doc_id LIMIT $k),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = $qVecId),
       |vscored AS (
       | SELECT vec_id AS doc_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.e) AS s
       | FROM embeddings CROSS JOIN qv WHERE vec_id <> $qVecId),
       |vr AS (
       | SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS r_vec
       | FROM vscored ORDER BY s DESC, doc_id LIMIT $k),
       |fused AS (
       | SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id, r_text, r_vec,
       |  round(coalesce(CAST(1 AS DOUBLE) / ($kappa + r_text), 0) +
       |        coalesce(CAST(1 AS DOUBLE) / ($kappa + r_vec), 0), 6) AS rrf
       | FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
       |SELECT doc_id, r_text, r_vec, rrf
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin
  }

  /** The SNM family's auto-window CTE: the identical integer
    * ceil-div/clamp chain as Dedup.autoWindow (floor 10, cap 256,
    * 3× average blocking-key density), recomputed over the same
    * documents table so engine and oracle always agree on the window
    * at ANY scale factor. */
  /** q_ewma twin: `h` lag terms with the engine's exact integer
    * weights w_j = 7^j · 10^(h−1−j) (the adjusted-EWMA ratio scaled by
    * 10^(h−1) so (0.7)^j needs no pow() in either engine). HUGEINT
    * products mirror the engine's DECIMAL(38,0); missing lags at
    * series start drop from numerator AND denominator. */
  private def ewmaOracleSql(h: Int): String = {
    val weights = (0 until h).map(j =>
      java.math.BigDecimal.valueOf(7).pow(j)
        .multiply(java.math.BigDecimal.TEN.pow(h - 1 - j)).toBigInteger)
    val lags = (0 until h).map(j => s"lag(cnt, $j) OVER w AS l$j").mkString(", ")
    val num = (0 until h).map(j =>
      s"coalesce(CAST(l$j AS HUGEINT) * ${weights(j)}, 0)").mkString(" + ")
    val den = (0 until h).map(j =>
      s"CASE WHEN l$j IS NOT NULL THEN CAST(${weights(j)} AS HUGEINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH daily AS (
      | SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
      |  count(*) AS cnt
      | FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, day, cnt, $lags
      |      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, CAST(day AS BIGINT) AS day, cnt,
      | round(CAST(($num) AS DOUBLE) / CAST(($den) AS DOUBLE), 4) AS ewma
      |FROM l ORDER BY event_type, day""".stripMargin
  }

  private val snmWindowSql =
    """win AS (SELECT greatest(10, least(256,
      |  (3 * count(*) + count(DISTINCT coalesce(CAST(n_chars AS VARCHAR), chr(2))) - 1)
      |   // count(DISTINCT coalesce(CAST(n_chars AS VARCHAR), chr(2))))) AS w
      | FROM documents)""".stripMargin

  /** embed_pca twin: the X161 covariance CTEs feed `iters` unrolled
    * power-iteration rounds run on INTEGERS (cov at 1e-6, the vector
    * at 1e-9 — every matvec and norm an exact order-free sum; the
    * only floating steps are sqrt and the rounds, identical double
    * ops in both engines), then the per-row integer dot projection. */
  private def pcaOracleSql(iters: Int): String =
    pcaLoadingsCtes(iters) + (
    s"""
       |SELECT dq.id AS vec_id,
       | round(CAST(sum(dq.q * vm.m) AS DOUBLE) / 1e15, 4) + 0 AS pc1
       |FROM (SELECT id, CAST(pos AS BIGINT) - 1 AS i,
       |       CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
       |      FROM (SELECT vec_id AS id, unnest(embedding) AS x,
       |                   unnest(range(1, len(embedding)+1)) AS pos FROM embeddings)) dq
       |JOIN v$iters vm ON vm.i = dq.i
       |GROUP BY dq.id ORDER BY vec_id""".stripMargin)

  /** embed_abtt twin: the PCA loadings CTEs + the quantized mean
    * (exact half-away-from-zero HUGEINT division of the DECIMAL dim
    * sums), then per-vector exact BIGINT dot/norm sums and the SAME
    * fixed double-op sequence as the engine for c1 / residual. */
  private def abttOracleSql(iters: Int): String =
    pcaLoadingsCtes(iters) + (
    s""",
       |mu AS MATERIALIZED (
       | SELECT i, CASE WHEN sx >= 0
       |   THEN (2 * CAST(sx AS HUGEINT) + n) // (2 * CAST(n AS HUGEINT))
       |   ELSE -((2 * CAST(-sx AS HUGEINT) + n) // (2 * CAST(n AS HUGEINT))) END AS muq
       | FROM marg),
       |bsum AS (SELECT CAST(sum(m * m) AS DOUBLE) AS bb FROM v$iters),
       |yq AS (
       | SELECT dq.id, dq.i, dq.q - mu.muq AS y
       | FROM (SELECT id, CAST(pos AS BIGINT) - 1 AS i,
       |        CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
       |       FROM (SELECT vec_id AS id, unnest(embedding) AS x,
       |                    unnest(range(1, len(embedding)+1)) AS pos FROM embeddings)) dq
       | JOIN mu ON mu.i = dq.i),
       |per AS (
       | SELECT y.id, CAST(sum(y.y * vm.m) AS BIGINT) AS dot,
       |  CAST(sum(y.y * y.y) AS BIGINT) AS n2
       | FROM yq y JOIN v$iters vm ON vm.i = y.i GROUP BY y.id)
       |SELECT id AS vec_id,
       | round(CAST(dot AS DOUBLE) * 1000.0 / bb, 4) + 0 AS c1,
       | round(sqrt(greatest(CAST(n2 AS DOUBLE) / 1e12 -
       |   (CAST(dot AS DOUBLE) * 1000.0 / bb) * (CAST(dot AS DOUBLE) * 1000.0 / bb)
       |     * bb / 1e18, 0)), 4) + 0 AS resid_norm
       |FROM per CROSS JOIN bsum ORDER BY vec_id""".stripMargin)

  private def pcaLoadingsCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH dims AS (
        | SELECT id, CAST(pos AS BIGINT) - 1 AS i,
        |  CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS DECIMAL(38,0)) AS xq
        | FROM (SELECT vec_id AS id, unnest(embedding) AS x,
        |              unnest(range(1, len(embedding)+1)) AS pos FROM embeddings)),
        |marg AS MATERIALIZED (SELECT i, sum(xq) AS sx, count(*) AS n FROM dims GROUP BY i),
        |p AS MATERIALIZED (
        | SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS sxy
        | FROM dims a JOIN dims b ON a.id = b.id AND a.i <= b.i
        | GROUP BY 1, 2),
        |covq AS MATERIALIZED (
        | SELECT p.i, p.j,
        |  CAST(round((round((CAST(ma.n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(ma.sx AS DOUBLE) * CAST(mb.sx AS DOUBLE)) /
        |       (CAST(ma.n AS DOUBLE) * CAST(ma.n AS DOUBLE) * 1e12), 6) + 0) * 1e6, 0)
        |    AS BIGINT) AS c
        | FROM p JOIN marg ma ON ma.i = p.i JOIN marg mb ON mb.i = p.j),
        |cfull AS MATERIALIZED (
        | SELECT i, j, c FROM covq
        | UNION ALL
        | SELECT j AS i, i AS j, c FROM covq WHERE i < j),
        |v0 AS (SELECT i, CASE WHEN i = 0 THEN CAST(1000000000 AS BIGINT)
        |                      ELSE CAST(0 AS BIGINT) END AS m FROM marg)""".stripMargin)
    // every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs
    // textually at each reference, and the v_k -> w_k -> v_{k-1} chain
    // re-derives the covariance join tree per round without the fence
    // — at 10x that re-evaluation is a 40+ GiB OOM, materialized it's
    // d-row tables (the same exponential-inlining lesson as the
    // splitmix chains in OracleHashSql)
    for (k <- 1 to iters) {
      sb.append(
        s""",
           |w$k AS MATERIALIZED (SELECT f.i, sum(f.c * v.m) AS s
           |        FROM cfull f JOIN v${k - 1} v ON v.i = f.j GROUP BY f.i),
           |n$k AS MATERIALIZED (SELECT i, CAST(round(CAST(s AS DOUBLE) / 1e15 * 1e9, 0) AS BIGINT) AS n
           |        FROM w$k),
           |nr$k AS MATERIALIZED (SELECT sqrt(CAST(sum(n * n) AS DOUBLE) / 1e18) AS norm FROM n$k),
           |v$k AS MATERIALIZED (SELECT i, CAST(round(round(CAST(n AS DOUBLE) / 1e9 / norm, 9) * 1e9, 0)
           |          AS BIGINT) AS m
           |        FROM n$k, nr$k)""".stripMargin)
    }
    sb.toString
  }

  /** PRF twin: the bm25 formula applied twice — stage 1 over the
    * literal query terms, feedback = top-r (raw-score order), the
    * expansion CTE reproduces the (feedback-df DESC, corpus-df ASC,
    * term ASC) ranking, stage 2 re-scores FROM the terms CTE (UNION
    * dedups, matching the operator's distinct). */
  private def bm25PrfOracleSql(terms0: Seq[String], k: Int, r: Int, e: Int,
                               k1: Double = 1.2, b: Double = 0.75): String = {
    val termValues = terms0.map(t => s"('$t')").mkString(", ")
    val termList = terms0.map(t => s"'$t'").mkString(", ")
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    def score(tfRel: String, dftRel: String) =
      s"""sum(ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
         |      (CAST(tf AS DOUBLE) * CAST('$k1p1' AS DOUBLE)) /
         |      (CAST(tf AS DOUBLE) + CAST('$k1' AS DOUBLE) *
         |       (CAST('$oneMinusB' AS DOUBLE) + CAST('$b' AS DOUBLE) * dl / avgdl))) AS score
         | FROM $tfRel JOIN $dftRel USING (term) CROSS JOIN stats
         | GROUP BY doc_id""".stripMargin
    s"""WITH toks AS (
       | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS t
       | FROM documents),
       |base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
       |tf1 AS (
       | SELECT doc_id, dl, term, len(list_filter(t, x -> x = term)) AS tf
       | FROM base CROSS JOIN (VALUES $termValues) q(term)
       | WHERE len(list_filter(t, x -> x = term)) > 0),
       |dft1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
       |s1 AS (
       | SELECT doc_id,
       |  ${score("tf1", "dft1")}),
       |fb AS (SELECT doc_id FROM s1 ORDER BY score DESC, doc_id LIMIT $r),
       |dterm AS (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks),
       |cdf AS (SELECT term, count(*) AS df FROM dterm GROUP BY 1),
       |fdf AS (
       | SELECT term, count(*) AS fdf FROM dterm JOIN fb USING (doc_id)
       | WHERE NOT list_contains([$termList], term) GROUP BY 1),
       |expn AS (
       | SELECT term FROM fdf JOIN cdf USING (term)
       | ORDER BY fdf DESC, df ASC, term LIMIT $e),
       |terms AS (SELECT term FROM expn UNION SELECT unnest([$termList]) AS term),
       |tf2 AS (
       | SELECT doc_id, dl, term, len(list_filter(t, x -> x = term)) AS tf
       | FROM base CROSS JOIN terms
       | WHERE len(list_filter(t, x -> x = term)) > 0),
       |dft2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
       |scored AS (
       | SELECT doc_id,
       |  ${score("tf2", "dft2")})
       |SELECT doc_id, round(score, 4) AS score
       |FROM scored ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** One driver entry: the DataFrame builder the driver runs against an
    * sf directory, and its DuckDB-dialect twin with identical column
    * names and ORDER BY, so the driver's hash compare is deterministic. */
  final case class Entry(name: String, build: (SparkSession, String) => DataFrame,
                         oracle: String)

  /** `es` unchanged; throws naming every name declared more than once
    * (a `Map(...)` literal silently keeps the last of two equal keys). */
  private[graft] def registry(es: Seq[Entry]): Seq[Entry] = {
    val repeated = es.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"entries declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    es
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val entries: Seq[Entry] = registry(Seq(
    // §2.1 reference surface: inverted-index log engine
    Entry("ii_field_values", (s, dir) =>
      InvertedIndex.fieldValues(Tables.documents(s, dir), "lang")
        .select(col("value"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value")),
      """SELECT lang AS value, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin),
    // X175: R1 under the reference's `low_memory` profile
    // (GraftSession.applyLowMemory on an isolated sibling session:
    // quarter scan splits, small reader batches, 256 shuffle
    // partitions, 4 MB broadcast ceiling) — same oracle as
    // ii_field_values, proving the profile trades only footprint
    Entry("ii_field_values_lowmem", (s, dir) => {
      val lm = GraftSession.applyLowMemory(s.newSession())
      InvertedIndex.fieldValues(Tables.documents(lm, dir), "lang")
        .select(col("value"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value"))
    },
      // low-memory twin: identical result by construction — the profile
      // may only change memory shape, never values
      """SELECT lang AS value, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin),
    Entry("ii_field_values_by_doc_ids", (s, dir) =>
      InvertedIndex.fieldValuesByDocIds(Tables.documents(s, dir), "source", iiDocIds)
        .select(col("value"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value")),
      s"""SELECT source AS value, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents WHERE doc_id IN ($iiDocIdsSql)
        |GROUP BY source ORDER BY value""".stripMargin),
    Entry("ii_numeric_stats", (s, dir) =>
      InvertedIndex.numericStats(Tables.documents(s, dir), "n_chars")
        .select(col("field"), col("min_v"), col("max_v"),
                round(col("avg_v"), 4).as("avg_v")),
      """SELECT 'n_chars' AS field, CAST(min(n_chars) AS DOUBLE) AS min_v,
        | CAST(max(n_chars) AS DOUBLE) AS max_v, round(avg(n_chars), 4) AS avg_v
        |FROM documents""".stripMargin),
    Entry("ii_numeric_stats_by_doc_ids", (s, dir) =>
      InvertedIndex.numericStatsByDocIds(Tables.documents(s, dir), "n_chars", iiDocIds)
        .select(col("field"), col("min_v"), col("max_v"),
                round(col("avg_v"), 4).as("avg_v")),
      s"""SELECT 'n_chars' AS field, CAST(min(n_chars) AS DOUBLE) AS min_v,
        | CAST(max(n_chars) AS DOUBLE) AS max_v, round(avg(n_chars), 4) AS avg_v
        |FROM documents WHERE doc_id IN ($iiDocIdsSql)""".stripMargin),
    Entry("ii_field_values_chunked", (s, dir) =>
      InvertedIndex.fieldValuesChunked(Tables.documents(s, dir), "source", chunkSize = 100)
        .select(col("value"), col("chunk"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value"), col("chunk")),
      """SELECT source AS value, CAST(doc_id // 100 AS BIGINT) AS chunk, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents GROUP BY 1, 2 ORDER BY value, chunk""".stripMargin),
    // index maintenance: delta-merge compaction must equal a full
    // rebuild (base = 90% of docs, delta = the appended 10%)
    Entry("ii_index_merge", (s, dir) => {
      val d = Tables.documents(s, dir)
      val base = InvertedIndex.fieldValuesChunked(
        d.where(col("doc_id") % 10 =!= 0), "source", chunkSize = 100)
      val delta = InvertedIndex.fieldValuesChunked(
        d.where(col("doc_id") % 10 === 0), "source", chunkSize = 100)
      InvertedIndex.mergeChunked(base, delta)
        .select(col("value"), col("chunk"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value"), col("chunk"))
    },
      // merge invariant: compacting base+delta must equal rebuilding the
      // chunked index over the whole corpus — the oracle IS the rebuild
      """SELECT source AS value, CAST(doc_id // 100 AS BIGINT) AS chunk, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents GROUP BY 1, 2 ORDER BY value, chunk""".stripMargin),
    // index lifecycle step 3 (add → merge → DELETE): tombstones
    // applied per touched chunk; oracle is the rebuild-without set
    Entry("ii_index_delete", (s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = InvertedIndex.fieldValuesChunked(d, "source", chunkSize = 100)
      InvertedIndex.deleteFromChunked(idx, d.where(col("doc_id") % 7 === 0), chunkSize = 100)
        .select(col("value"), col("chunk"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value"), col("chunk"))
    },
      // delete == rebuild-without invariant
      """SELECT source AS value, CAST(doc_id // 100 AS BIGINT) AS chunk, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1, 2 ORDER BY value, chunk""".stripMargin),
    // delete then compact 4×: the lifecycle's final step; oracle is
    // the index rebuilt at the coarser width over the surviving docs
    Entry("ii_index_compact", (s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = InvertedIndex.fieldValuesChunked(d, "source", chunkSize = 100)
      val afterDelete = InvertedIndex.deleteFromChunked(
        idx, d.where(col("doc_id") % 7 === 0), chunkSize = 100)
      InvertedIndex.compactChunked(afterDelete, factor = 4)
        .select(col("value"), col("chunk"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value"), col("chunk"))
    },
      // compact twin: compact(index(A,100) \ D, 4) == index(A \ D, 400)
      """SELECT source AS value, CAST(doc_id // 400 AS BIGINT) AS chunk, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1, 2 ORDER BY value, chunk""".stripMargin),
    // X75 driver-gated: the streaming index-maintenance loop replayed
    // as 4 deterministic micro-batches (disjoint doc_id mod classes)
    // through the SAME processBatch the foreachBatch query runs —
    // delta build → versioned-store merge → commit per batch. The
    // committed index must equal the one-shot chunked build over the
    // union (the merge invariant), which is exactly what the DuckDB
    // oracle rebuilds.
    Entry("ii_index_streaming", (s, dir) => {
      val stateDir = Scratch.dir(s, "graft-ii-stream")
      val docs = Tables.documents(s, dir)
      (0 until 4).foreach { b =>
        graft.streaming.StreamingIndex.processBatch(
          docs.where(pmod(col("doc_id"), lit(4)) === b), b.toLong,
          stateDir, "lang", chunkSize = 100, docIdCol = "doc_id", None)
      }
      graft.streaming.StreamingIndex.currentIndex(s, stateDir)
        .select(col("value"), col("chunk"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value"), col("chunk"))
    },
      // streaming maintenance invariant: N replayed micro-batch merges
      // must equal the one-shot rebuild over the union
      """SELECT lang AS value, CAST(doc_id // 100 AS BIGINT) AS chunk, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents GROUP BY 1, 2 ORDER BY value, chunk""".stripMargin),
    Entry("ingest_nested_json", NestedIngest.ingestNestedJson _,
      """SELECT event_type AS level,
        | CASE WHEN user_id % 3 = 0 THEN 'us-east'
        |      WHEN user_id % 3 = 1 THEN 'us-west'
        |      ELSE 'eu-central' END AS source_region,
        | count(*) AS n,
        | CAST(sum(event_id % 37) AS BIGINT) AS sum_clicks,
        | round(avg(CAST(floor(value * 100) AS BIGINT)), 4) AS avg_payload,
        | CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_processed
        |FROM events GROUP BY 1, 2 ORDER BY level, source_region""".stripMargin),
    // schema-on-read JSONL round trip with permissive corrupt capture:
    // clean rows roll up per type, 3 injected malformed lines are
    // quarantined and counted under the __corrupt sentinel
    Entry("ingest_jsonl", graft.sources.JsonlIngest.ingestEntry _,
      // jsonl twin: the round trip is lossless for these columns (2-dp
      // doubles print shortest-repr and parse back exact), so clean rows
      // aggregate straight off the parquet; the 3 injected malformed
      // lines appear as the __corrupt sentinel row
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT '__corrupt', CAST(3 AS BIGINT), 0.0
        |ORDER BY event_type""".stripMargin),
    // profiling complement of stats_profile: per-group Pearson
    // correlation between two measures
    Entry("stats_corr", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("corr_qty_price"))
        .orderBy(col("l_returnflag")),
      // corr twin: both engines' one-pass co-moment formulas agree to
      // well past the reported 4 decimals
      """SELECT l_returnflag, count(*) AS n,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // the search layer over the inverted-index surface: boolean
    // posting-list algebra, positional phrase adjacency, BM25 ranking
    Entry("ii_search_boolean", (s, dir) =>
      Search.booleanSearch(Tables.documents(s, dir),
          must = Seq("spark", "vector"), mustNot = Seq("slow"))
        .orderBy(col("doc_id")),
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT doc_id FROM toks
        |WHERE list_contains(t, 'spark') AND list_contains(t, 'vector')
        | AND NOT list_contains(t, 'slow')
        |ORDER BY doc_id""".stripMargin),
    // disjunctive (OR) search with minimum-should-match 2-of-3 and the
    // coordination match count
    Entry("ii_search_or", (s, dir) =>
      Search.orSearch(Tables.documents(s, dir),
          should = Seq("spark", "vector", "slow"), minMatch = 2)
        .orderBy(col("doc_id")),
      // OR twin: distinct-term match count, minimum-should-match 2
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT doc_id,
        | CAST(CASE WHEN list_contains(t, 'spark') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(t, 'vector') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(t, 'slow') THEN 1 ELSE 0 END AS BIGINT) AS n_matched
        |FROM toks
        |WHERE (CASE WHEN list_contains(t, 'spark') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(t, 'vector') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(t, 'slow') THEN 1 ELSE 0 END) >= 2
        |ORDER BY doc_id""".stripMargin),
    // the same boolean query answered FROM the materialized index by
    // the custom PostingListIntersectExec physical node (planner
    // strategy injected via GraftExtensions) — same result set as
    // ii_search_boolean by construction, different terms so the two
    // entries can't mask each other
    Entry("ii_posting_intersect", (s, dir) =>
      graft.plans.PostingListIntersect.search(
          Search.positionalIndexChunked(Tables.documents(s, dir)),
          must = Seq("spark", "fast"), mustNot = Seq("batch"))
        .orderBy(col("doc_id")),
      // semantic twin of the custom-exec-node entry: boolean AND/NOT
      // membership over the tokenized corpus
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT doc_id FROM toks
        |WHERE list_contains(t, 'spark') AND list_contains(t, 'fast')
        | AND NOT list_contains(t, 'batch')
        |ORDER BY doc_id""".stripMargin),
    // min-should-match OR answered FROM the index through the same
    // custom node — per-chunk should-bitmask counting instead of the
    // DataFrame path's doc-keyed aggregation; terms differ from
    // ii_search_or so the twins can't mask each other
    Entry("ii_posting_or", (s, dir) =>
      graft.plans.PostingListIntersect.orSearch(
          Search.positionalIndexChunked(Tables.documents(s, dir)),
          should = Seq("merge", "hash", "stream"), minMatch = 2)
        .orderBy(col("doc_id")),
      // node-answered OR twin: distinct-term coordination count,
      // minimum-should-match 2 over merge/hash/stream
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT doc_id,
        | CAST(CASE WHEN list_contains(t, 'merge') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(t, 'hash') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(t, 'stream') THEN 1 ELSE 0 END AS BIGINT) AS n_matched
        |FROM toks
        |WHERE (CASE WHEN list_contains(t, 'merge') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(t, 'hash') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(t, 'stream') THEN 1 ELSE 0 END) >= 2
        |ORDER BY doc_id""".stripMargin),
    // exact-adjacency phrase FROM the index: the node evaluates the
    // positional adjacency per chunk instead of the DataFrame path's
    // one-join-per-word alignment
    Entry("ii_posting_phrase", (s, dir) =>
      graft.plans.PostingListIntersect.phrase(
          Search.positionalIndexChunked(Tables.documents(s, dir)),
          Seq("merge", "group"))
        .orderBy(col("doc_id")),
      // node-answered phrase twin: 1-based comprehension index i means
      // 0-based token position i-1, hence the -1 on first_pos
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |occ AS (
        | SELECT doc_id,
        |  [i for i in range(1, len(t)) if t[i] = 'merge' and t[i+1] = 'group'] AS ps
        | FROM toks)
        |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_occurrences,
        | CAST(list_min(ps) - 1 AS BIGINT) AS first_pos
        |FROM occ WHERE len(ps) > 0 ORDER BY doc_id""".stripMargin),
    // sloppy phrase FROM the index: per-doc chain DP with the same
    // chain-count semantics as the band-join formulation
    Entry("ii_posting_phrase_slop", (s, dir) =>
      graft.plans.PostingListIntersect.phraseSlop(
          Search.positionalIndexChunked(Tables.documents(s, dir)),
          Seq("merge", "group", "join"), slop = 2)
        .orderBy(col("doc_id")),
      // node-answered sloppy-phrase twin: chain count = join
      // cardinality, same band per gap as ii_phrase_slop
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |a AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'merge']) AS p1 FROM toks),
        |b AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'group']) AS p2 FROM toks),
        |c AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'join']) AS p3 FROM toks),
        |ch AS (
        | SELECT a.doc_id, p1 FROM a JOIN b USING (doc_id) JOIN c USING (doc_id)
        | WHERE p2 > p1 AND p2 <= p1 + 3 AND p3 > p2 AND p3 <= p2 + 3)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        | CAST(min(p1) - 1 AS BIGINT) AS first_pos
        |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Entry("ii_phrase_search", (s, dir) =>
      Search.phraseSearch(Tables.documents(s, dir), Seq("fast", "table"))
        .orderBy(col("doc_id")),
      // 1-based list positions: occurrence at comprehension index i means
      // 0-based token position i-1, hence the -1 on first_pos
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |occ AS (
        | SELECT doc_id,
        |  [i for i in range(1, len(t)) if t[i] = 'fast' and t[i+1] = 'table'] AS ps
        | FROM toks)
        |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_occurrences,
        | CAST(list_min(ps) - 1 AS BIGINT) AS first_pos
        |FROM occ WHERE len(ps) > 0 ORDER BY doc_id""".stripMargin),
    Entry("ii_phrase_slop", (s, dir) =>
      Search.phraseSearchSlop(Tables.documents(s, dir),
          Seq("fast", "table", "scan"), slop = 2)
        .orderBy(col("doc_id")),
      // sloppy-phrase twin: per-term 1-based position lists, chained with
      // the same (prev < next <= prev + 1 + slop) band per gap; chain
      // count = join cardinality in both engines; -1 converts first_pos
      // to the operator's 0-based convention
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |a AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'fast']) AS p1 FROM toks),
        |b AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'table']) AS p2 FROM toks),
        |c AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'scan']) AS p3 FROM toks),
        |ch AS (
        | SELECT a.doc_id, p1 FROM a JOIN b USING (doc_id) JOIN c USING (doc_id)
        | WHERE p2 > p1 AND p2 <= p1 + 3 AND p3 > p2 AND p3 <= p2 + 3)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        | CAST(min(p1) - 1 AS BIGINT) AS first_pos
        |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // materialized positional index: term -> chunked sorted (doc:pos)
    // postings; the build-side counterpart of the phrase query path
    Entry("ii_positional_index", (s, dir) =>
      Search.positionalIndexChunked(Tables.documents(s, dir))
        .orderBy(col("term"), col("chunk")),
      // positional-index twin: zipped unnest gives 0-based positions;
      // string_agg ORDER BY (doc_id, pos) = array_sort on the struct
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |p AS (
        | SELECT doc_id, unnest(t) AS term, unnest(range(0, len(t))) AS pos FROM toks)
        |SELECT term, CAST(doc_id // 100 AS BIGINT) AS chunk, count(*) AS n_occ,
        | string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR),
        |  ',' ORDER BY doc_id, pos) AS postings
        |FROM p GROUP BY 1, 2 ORDER BY term, chunk""".stripMargin),
    Entry("search_bm25", (s, dir) =>
      Search.bm25TopK(Tables.documents(s, dir), Seq("spark", "vector", "slow"), 20)
        .select(col("doc_id"), round(col("score"), 4).as("score")),
      bm25OracleSql(Seq("spark", "vector", "slow"), 20)),
    // hybrid lexical⊕semantic retrieval: the BM25 leg and an exact
    // vector leg (query = embedding 0; doc_id ≡ vec_id) fused by
    // reciprocal-rank, κ=60 — rank-only fusion needs no calibration
    Entry("search_hybrid_rrf", (s, dir) =>
      Search.hybridRrf(Tables.documents(s, dir), Tables.embeddings(s, dir),
        Seq("spark", "vector", "slow"), qVecId = 0L, k = 20),
      hybridRrfOracleSql(Seq("spark", "vector", "slow"), 0L, 20)),
    // pseudo-relevance feedback: top-5 feedback docs expand the query
    // by 3 terms (feedback-df DESC, corpus-df ASC), then re-rank
    Entry("search_bm25_prf", (s, dir) =>
      Search.bm25PrfTopK(Tables.documents(s, dir), Seq("spark", "vector"), 20)
        .select(col("doc_id"), round(col("score"), 4).as("score")),
      bm25PrfOracleSql(Seq("spark", "vector"), 20, r = 5, e = 3)),
    // spreadScan on the positional search: the per-row position
    // extraction is the whole cost and rides the (single-split at sf)
    // scan — no-op at scale, result-identical
    Entry("search_proximity", (s, dir) =>
      Search.proximitySearch(Parallelize.spreadScan(Tables.documents(s, dir)),
          "spark", "slow", maxDist = 5)
        .orderBy(col("doc_id")),
      // 1-based positions cancel in the distance; join over unnested
      // per-term position lists = the per-row O(|pa|·|pb|) array min
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |a AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'spark']) AS pa FROM toks),
        |b AS (SELECT doc_id, unnest([i for i in range(1, len(t)+1) if t[i] = 'slow']) AS pb FROM toks)
        |SELECT doc_id, CAST(min(abs(pa - pb)) AS BIGINT) AS best_dist
        |FROM a JOIN b USING (doc_id)
        |GROUP BY doc_id HAVING min(abs(pa - pb)) <= 5
        |ORDER BY doc_id""".stripMargin),
    Entry("search_fuzzy", (s, dir) =>
      Search.fuzzySearch(Tables.documents(s, dir), Seq("spak", "strem", "jion"), maxDist = 2)
        .orderBy(col("q"), col("dist"), col("term")),
      // levenshtein with the same length-difference lower-bound gate;
      // DuckDB's uncapped distance equals the capped one inside ≤ maxDist
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |v AS (
        | SELECT term, count(*) AS df
        | FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
        | GROUP BY term),
        |q AS (SELECT unnest(['spak', 'strem', 'jion']) AS q)
        |SELECT q, term, CAST(levenshtein(q, term) AS BIGINT) AS dist, df
        |FROM v CROSS JOIN q
        |WHERE abs(len(term) - len(q)) <= 2 AND levenshtein(q, term) <= 2
        |ORDER BY q, dist, term""".stripMargin),
    // did-you-mean: fuzzy candidates ranked (dist, df DESC, term),
    // top-3 corrections per misspelled probe
    Entry("search_suggest", (s, dir) =>
      Search.suggestTerms(Tables.documents(s, dir), Seq("spak", "strem", "jion"))
        .orderBy(col("q"), col("rank")),
      // suggest twin: the fuzzy candidate set + per-probe rank window
      // (dist, df DESC, term), top 3
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |v AS (
        | SELECT term, count(*) AS df
        | FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
        | GROUP BY term),
        |q AS (SELECT unnest(['spak', 'strem', 'jion']) AS q),
        |cand AS (
        | SELECT q, term, CAST(levenshtein(q, term) AS BIGINT) AS dist, df
        | FROM v CROSS JOIN q
        | WHERE abs(len(term) - len(q)) <= 2 AND levenshtein(q, term) <= 2),
        |rk AS (
        | SELECT q, term, dist, df,
        |  CAST(row_number() OVER (PARTITION BY q
        |    ORDER BY dist, df DESC, term) AS BIGINT) AS rank
        | FROM cand)
        |SELECT q, rank, term, dist, df FROM rk
        |WHERE rank <= 3 ORDER BY q, rank""".stripMargin),
    // infix wildcard via the trigram term index; oracle is the direct
    // LIKE scan — the index path must be result-identical
    Entry("search_infix", (s, dir) =>
      Search.infixSearch(Tables.documents(s, dir), "park")
        .orderBy(col("term")),
      // infix twin: the layout-blind direct scan — LIKE '%park%' over
      // distinct tokens; the trigram index must change nothing
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT term, count(*) AS df
        |FROM (SELECT doc_id,
        |       unnest(list_filter(list_distinct(t), x -> x LIKE '%park%')) AS term
        |      FROM toks)
        |GROUP BY term ORDER BY term""".stripMargin),
    Entry("search_prefix", (s, dir) =>
      Search.prefixSearch(Tables.documents(s, dir), "s")
        .orderBy(col("term")),
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT term, count(*) AS df
        |FROM (SELECT doc_id, unnest(list_filter(list_distinct(t), x -> x LIKE 's%')) AS term FROM toks)
        |GROUP BY term ORDER BY term""".stripMargin),
    // the reference's actual query shape: inverted index over a
    // dotted nested field, resolved through JSON ingest + flattening
    // (R1 ∘ R5 ∘ R6; reference src/main.rs:398-499 + 260-262).
    // dropNullValues = false: this ingest derives source.region from a
    // total CASE (never null), and keeping the default isNotNull filter
    // makes Catalyst push it below the parse — from_json evaluated
    // twice per row, the round-2 bench's slowest query at 4.1s.
    Entry("ii_nested_field_values", (s, dir) =>
      InvertedIndex.fieldValues(
          NestedIngest.ingestJson(NestedIngest.eventsAsJson(s, dir), "json"),
          "source.region", dropNullValues = false)
        .select(col("value"), col("n_docs"),
                array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value")),
      """SELECT CASE WHEN user_id % 3 = 0 THEN 'us-east'
        |            WHEN user_id % 3 = 1 THEN 'us-west'
        |            ELSE 'eu-central' END AS value,
        | count(*) AS n_docs,
        | array_to_string(list_sort(list(event_id)), ',') AS doc_ids
        |FROM events GROUP BY 1 ORDER BY value""".stripMargin),
    Entry("clustered_write_scan", (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_clustered_${dir.hashCode.abs}"
      graft.sources.ClusteredParquet.write(Tables.documents(s, dir), path, numFiles = 8)
      graft.sources.ClusteredParquet.pointLookup(s, path, iiDocIds)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN ($iiDocIdsSql) ORDER BY doc_id""".stripMargin),
    // partition pruning on a hive-partitioned clustered layout: the
    // lang predicate eliminates whole directories at planning time
    Entry("partitioned_scan", (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_partitioned_${dir.hashCode.abs}"
      graft.sources.ClusteredParquet.writePartitioned(Tables.documents(s, dir), path, "lang")
      graft.sources.ClusteredParquet.read(s, path)
        .where(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin),
    // z-order clustered layout: a 2-d box predicate over the Morton
    // layout — row-group stats prune BOTH dimensions (pruning itself
    // is asserted in ZOrderSpec; this entry pins result correctness)
    Entry("zorder_scan", (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_${dir.hashCode.abs}"
      graft.sources.ClusteredParquet.writeZOrdered(
        Tables.lineitem(s, dir), path, "l_partkey", "l_orderkey", numFiles = 8)
      graft.sources.ClusteredParquet.read(s, path)
        .where(col("l_partkey").between(100, 299) && col("l_orderkey").between(1000, 3999))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
                col("l_suppkey"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 299 AND l_orderkey BETWEEN 1000 AND 3999
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // Hilbert-clustered layout: same box query, same result (the
    // oracle is layout-blind); the curve changes only what row groups
    // the scan touches — pruning proven in ZOrderSpec
    Entry("hilbert_scan", (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_hilbert_${dir.hashCode.abs}"
      graft.sources.ClusteredParquet.writeHilbert(
        Tables.lineitem(s, dir), path, "l_partkey", "l_orderkey", numFiles = 8)
      graft.sources.ClusteredParquet.read(s, path)
        .where(col("l_partkey").between(100, 299) && col("l_orderkey").between(1000, 3999))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
                col("l_suppkey"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // hilbert twin: identical to the zorder twin — the curve is a
      // physical layout, the query result is layout-invariant
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 299 AND l_orderkey BETWEEN 1000 AND 3999
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // §2.3 LLM-data-pipeline operators
    Entry("dedup_exact", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)).orderBy(col("h")),
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin),
    // sub-document dedup: corpus-wide first-occurrence keep per
    // 12-token paragraph, survivors reassembled in chunk order
    Entry("dedup_paragraph", (s, dir) =>
      Dedup.paragraphDedup(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      // paragraph twin: same 12-token grid (chunk count mirrors
      // Chunking.chunkTokens), first occurrence = rn 1 over (doc_id,
      // chunk_idx); coalesce('') matches concat_ws over an empty array
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |nch AS (
        | SELECT doc_id, t,
        |  CASE WHEN len(t) <= 12 THEN 1
        |   ELSE CAST(ceil((len(t) - 12) / 12.0) AS INT) + 1 END AS nc
        | FROM toks),
        |par AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_idx, t FROM nch),
        |pp AS (
        | SELECT doc_id, chunk_idx,
        |  array_to_string(t[chunk_idx*12+1 : chunk_idx*12+12], ' ') AS chunk
        | FROM par),
        |rk AS (
        | SELECT doc_id, chunk_idx, chunk,
        |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        | FROM pp)
        |SELECT doc_id, count(*) AS n_total,
        | CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(coalesce(
        |   string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '')) AS h_dedup
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // CCNet-style boilerplate strip: paragraphs in >= 3 distinct docs
    // dropped from EVERY doc (vs dedup_paragraph's keep-first)
    Entry("text_boilerplate", (s, dir) =>
      Dedup.boilerplateRemoval(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      // boilerplate twin: same 12-token grid; df = distinct-doc count
      // per paragraph, kept iff df < 3 (CCNet drop-everywhere policy)
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |nch AS (
        | SELECT doc_id, t,
        |  CASE WHEN len(t) <= 12 THEN 1
        |   ELSE CAST(ceil((len(t) - 12) / 12.0) AS INT) + 1 END AS nc
        | FROM toks),
        |par AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_idx, t FROM nch),
        |pp AS (
        | SELECT doc_id, chunk_idx,
        |  array_to_string(t[chunk_idx*12+1 : chunk_idx*12+12], ' ') AS chunk
        | FROM par),
        |dfq AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM pp GROUP BY chunk)
        |SELECT doc_id, count(*) AS n_total,
        | CAST(sum(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(coalesce(
        |   string_agg(CASE WHEN df < 3 THEN chunk END, ' ' ORDER BY chunk_idx), '')) AS h_clean
        |FROM pp JOIN dfq USING (chunk) GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // exact-substring duplication signal: spans duplicated anywhere in
    // the corpus, per-doc coverage by interval union
    Entry("dedup_substring", (s, dir) =>
      Dedup.substringDedup(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      // substring twin: string 6-grams stand in for the engine's
      // xxhash64 span keys (same location multiplicities barring 64-bit
      // collisions); coverage is the identical sorted-starts lead
      // formula, so the interval union is engine-exact
      """WITH t AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS tk
        | FROM documents WHERE text IS NOT NULL),
        |spans AS (
        | SELECT doc_id, st, array_to_string(tk[st:st+5], ' ') AS g
        | FROM t, unnest(range(1, len(tk) - 6 + 2)) AS r(st)
        | WHERE len(tk) >= 6),
        |dup AS (SELECT g FROM spans GROUP BY g HAVING count(*) > 1),
        |covd AS (
        | SELECT doc_id, st,
        |  least(6, coalesce(lead(st) OVER (PARTITION BY doc_id ORDER BY st) - st, 6)) AS c
        | FROM spans JOIN dup USING (g)),
        |agg AS (
        | SELECT doc_id, count(*) AS n_dup_spans, sum(c) AS dup_tokens
        | FROM covd GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        | CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        | CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        | CASE WHEN len(tk) > 0
        |  THEN round(CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(tk), 4)
        |  ELSE 0.0 END AS dup_frac
        |FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // deterministic seeded epoch shuffle: two-phase distributed rank
    // of md5(seed:id) — no single-partition window
    Entry("order_shuffle", (s, dir) =>
      TrainingOrder.shuffled(Tables.documents(s, dir), seed = "ep0")
        .select(col("pos"), col("id").as("doc_id"))
        .orderBy(col("pos")),
      // epoch-shuffle twin: one window over the same md5(seed:id) order
      """SELECT CAST(row_number() OVER (
        |  ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos,
        | doc_id
        |FROM documents ORDER BY pos""".stripMargin),
    // weighted curriculum interleave: stratum r-th row at virtual
    // time (r+1)/weight, globally ranked — en 3×, zh 1.5×, fr 0.5×
    Entry("order_interleave", (s, dir) =>
      TrainingOrder.interleaved(Tables.documents(s, dir),
          weights = Map("en" -> 3.0, "zh" -> 1.5, "fr" -> 0.5),
          seed = "ep0", stratumCol = "lang")
        .select(col("pos"), col("stratum"), col("id").as("doc_id"))
        .orderBy(col("pos")),
      // interleave twin: per-stratum rank over the seeded key, virtual
      // time lr/weight (all-double division so both engines compute the
      // identical slot), global row_number over (slot, key, id)
      """WITH k AS (
        | SELECT lang AS stratum, doc_id,
        |  md5('ep0:' || CAST(doc_id AS VARCHAR)) AS key
        | FROM documents),
        |r AS (
        | SELECT stratum, doc_id, key,
        |  row_number() OVER (PARTITION BY stratum ORDER BY key, doc_id) AS lr
        | FROM k),
        |s AS (
        | SELECT stratum, doc_id, key,
        |  CAST(lr AS DOUBLE) / CAST(CASE stratum WHEN 'en' THEN 3.0
        |   WHEN 'zh' THEN 1.5 WHEN 'fr' THEN 0.5 ELSE 1.0 END AS DOUBLE) AS slot
        | FROM r)
        |SELECT CAST(row_number() OVER (ORDER BY slot, key, doc_id) - 1 AS BIGINT) AS pos,
        | stratum, doc_id
        |FROM s ORDER BY pos""".stripMargin),
    Entry("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir))
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id1"), col("id2")),
      // signature-family twins: the full FNV-1a/splitmix64 chains
      // reproduced in HUGEINT-mod-2^64 arithmetic (OracleHashSql), so
      // the LSH pipelines hash-compare end to end, not rows-only
      OracleHashSql.minhashSql()),
    Entry("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir))
        .orderBy(col("id1"), col("id2")),
      OracleHashSql.simhashSql()),
    // sorted-neighborhood dedup: length-sorted window blocking, exact
    // Jaccard verification — the linear-candidate alternative to LSH.
    // window = 0 (auto): derived from n / distinct(n_chars) so recall
    // survives corpus growth over a fixed key range (Dedup.autoWindow)
    Entry("dedup_snm", (s, dir) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir),
          sortCols = Seq("n_chars"), window = 0, minJaccard = 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id1"), col("id2")),
      // SNM twin: global (n_chars, doc_id) rank, auto-window successor
      // pairs (same density-derived window as Dedup.autoWindow), the
      // 3-gram Jaccard of dedup_ngram_jaccard, >= 0.5 gate. Overlap
      // comes from the exploded co-shingle join (count of shared
      // shingles per doc pair), NOT per-pair list_intersect — at a 10x
      // sweep the window is 256 and 12.7M list_intersects run ~45x
      // slower than one shingle equi-join + hash agg; pairs sharing
      // zero shingles drop at the inner join (their J=0 can't clear the
      // gate), so the rewrite is lossless. MATERIALIZED fences keep the
      // shared CTEs single-evaluation.
      s"""WITH toks AS (
        | SELECT doc_id, n_chars, list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS MATERIALIZED (
        | SELECT doc_id, n_chars,
        |  CASE WHEN len(t) >= 3
        |   THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |   ELSE [array_to_string(t, ' ')] END AS s
        | FROM toks),
        |$snmWindowSql,
        |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank FROM sh),
        |pairs AS MATERIALIZED (
        | SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2
        | FROM ranked a CROSS JOIN win JOIN ranked b
        |  ON b.rank BETWEEN a.rank + 1 AND a.rank + win.w - 1),
        |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS tk FROM sh),
        |co AS MATERIALIZED (
        | SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        | FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |sz AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM sh),
        |scored AS (
        | SELECT p.id1, p.id2,
        |  CAST(co.inter AS DOUBLE) / (x.sz + y.sz - co.inter) AS j
        | FROM pairs p JOIN co ON co.id1 = p.id1 AND co.id2 = p.id2
        | JOIN sz x ON x.doc_id = p.id1 JOIN sz y ON y.doc_id = p.id2)
        |SELECT id1, id2, round(j, 4) AS jaccard
        |FROM scored WHERE j >= 0.5 ORDER BY id1, id2""".stripMargin),
    Entry("dedup_ngram_jaccard", (s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = d.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        .where(col("doc_id") < 100)
      Dedup.verifyJaccard(pairs, d)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id1"), col("id2"))
    },
      // full n-gram Jaccard twin: 3-gram word shingles (docs shorter
      // than 3 tokens collapse to one whole-doc shingle), distinct sets,
      // |∩| / |∪| — mirrors TextFunctions.wordShingles + verifyJaccard
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(t) >= 3
        |   THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |   ELSE [array_to_string(t, ' ')] END AS s
        | FROM toks),
        |pairs AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents WHERE doc_id < 100)
        |SELECT p.id1, p.id2,
        | round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |       (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM pairs p JOIN sh a ON a.doc_id = p.id1 JOIN sh b ON b.doc_id = p.id2
        |ORDER BY id1, id2""".stripMargin),
    Entry("dedup_embedding", (s, dir) =>
      Dedup.embeddingPairs(Tables.embeddings(s, dir))
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id1"), col("id2")),
      // full-pipeline twin of Dedup.embeddingPairs: SRP sign bits from
      // the embedded hyperplane literals (same splitmix64 chain), 4-bit
      // band buckets, the 2..maxBucket size gate, exact-cosine verify
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |${autoSrpBandedSql(4)},
        |ok AS (SELECT band, bhash FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 200),
        |cand AS (
        | SELECT DISTINCT a.id AS id1, b.id AS id2
        | FROM banded a JOIN ok USING (band, bhash) JOIN banded b
        |  ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id)
        |SELECT c.id1, c.id2, round(list_cosine_similarity(v1.e, v2.e), 4) AS cos
        |FROM cand c JOIN v v1 ON v1.id = c.id1 JOIN v v2 ON v2.id = c.id2
        |WHERE list_cosine_similarity(v1.e, v2.e) >= 0.35
        |ORDER BY id1, id2""".stripMargin),
    // pairs → clusters: connected components (union-find on the driver
    // for small pair lists, the min-label loop otherwise) over the L5
    // embedding near-dup pairs
    Entry("dedup_clusters", (s, dir) =>
      ConnectedComponents.clusters(Dedup.embeddingPairs(Tables.embeddings(s, dir)))
        .orderBy(col("component")),
      // clusters twin: the dedup_embedding pair pipeline feeding a
      // recursive-CTE transitive closure; component = min reachable id
      s"""WITH RECURSIVE v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |${autoSrpBandedSql(4)},
        |ok AS (SELECT band, bhash FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 200),
        |cand AS (
        | SELECT DISTINCT a.id AS id1, b.id AS id2
        | FROM banded a JOIN ok USING (band, bhash) JOIN banded b
        |  ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
        |pairs AS (
        | SELECT c.id1, c.id2 FROM cand c JOIN v v1 ON v1.id = c.id1 JOIN v v2 ON v2.id = c.id2
        | WHERE list_cosine_similarity(v1.e, v2.e) >= 0.35),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        | SELECT a, a FROM edges
        | UNION
        | SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT component, count(*) AS n_members,
        | array_to_string(list_sort(list(id)), ',') AS members
        |FROM comp GROUP BY component ORDER BY component""".stripMargin),
    // TEXT-modality near-dup clusters: MinHash-LSH pairs closed into
    // components — pairs→groups for the lexical leg, mirroring the
    // embedding-leg dedup_clusters
    Entry("dedup_lsh_clusters", (s, dir) =>
      ConnectedComponents.clusters(Dedup.minhashLshPairs(Tables.documents(s, dir)))
        .orderBy(col("component")),
      // lsh-clusters twin: the same HUGEINT minhash chain + the
      // recursive reachability closure dedup_clusters uses
      OracleHashSql.minhashClustersSql()),
    // hybrid semantic dedup: a doc pair is a duplicate if EITHER the
    // texts are near-dups (SNM window + exact Jaccard) OR the
    // embeddings are (SRP-banded cosine); union of edges → clusters.
    // doc_id ≡ vec_id joins the two modalities of the same corpus.
    Entry("dedup_hybrid", (s, dir) => {
      val textPairs = Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir),
          sortCols = Seq("n_chars"), window = 0, minJaccard = 0.5)
        .select(col("id1"), col("id2"))
      val embPairs = Dedup.embeddingPairs(Tables.embeddings(s, dir))
        .select(col("id1"), col("id2"))
      ConnectedComponents.clusters(textPairs.unionByName(embPairs))
        .orderBy(col("component"))
    },
      // hybrid twin: SNM text pairs ∪ SRP embedding pairs, closed by the
      // recursive-CTE reachability of dedup_clusters
      s"""WITH RECURSIVE toks AS (
        | SELECT doc_id, n_chars, list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |shh AS (
        | SELECT doc_id, n_chars,
        |  CASE WHEN len(t) >= 3
        |   THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |   ELSE [array_to_string(t, ' ')] END AS s
        | FROM toks),
        |$snmWindowSql,
        |rankedw AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank FROM shh),
        |wcand AS MATERIALIZED (
        | SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2
        | FROM rankedw a CROSS JOIN win JOIN rankedw b
        |  ON b.rank BETWEEN a.rank + 1 AND a.rank + win.w - 1),
        |wtok AS MATERIALIZED (SELECT doc_id, unnest(s) AS tk FROM shh),
        |wco AS MATERIALIZED (
        | SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        | FROM wtok a JOIN wtok b ON a.tk = b.tk AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |wsz AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM shh),
        |wpairs AS (
        | SELECT id1, id2 FROM (
        |  SELECT p.id1, p.id2,
        |   CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) AS j
        |  FROM wcand p JOIN wco c ON c.id1 = p.id1 AND c.id2 = p.id2
        |  JOIN wsz x ON x.doc_id = p.id1 JOIN wsz y ON y.doc_id = p.id2)
        | WHERE j >= 0.5),
        |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |${autoSrpBandedSql(4)},
        |ok AS (SELECT band, bhash FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 200),
        |ecand AS (
        | SELECT DISTINCT a.id AS id1, b.id AS id2
        | FROM banded a JOIN ok USING (band, bhash) JOIN banded b
        |  ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
        |epairs AS (
        | SELECT c.id1, c.id2 FROM ecand c JOIN v v1 ON v1.id = c.id1 JOIN v v2 ON v2.id = c.id2
        | WHERE list_cosine_similarity(v1.e, v2.e) >= 0.35),
        |pairs AS (SELECT id1, id2 FROM wpairs UNION SELECT id1, id2 FROM epairs),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        | SELECT a, a FROM edges
        | UNION
        | SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT component, count(*) AS n_members,
        | array_to_string(list_sort(list(id)), ',') AS members
        |FROM comp GROUP BY component ORDER BY component""".stripMargin),
    // benchmark decontamination: corpus docs sharing a 5-gram with the
    // (broadcast) benchmark subset, with per-doc hit counts
    Entry("decontaminate", (s, dir) => {
      val d = Tables.documents(s, dir)
      Decontaminate.contaminationHits(
          d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0))
        .orderBy(col("doc_id"))
    },
      decontaminateOracle),
    // semantic decontamination: per-train-vector max cosine to the
    // (broadcast) benchmark subset — the paraphrase-leakage catcher
    Entry("decontaminate_semantic", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Decontaminate.semanticHits(
          e.where(col("vec_id") % 23 =!= 0), e.where(col("vec_id") % 23 === 0))
        .orderBy(col("vec_id"))
    },
      // semantic twin: max benchmark cosine per train vector; the 0.3
      // decimal literal casts to the identical double in both engines
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |b AS (SELECT id, e FROM v WHERE id % 23 = 0),
        |t AS (SELECT id, e FROM v WHERE id % 23 <> 0),
        |m AS (SELECT t.id, max(list_cosine_similarity(t.e, b.e)) AS mc
        |      FROM t, b GROUP BY t.id)
        |SELECT id AS vec_id, round(mc, 4) AS max_cos, mc >= 0.3 AS contaminated
        |FROM m ORDER BY vec_id""".stripMargin),
    // same decontamination on the Bloom-sketch path: corpus probes a
    // broadcast Bloom of the benchmark shingles, survivors take a
    // shuffled exact join — the plan for a benchmark too large to
    // broadcast exactly. Result-identical to `decontaminate`.
    Entry("decontaminate_bloom", (s, dir) => {
      val d = Tables.documents(s, dir)
      Decontaminate.contaminationHitsBloom(
          d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0))
        .orderBy(col("doc_id"))
    },
      // the Bloom path only PREFILTERS — the exact join decides, so the
      // oracle is the very same query
      decontaminateOracle),
    // incremental dedup: new batch (vec_id%4=0) probed against the
    // already-deduped corpus (the rest); corpus×corpus never recomputed
    Entry("dedup_incremental", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.embeddingPairsIncremental(
          e.where(col("vec_id") % 4 =!= 0), e.where(col("vec_id") % 4 === 0))
        .select(col("new_id"), col("old_id"), round(col("cos"), 4).as("cos"))
        .orderBy(col("new_id"), col("old_id"))
    },
      // incremental twin: same SRP banding, corpus-side-only hot-bucket
      // gate (no 2-member minimum — the batch supplies the second member)
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |${autoSrpBandedSql(4, "WHERE id % 4 <> 0")},
        |cb AS (SELECT * FROM banded WHERE id % 4 <> 0),
        |bb AS (SELECT * FROM banded WHERE id % 4 = 0),
        |ok AS (SELECT band, bhash FROM cb GROUP BY 1, 2 HAVING count(*) <= 200),
        |cand AS (
        | SELECT DISTINCT b.id AS new_id, c.id AS old_id
        | FROM bb b JOIN cb c ON b.band = c.band AND b.bhash = c.bhash
        | JOIN ok ON ok.band = b.band AND ok.bhash = b.bhash
        | WHERE b.id <> c.id)
        |SELECT cand.new_id, cand.old_id,
        | round(list_cosine_similarity(v1.e, v2.e), 4) AS cos
        |FROM cand JOIN v v1 ON v1.id = cand.new_id JOIN v v2 ON v2.id = cand.old_id
        |WHERE list_cosine_similarity(v1.e, v2.e) >= 0.35
        |ORDER BY new_id, old_id""".stripMargin),
    // sliding-window token chunking (window 64, stride 32): the
    // context-window slicer between cleaning and packing; zero-shuffle
    Entry("chunk_docs", (s, dir) =>
      Chunking.chunkSummary(Tables.documents(s, dir), window = 64, stride = 32)
        .orderBy(col("doc_id"), col("chunk_idx")),
      // chunking twin: chunk count 1 + ceil((len-64)/32) for long docs,
      // 1-based inclusive list slicing t[a:b] = Spark's slice(t, a, 64)
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |b AS (
        | SELECT doc_id, t,
        |  CASE WHEN len(t) <= 64 THEN 1
        |       ELSE CAST(ceil((len(t) - 64) / 32.0) AS INT) + 1 END AS nc
        | FROM toks),
        |ch AS (
        | SELECT doc_id, t, unnest([i for i in range(0, nc)]) AS ci FROM b)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        | CAST(len(t[ci*32+1 : ci*32+64]) AS BIGINT) AS n_toks,
        | md5(array_to_string(t[ci*32+1 : ci*32+64], ' ')) AS h
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),
    // sequence packing: two-phase distributed prefix sum over the
    // corpus order, docs binned into fixed-budget context windows
    Entry("pack_sequences", (s, dir) =>
      Packing.packSummary(Tables.documents(s, dir), "n_chars", budget = 4096)
        .orderBy(col("seq_id")),
      // packing twin: DuckDB computes the prefix sum as one global
      // window — correct for an oracle, the exact shape the distributed
      // implementation avoids
      """WITH c AS (
        | SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS n_tokens,
        |  sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |   - n_chars AS start
        | FROM documents)
        |SELECT CAST(start // 4096 AS BIGINT) AS seq_id, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        | min(id) AS first_id, max(id) AS last_id
        |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin),
    // the composed pipeline a training-data user actually runs:
    // normalize → exact dedup → decontaminate → quality filter → pack
    // into context windows. Every stage is the library operator; the
    // oracle replays the whole chain in SQL.
    Entry("pipeline_e2e", (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("text", TextFunctions.normalizeText(col("text")))
      val bench = d.where(col("doc_id") % 17 === 0)
      val corpus = Dedup.dropExactDuplicates(d).where(col("doc_id") % 17 =!= 0)
      val clean = Decontaminate.decontaminate(corpus, bench)
      val good = clean.where(
        TextFunctions.tokenCount(col("text")) >= 10 &&
          TextFunctions.punctRatio(col("text")) <= 0.2)
      Packing.packSummary(good, "n_chars", budget = 4096).orderBy(col("seq_id"))
    },
      // end-to-end twin: every pipeline stage replayed in SQL over the
      // normalized text (dedup keeper = min doc_id per md5; decontam =
      // NOT EXISTS vs the benchmark shingles; quality = token count +
      // punct ratio; packing = global-window prefix sum)
      s"""WITH norm AS (
        | SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text, n_chars
        | FROM documents),
        |dedup AS (
        | SELECT doc_id, text, n_chars FROM (
        |  SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM norm)
        | WHERE doc_id = keeper),
        |${shingleCteSql(5, "norm")},
        |bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 17 = 0),
        |contaminated AS (
        | SELECT DISTINCT c.doc_id
        | FROM (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 17 <> 0) c
        | JOIN bench b USING (shingle)),
        |clean AS (
        | SELECT * FROM dedup
        | WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |good AS (
        | SELECT * FROM clean
        | WHERE len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)) >= 10
        |  AND (CASE WHEN len(text) > 0
        |        THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / len(text)
        |        ELSE 0 END) <= 0.2),
        |packed AS (
        | SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS n_tokens,
        |  sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |   - n_chars AS start
        | FROM good)
        |SELECT CAST(start // 4096 AS BIGINT) AS seq_id, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        | min(id) AS first_id, max(id) AS last_id
        |FROM packed GROUP BY 1 ORDER BY seq_id""".stripMargin),
    // deterministic hash-rate sampling: a scan-stage filter, summarized
    // per language so membership differences hash-mismatch
    Entry("sample_hash", (s, dir) =>
      Sampling.hashRateSample(Tables.documents(s, dir), "doc_id", 0.3)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang")),
      s"""SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.rateThresholdHex(0.3)}'
        |GROUP BY lang ORDER BY lang""".stripMargin),
    // mixture reweighting: per-source keep-rates as a scan-stage
    // threshold filter; summarized per source
    Entry("sample_mixture", (s, dir) =>
      Sampling.mixtureSample(Tables.documents(s, dir), "source", "doc_id",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source")),
      s"""SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        | CASE source WHEN 'src0' THEN '${Sampling.rateThresholdHex(1.0)}'
        |  WHEN 'src1' THEN '${Sampling.rateThresholdHex(0.5)}'
        |  WHEN 'src2' THEN '${Sampling.rateThresholdHex(0.25)}'
        |  ELSE '${Sampling.rateThresholdHex(0.1)}' END
        |GROUP BY source ORDER BY source""".stripMargin),
    // weighted sampling (Efraimidis-Spirakis A-Res, deterministic
    // hash randomness): longer docs proportionally likelier
    Entry("sample_weighted", (s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id", "n_chars", 50)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")),
      // A-Res twin: identical ln(u)/w ranking; hex→int via CAST('0x'…)
      """SELECT doc_id, source, n_chars FROM (
        | SELECT doc_id, source, n_chars,
        |  row_number() OVER (ORDER BY
        |   ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
        |      / 4294967296.0) / n_chars DESC, doc_id) AS rn
        | FROM documents WHERE n_chars > 0)
        |WHERE rn <= 50 ORDER BY doc_id""".stripMargin),
    // per-stratum quota sampling in deterministic md5 order
    Entry("sample_stratified", (s, dir) =>
      Sampling.stratifiedQuota(Tables.documents(s, dir), "source", "doc_id", 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          array_join(array_sort(collect_list(col("doc_id"))), ",").as("ids"))
        .orderBy(col("source")),
      """SELECT source, count(*) AS n_sampled,
        | array_to_string(list_sort(list(doc_id)), ',') AS ids
        |FROM (
        | SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |WHERE rn <= 20 GROUP BY source ORDER BY source""".stripMargin),
    // heavy hitters over the token stream: Misra-Gries candidates
    // (O(cap) state) + exact bounded re-count; exact result => the
    // oracle is the plain HAVING query the sketch plan avoids at scale
    Entry("text_heavy_hitters", (s, dir) =>
      FrequentItems.heavyHitters(
          Tables.documents(s, dir)
            .select(explode(TextFunctions.tokens(col("text"))).as("token")),
          "token", phi = 0.02)
        .orderBy(col("item")),
      """WITH tok AS (
        | SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS item
        | FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT item, count(*) AS cnt,
        | round(count(*) / (SELECT n FROM tot), 4) AS share
        |FROM tok GROUP BY item
        |HAVING count(*) > (SELECT n FROM tot) * 0.02
        |ORDER BY item""".stripMargin),
    Entry("text_scrub", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.countMatches(col("text"), TextFunctions.NumberPattern)
            .cast("long").as("n_num"),
          length(TextFunctions.scrubText(col("text"))).cast("long").as("len_scrubbed"))
        .orderBy(col("doc_id")),
      s"""SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        | CAST(len(regexp_replace(regexp_replace(regexp_replace(text,
        |   'https?://[^\\s]+', '<URL>', 'g'),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]+', '<NUM>', 'g')) AS BIGINT) AS len_scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin),
    Entry("text_repetition", (s, dir) =>
      TextStats.ngramRepetition(Tables.documents(s, dir)).orderBy(col("doc_id")),
      // bigram repetition twin: per-(doc, bigram) counts, then top-share
      // and duplicate-share per doc
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |bg AS (
        | SELECT doc_id,
        |  CASE WHEN len(t) >= 2
        |   THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
        |   ELSE [array_to_string(t, ' ')] END AS gs
        | FROM toks),
        |g AS (SELECT doc_id, unnest(gs) AS g FROM bg),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
        | round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_frac,
        | round(1 - CAST(count(*) AS DOUBLE) / sum(c), 4) AS dup_frac
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // X184: code-vs-prose routing signals (symbol/digit/punctuation
    // densities + the is_code call) — pure per-row regex passes
    Entry("text_code_ratio", (s, dir) =>
      TextStats.codeRatio(Tables.documents(s, dir)).orderBy(col("doc_id")),
      // code-ratio twin: identical character-class strips (RE2 classes
      // match Java's here), double division, is_code on unrounded values
      """SELECT doc_id,
        | round((len(text) - len(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))
        |   / CAST(len(text) AS DOUBLE), 4) AS symbol_frac,
        | round((len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))
        |   / CAST(len(text) AS DOUBLE), 4) AS digit_frac,
        | round(100.0 * (len(text) - len(regexp_replace(text, '[{}()\[\];=<>]', '', 'g')))
        |   / len(text), 4) AS code_punct_per_100,
        | ((len(text) - len(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))
        |   / CAST(len(text) AS DOUBLE) >= 0.03
        |  AND (len(text) - len(regexp_replace(text, '[{}()\[\];=<>]', '', 'g')))
        |   / CAST(len(text) AS DOUBLE) >= 0.01) AS is_code
        |FROM documents WHERE text IS NOT NULL AND len(text) > 0
        |ORDER BY doc_id""".stripMargin),
    // BPE tokenizer training: 10 greedy merges learned on the
    // distinct-word table; corpus is scanned exactly once
    Entry("text_bpe_train", (s, dir) =>
      Bpe.trainMerges(Tables.documents(s, dir), numMerges = 10)
        .select(col("rank").cast("long").as("rank"), col("left_sym"),
          col("right_sym"), col("merged"), col("pair_count"))
        .orderBy(col("rank")),
      // BPE twin: 10 unrolled pair-count/argmax/replace iterations over
      // the same marker-wrapped symbol strings (Bpe.oracleSql)
      Bpe.oracleSql(10)),
    // tokenizer apply: the 10 learned merges re-encode the corpus as a
    // literal replace() chain — per-doc whitespace vs BPE token counts
    Entry("text_bpe_apply", (s, dir) =>
      Bpe.trainAndEncode(Tables.documents(s, dir), numMerges = 10)
        .orderBy(col("doc_id")),
      // apply twin: training CTEs + nested replace() chain over b1..b10
      Bpe.applyOracleSql(10)),
    // token unigram entropy + type-token ratio, one fused scan pass
    Entry("text_entropy", (s, dir) =>
      TextStats.tokenEntropy(Tables.documents(s, dir)).orderBy(col("doc_id")),
      // entropy twin: per-(doc, token) counts, H = ln n − Σ c·ln c / n;
      // ln and the /n division agree across engines (BM25 precedent),
      // summation-order wobble dies at round(4)
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id, tok, count(*) AS c
        | FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
        |a AS (
        | SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |  count(*) AS n_types, sum(c * ln(c)) AS s
        | FROM c GROUP BY doc_id)
        |SELECT doc_id, n_toks, n_types,
        | round(ln(CAST(n_toks AS DOUBLE)) - s / n_toks, 4) AS entropy,
        | round(CAST(n_types AS DOUBLE) / n_toks, 4) AS ttr
        |FROM a ORDER BY doc_id""".stripMargin),
    // TF-IDF top-5 keywords per doc; log-free rational idf so the
    // DuckDB twin reproduces the ranking doubles bit-exactly
    Entry("text_tfidf", (s, dir) =>
      TextStats.tfidfTopTerms(Tables.documents(s, dir), k = 5)
        .orderBy(col("doc_id"), col("rank")),
      // TF-IDF twin: lowercased \s+ tokens, per-(doc,term) tf, doc
      // frequency over tf, rational idf (N+1)/(df+1) — identical IEEE
      // double sequence as the Spark side, so row_number ranking agrees
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        | SELECT doc_id, term,
        |  CAST(tf AS DOUBLE) * ((n.n + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS score
        | FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, round(score, 4) AS score
        |FROM (SELECT doc_id, term, score,
        |       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |      FROM scored)
        |WHERE rn <= 5 ORDER BY doc_id, rank""".stripMargin),
    // word2vec-style skip-gram co-occurrence: window-2 pairs counted
    // corpus-wide, top-20 by count with lexicographic tiebreaks
    Entry("text_skipgrams", (s, dir) =>
      TextStats.skipgrams(Tables.documents(s, dir), window = 2, k = 20),
      // skip-gram twin: per-position list slice pairs each token with
      // its next 2 positions, integer counts, same tiebreaks
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> len(x) > 0) AS t
        | FROM documents WHERE text IS NOT NULL),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
        |p AS (SELECT t[i] AS a, unnest(t[i+1 : i+2]) AS b FROM pos)
        |SELECT a, b, count(*) AS n
        |FROM p GROUP BY a, b
        |ORDER BY n DESC, a, b LIMIT 20""".stripMargin),
    // unigram-LM mean negative log-likelihood (perplexity stand-in)
    Entry("text_lm_score", (s, dir) =>
      TextStats.unigramLogLoss(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      // unigram-LM twin: corpus term counts, -ln(p) averaged per doc
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS term
        | FROM documents),
        |vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        | round(avg(-ln(CAST(cnt AS DOUBLE) / t.t)), 4) AS avg_nll
        |FROM toks JOIN vocab USING (term) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // bigram conditional LM: order-sensitive NLL under MLE p(w2|w1)
    Entry("text_lm_bigram", (s, dir) =>
      TextStats.bigramLogLoss(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      // bigram-LM twin: MLE p(w2|w1) = bigram count / left-context
      // count, -ln averaged per doc; docs without bigrams report 0/0.0
      """WITH t AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS tk
        | FROM documents),
        |bg AS (
        | SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
        | FROM t, unnest(range(1, len(tk))) AS r(i)
        | WHERE len(tk) >= 2),
        |bcnt AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, count(*) AS cctx FROM bg GROUP BY 1),
        |scored AS (
        | SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(-ln(CAST(cb AS DOUBLE) / cctx)), 4) AS avg_nll
        | FROM bg JOIN bcnt USING (w1, w2) JOIN ctx USING (w1)
        | GROUP BY doc_id)
        |SELECT t.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        | coalesce(s.avg_nll, 0.0) AS avg_nll
        |FROM t LEFT JOIN scored s ON s.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // top-20 bigram collocations by PMI; ranking on the rational lift
    // so the top-k SET is engine-exact, ln only on the reported value
    Entry("text_collocations", (s, dir) =>
      TextStats.collocations(Tables.documents(s, dir), minCount = 5, k = 20),
      // PMI twin: bigram strings via the text_repetition comprehension,
      // components re-split on the space, identical lift double sequence
      """WITH toks AS (
        | SELECT list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
        |bgs AS (SELECT [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))] AS gs
        |        FROM toks WHERE len(t) >= 2),
        |bg AS (SELECT unnest(gs) AS b FROM bgs),
        |bcnt AS (SELECT b, count(*) AS cb FROM bg GROUP BY 1 HAVING count(*) >= 5),
        |tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS t,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS btot),
        |scored AS (
        | SELECT b AS bigram, cb,
        |  (CAST(cb AS DOUBLE) / tot.btot) /
        |   ((CAST(u1.c AS DOUBLE) / tot.t) * (CAST(u2.c AS DOUBLE) / tot.t)) AS lift
        | FROM bcnt JOIN ucnt u1 ON u1.w = string_split(bcnt.b, ' ')[1]
        |           JOIN ucnt u2 ON u2.w = string_split(bcnt.b, ' ')[2]
        | CROSS JOIN tot)
        |SELECT bigram, CAST(cb AS BIGINT) AS n, round(ln(lift), 4) AS pmi
        |FROM scored ORDER BY lift DESC, bigram LIMIT 20""".stripMargin),
    // fixed-size deterministic per-group sample via bounded heap (the
    // "k exemplars per class" contract; stratified = rate-based twin)
    Entry("sample_reservoir", (s, dir) =>
      Sampling.reservoirPerGroup(Tables.documents(s, dir), "lang", "doc_id", 10)
        .orderBy(col("lang"), col("rank")),
      // reservoir twin: fixed-width hex md5 prefixes order identically
      // as strings and as the numeric heap score
      """SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id FROM (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
        | FROM documents)
        |WHERE rn <= 10 ORDER BY lang, rank""".stripMargin),
    // contrastive negative mining: 4 md5-chain candidate draws per
    // anchor, kept only when exact cosine < 0.5 (false-negative guard)
    Entry("sample_negative", (s, dir) =>
      Sampling.negativeSample(Tables.embeddings(s, dir))
        .orderBy(col("vec_id"), col("j")),
      // negative-sampling twin: same md5-chain candidate ranks (hex →
      // int via the 0x cast), row_number-1 rank→id map, cosine verify
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |r AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS rank FROM v),
        |n AS (SELECT count(*) AS cnt FROM v),
        |cand AS (
        | SELECT v.id AS vec_id, t.j,
        |  CAST(concat('0x', substr(md5('neg:' || CAST(v.id AS VARCHAR) || ':' ||
        |    CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT) % n.cnt AS cand_rank
        | FROM v CROSS JOIN n, unnest(range(0, 4)) AS t(j)),
        |m AS (
        | SELECT c.vec_id, c.j, r.id AS neg_id
        | FROM cand c JOIN r ON r.rank = c.cand_rank
        | WHERE r.id <> c.vec_id)
        |SELECT m.vec_id, m.j, m.neg_id,
        | round(list_cosine_similarity(a.e, b.e), 4) + 0 AS cos
        |FROM m JOIN v a ON a.id = m.vec_id JOIN v b ON b.id = m.neg_id
        |WHERE list_cosine_similarity(a.e, b.e) < 0.5
        |ORDER BY vec_id, j""".stripMargin),
    // incremental text dedup: new batch (doc_id%7=0) ranked into the
    // corpus order, only cross pairs verified — corpus x corpus never
    // recomputed (the text twin of dedup_incremental). The split
    // modulus is COPRIME with the amplifier's factor on purpose:
    // ScaleUp remaps ids as id*factor+rep, so a %10 split at 10x put
    // every rep-0 doc in the batch and every replica in the corpus —
    // all cross pairs crossed replica sets, which share no shingles
    // by construction, and the entry returned a true-but-vacuous zero
    // (caught by the ratio guard, round 9)
    Entry("dedup_snm_incremental", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.sortedNeighborhoodIncremental(
          d.where(col("doc_id") % 7 =!= 0), d.where(col("doc_id") % 7 === 0),
          sortCols = Seq("n_chars"), window = 0, minJaccard = 0.5)
        .select(col("new_id"), col("old_id"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("new_id"), col("old_id"))
    },
      // incremental-SNM twin: dedup_snm's rank + auto window with a
      // batch flag, cross-membership pairs only, oriented new→old;
      // overlap from the co-shingle join keyed on the UNORDERED
      // (least, greatest) pair since orientation is a projection
      s"""WITH toks AS (
        | SELECT doc_id, n_chars, list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS MATERIALIZED (
        | SELECT doc_id, n_chars,
        |  CASE WHEN len(t) >= 3
        |   THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |   ELSE [array_to_string(t, ' ')] END AS s
        | FROM toks),
        |$snmWindowSql,
        |ranked AS (SELECT doc_id, doc_id % 7 = 0 AS isb,
        |           row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank FROM sh),
        |pairs AS MATERIALIZED (
        | SELECT CASE WHEN a.isb THEN a.doc_id ELSE b.doc_id END AS new_id,
        |        CASE WHEN a.isb THEN b.doc_id ELSE a.doc_id END AS old_id
        | FROM ranked a CROSS JOIN win JOIN ranked b
        |  ON b.rank BETWEEN a.rank + 1 AND a.rank + win.w - 1
        | WHERE a.isb <> b.isb),
        |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS tk FROM sh),
        |co AS MATERIALIZED (
        | SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        | FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |sz AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM sh),
        |scored AS (
        | SELECT p.new_id, p.old_id,
        |  CAST(co.inter AS DOUBLE) / (x.sz + y.sz - co.inter) AS j
        | FROM pairs p
        | JOIN co ON co.id1 = least(p.new_id, p.old_id)
        |        AND co.id2 = greatest(p.new_id, p.old_id)
        | JOIN sz x ON x.doc_id = p.new_id JOIN sz y ON y.doc_id = p.old_id)
        |SELECT new_id, old_id, round(j, 4) AS jaccard
        |FROM scored WHERE j >= 0.5 ORDER BY new_id, old_id""".stripMargin),
    // one-sided (containment) near-dup over the SNM candidate window:
    // catches subsumption that symmetric Jaccard misses
    Entry("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir),
          sortCols = Seq("n_chars"), window = 0, minContainment = 0.5)
        .select(col("id1"), col("id2"),
          round(col("c1"), 4).as("c1"), round(col("c2"), 4).as("c2"))
        .orderBy(col("id1"), col("id2")),
      // containment twin: the dedup_snm candidate window (auto width)
      // scored with one-sided |∩|/|A| and |∩|/|B|, max-direction gate;
      // same lossless co-shingle-join overlap as the dedup_snm twin
      // (zero-overlap pairs have c1=c2=0 and can't clear the gate)
      s"""WITH toks AS (
        | SELECT doc_id, n_chars, list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS MATERIALIZED (
        | SELECT doc_id, n_chars,
        |  CASE WHEN len(t) >= 3
        |   THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |   ELSE [array_to_string(t, ' ')] END AS s
        | FROM toks),
        |$snmWindowSql,
        |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank FROM sh),
        |pairs AS MATERIALIZED (
        | SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2
        | FROM ranked a CROSS JOIN win JOIN ranked b
        |  ON b.rank BETWEEN a.rank + 1 AND a.rank + win.w - 1),
        |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS tk FROM sh),
        |co AS MATERIALIZED (
        | SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        | FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |sz AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM sh),
        |scored AS (
        | SELECT p.id1, p.id2,
        |  CAST(co.inter AS DOUBLE) / x.sz AS c1,
        |  CAST(co.inter AS DOUBLE) / y.sz AS c2
        | FROM pairs p JOIN co ON co.id1 = p.id1 AND co.id2 = p.id2
        | JOIN sz x ON x.doc_id = p.id1 JOIN sz y ON y.doc_id = p.id2)
        |SELECT id1, id2, round(c1, 4) AS c1, round(c2, 4) AS c2
        |FROM scored WHERE greatest(c1, c2) >= 0.5 ORDER BY id1, id2""".stripMargin),
    // X189: multi-pass SNM — union of the n_chars window and a
    // (lang, n_chars) window, one shared Jaccard verify; the
    // documented escape hatch when one key's density outgrows the
    // window cap (a second key recovers what the first sort separates)
    Entry("dedup_snm_multipass", (s, dir) =>
      Dedup.sortedNeighborhoodMultiPass(Tables.documents(s, dir),
          keySets = Seq(Seq("n_chars"), Seq("lang", "n_chars")),
          window = 0, minJaccard = 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id1"), col("id2")),
      // multi-pass SNM twin: each pass derives ITS OWN window from ITS
      // key set's density (pass 2 over distinct (lang, n_chars) tuples),
      // windows union + dedup before the one co-shingle-join verify —
      // the same lossless overlap rewrite as the dedup_snm twin
      s"""WITH toks AS (
        | SELECT doc_id, lang, n_chars, list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS MATERIALIZED (
        | SELECT doc_id, lang, n_chars,
        |  CASE WHEN len(t) >= 3
        |   THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |   ELSE [array_to_string(t, ' ')] END AS s
        | FROM toks),
        |$snmWindowSql,
        |win2 AS (SELECT greatest(10, least(256,
        |  (3 * count(*) + count(DISTINCT concat(coalesce(lang, chr(2)), chr(1),
        |     coalesce(CAST(n_chars AS VARCHAR), chr(2)))) - 1)
        |   // count(DISTINCT concat(coalesce(lang, chr(2)), chr(1),
        |     coalesce(CAST(n_chars AS VARCHAR), chr(2)))))) AS w
        | FROM documents),
        |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank FROM sh),
        |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY lang, n_chars, doc_id) - 1 AS rank FROM sh),
        |pairs AS MATERIALIZED (
        | SELECT DISTINCT id1, id2 FROM (
        |  SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2
        |  FROM r1 a CROSS JOIN win JOIN r1 b
        |   ON b.rank BETWEEN a.rank + 1 AND a.rank + win.w - 1
        |  UNION ALL
        |  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        |  FROM r2 a CROSS JOIN win2 JOIN r2 b
        |   ON b.rank BETWEEN a.rank + 1 AND a.rank + win2.w - 1)),
        |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS tk FROM sh),
        |co AS MATERIALIZED (
        | SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        | FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |sz AS MATERIALIZED (SELECT doc_id, len(s) AS sz FROM sh),
        |scored AS (
        | SELECT p.id1, p.id2,
        |  CAST(co.inter AS DOUBLE) / (x.sz + y.sz - co.inter) AS j
        | FROM pairs p JOIN co ON co.id1 = p.id1 AND co.id2 = p.id2
        | JOIN sz x ON x.doc_id = p.id1 JOIN sz y ON y.doc_id = p.id2)
        |SELECT id1, id2, round(j, 4) AS jaccard
        |FROM scored WHERE j >= 0.5 ORDER BY id1, id2""".stripMargin),
    // X182: char-level near-dup pairs — the SNM candidate window
    // verified by normalized edit distance over 64-char prefixes;
    // catches OCR/typo drift that shreds word shingles (the prefix
    // bound keeps the O(|a|·|b|) DP a per-candidate constant)
    Entry("dedup_edit_distance", (s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir),
          sortCols = Seq("n_chars"), window = 0, minSim = 0.6, prefixChars = 64)
        .select(col("id1"), col("id2"), round(col("sim"), 4).as("sim"))
        .orderBy(col("id1"), col("id2")),
      // edit-distance twin: same auto-window candidate pairs, DuckDB's
      // levenshtein == Spark's (plain Wagner-Fischer, no transposition),
      // identical 64-char prefix and normalization; threshold on the
      // unrounded similarity
      s"""WITH $snmWindowSql,
        |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank
        |           FROM documents),
        |pairs AS MATERIALIZED (
        | SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2
        | FROM ranked a CROSS JOIN win JOIN ranked b
        |  ON b.rank BETWEEN a.rank + 1 AND a.rank + win.w - 1),
        |t AS MATERIALIZED (SELECT doc_id, substr(text, 1, 64) AS t FROM documents),
        |scored AS (
        | SELECT p.id1, p.id2,
        |  CASE WHEN greatest(len(a.t), len(b.t)) = 0 THEN 1.0
        |   ELSE 1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE) / greatest(len(a.t), len(b.t))
        |  END AS sim
        | FROM pairs p JOIN t a ON a.doc_id = p.id1 JOIN t b ON b.doc_id = p.id2)
        |SELECT id1, id2, round(sim, 4) AS sim
        |FROM scored WHERE sim >= 0.6 ORDER BY id1, id2""".stripMargin),
    // SemDeDup-shape semantic dedup: fixed-centroid clustering, then
    // keep-lowest-id within-cell cosine dedup
    Entry("dedup_semantic", (s, dir) =>
      Dedup.semanticDedup(Tables.embeddings(s, dir))
        .orderBy(col("vec_id")),
      // semantic-dedup twin: the same fixed-centroid assignment as the
      // ann_ivf_fixed oracle (ties to the HIGHEST cell), then a vector is
      // dropped iff some lower-id vector in its cell clears the cosine
      // threshold
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ctr AS (SELECT * FROM (VALUES
        |   ${ivfCentroidValuesSql(16, 64)}) t(cell, c)),
        |scored AS (
        | SELECT id, cell, list_cosine_similarity(e, c) AS s FROM v CROSS JOIN ctr),
        |assigned AS (
        | SELECT id, cell FROM (
        |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY s DESC, cell DESC) AS rn
        |  FROM scored) WHERE rn = 1),
        |dropped AS (
        | SELECT DISTINCT a.id
        | FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.id < a.id
        | JOIN v v1 ON v1.id = a.id JOIN v v2 ON v2.id = b.id
        | WHERE list_cosine_similarity(v1.e, v2.e) >= 0.35)
        |SELECT a.id AS vec_id, CAST(a.cell AS BIGINT) AS cell,
        | (d.id IS NOT NULL) AS dropped
        |FROM assigned a LEFT JOIN dropped d ON d.id = a.id
        |ORDER BY vec_id""".stripMargin),
    Entry("ann_ivf_fixed", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfFixedTopK(e.where(col("vec_id") < 8), e, 10)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      // fixed-centroid IVF twin: the ±1 centroid literals come from the
      // same splitmix64 chain as Similarity.fixedCentroids; assignment
      // ties break to the HIGHEST cell (max struct order), probe ties to
      // the LOWEST cell (TopKBuffer order: score DESC, id ASC)
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ctr AS (SELECT * FROM (VALUES
        |   ${ivfCentroidValuesSql(16, 64)}) t(cell, c)),
        |scored AS (
        | SELECT id, cell, list_cosine_similarity(e, c) AS s FROM v CROSS JOIN ctr),
        |assigned AS (
        | SELECT id, cell FROM (
        |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY s DESC, cell DESC) AS rn
        |  FROM scored) WHERE rn = 1),
        |qprobe AS (
        | SELECT id AS q_id, cell FROM (
        |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY s DESC, cell ASC) AS rn
        |  FROM scored WHERE id < 8) WHERE rn <= 4),
        |cand AS (
        | SELECT DISTINCT q_id, a.id AS c_id
        | FROM qprobe p JOIN assigned a ON p.cell = a.cell WHERE p.q_id <> a.id),
        |rescored AS (
        | SELECT q_id, c_id, list_cosine_similarity(v1.e, v2.e) AS s
        | FROM cand JOIN v v1 ON v1.id = q_id JOIN v v2 ON v2.id = c_id),
        |ranked AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM rescored)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // per-label centroid + each vector's cosine to its own centroid
    // (semantic outlier score); centroid = ONE O(dim)-state aggregate
    // (graft_vec_sum), broadcast back — embeddings never shuffle
    Entry("embed_centroid", (s, dir) =>
      EmbeddingStats.centroidCosine(Tables.embeddings(s, dir))
        .orderBy(col("vec_id")),
      // centroid twin: per-(label, pos) avg over zipped unnests, rounded
      // to 6 like the operator's centroid (absorbing double-summation
      // order), list reassembled in pos order, cosine rounded to 4
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |u AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e)+1)) AS pos FROM v),
        |c AS (SELECT label, pos, round(avg(x), 6) AS m FROM u GROUP BY 1, 2),
        |ctr AS (SELECT label, list(m ORDER BY pos) AS c FROM c GROUP BY label)
        |SELECT v.vec_id, v.label,
        | round(list_cosine_similarity(v.e, ctr.c), 4) + 0 AS c_cos
        |FROM v JOIN ctr USING (label) ORDER BY vec_id""".stripMargin),
    // exact dim-covariance matrix: integer-quantized DECIMAL sums
    // (order-independent), closed-form cov over exact sums
    Entry("embed_cov", (s, dir) =>
      EmbeddingStats.covarianceMatrix(Tables.embeddings(s, dir)),
      // covariance twin: identical round(x·1e6) integer quantization,
      // exact DECIMAL sums, the same closed-form double formula; the
      // trailing + 0 folds DuckDB's IEEE -0.0 into +0.0 (Spark's
      // BigDecimal round never emits a signed zero)
      """WITH dims AS (
        | SELECT id, CAST(pos AS BIGINT) - 1 AS i,
        |  CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS DECIMAL(38,0)) AS xq
        | FROM (SELECT vec_id AS id, unnest(embedding) AS x,
        |              unnest(range(1, len(embedding)+1)) AS pos FROM embeddings)),
        |marg AS (SELECT i, sum(xq) AS sx, count(*) AS n FROM dims GROUP BY i),
        |p AS (
        | SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS sxy
        | FROM dims a JOIN dims b ON a.id = b.id AND a.i <= b.i
        | GROUP BY 1, 2)
        |SELECT p.i, p.j,
        | round((CAST(ma.n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(ma.sx AS DOUBLE) * CAST(mb.sx AS DOUBLE)) /
        |       (CAST(ma.n AS DOUBLE) * CAST(ma.n AS DOUBLE) * 1e12), 6) + 0 AS cov
        |FROM p JOIN marg ma ON ma.i = p.i JOIN marg mb ON mb.i = p.j
        |ORDER BY p.i, p.j""".stripMargin),
    // top-PC projection: integer power iteration on the d×d matrix
    // (bounded metadata), per-row exact-long dot inside the scan
    Entry("embed_pca", (s, dir) =>
      EmbeddingStats.pcaProjection(Tables.embeddings(s, dir)),
      // PCA twin: 8 unrolled integer power-iteration rounds + the
      // integer dot projection (pcaOracleSql)
      pcaOracleSql(8)),
    // X196: all-but-the-top post-processing — removed top-PC
    // coefficient + residual norm per vector (Mu & Viswanath 2018)
    Entry("embed_abtt", (s, dir) =>
      EmbeddingStats.allButTop(Tables.embeddings(s, dir)),
      abttOracleSql(8)),
    // scalar int8 quantization summary: codes pinned via saturation
    // count + code sum, plus the original↔dequantized cosine retention
    Entry("embed_quantize", (s, dir) =>
      Quantization.quantizeSummary(Tables.embeddings(s, dir))
        .orderBy(col("vec_id")),
      // int8 twin: same max-abs half-up quantization (identical double
      // op order: x/maxabs*127+0.5, then code·(maxabs/127)), then the
      // exact-top-k pipeline over the dequantized vectors
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max([abs(x) for x in e]) AS maxabs FROM v),
        |q AS (
        | SELECT vec_id, e, maxabs,
        |  CASE WHEN maxabs = 0 THEN [0 for x in e]
        |   ELSE [CAST(floor(x / maxabs * 127 + 0.5) AS INT) for x in e] END AS qv
        | FROM m)
        |SELECT vec_id,
        | CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
        | CAST(list_sum(qv) AS BIGINT) AS sum_q,
        | round(maxabs / 127, 6) AS scale,
        | round(list_cosine_similarity(e,
        |   [CAST(x AS DOUBLE) * (maxabs / 127) for x in qv]), 4) AS cos_ret
        |FROM q ORDER BY vec_id""".stripMargin),
    // the ANN family running unchanged over the compressed store:
    // exact top-k over dequantized int8 vectors (the 4×-less-memory
    // scale path; recall vs float32 exact is pinned in the spec)
    Entry("ann_int8", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          Quantization.dequantized(e.where(col("vec_id") < 8)),
          Quantization.dequantized(e), 10)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max([abs(x) for x in e]) AS maxabs FROM v),
        |dq AS (
        | SELECT vec_id,
        |  CASE WHEN maxabs = 0 THEN [CAST(0 AS DOUBLE) for x in e]
        |   ELSE [CAST(floor(x / maxabs * 127 + 0.5) AS INT) * (maxabs / 127) for x in e]
        |  END AS e
        | FROM m),
        |q AS (SELECT vec_id AS q_id, e AS qv FROM dq WHERE vec_id < 8),
        |c AS (SELECT vec_id AS c_id, e AS cv FROM dq),
        |scored AS (
        | SELECT q_id, c_id, list_cosine_similarity(qv, cv) AS s
        | FROM q CROSS JOIN c WHERE q_id <> c_id),
        |ranked AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM scored)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // product quantization: 8 nibble codes per 64-dim vector (64× vs
    // float32); ADC scoring via broadcast per-query LUTs + graft_topk
    Entry("ann_pq", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      ProductQuantization.adcTopK(e.where(col("vec_id") < 8), e, 10)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      // PQ twin: same ±1 codebooks as VALUES; assignment ties (s DESC,
      // code DESC) match max(struct(s, code)); ADC = Σ_j lut[j, code_j]
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cb AS (SELECT * FROM (VALUES
        |   ${pqCodebookValuesSql(8, 16, 8)}) t(j, code, cvec)),
        |sub AS (
        | SELECT vec_id AS id, js.j, e[js.j*8+1 : js.j*8+8] AS sub
        | FROM v CROSS JOIN (SELECT DISTINCT j FROM cb) js),
        |scored AS (
        | SELECT id, j, code, list_cosine_similarity(sub, cvec) AS s
        | FROM sub JOIN cb USING (j)),
        |assigned AS (
        | SELECT id, j, code FROM (
        |  SELECT id, j, code,
        |   row_number() OVER (PARTITION BY id, j ORDER BY s DESC, code DESC) AS rn
        |  FROM scored) WHERE rn = 1),
        |lutw AS (
        | SELECT q.id AS q_id, cb.j, cb.code, list_dot_product(q.sub, cb.cvec) AS w
        | FROM sub q JOIN cb ON cb.j = q.j WHERE q.id < 8),
        |adc AS (
        | SELECT l.q_id, a.id AS c_id, sum(l.w) AS s
        | FROM assigned a JOIN lutw l ON l.j = a.j AND l.code = a.code
        | WHERE l.q_id <> a.id GROUP BY 1, 2),
        |ranked AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM adc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // MMR-diversified retrieval: top-20 pool re-ranked so each pick
    // trades relevance against redundancy; greedy runs as the per-row
    // graft_mmr kernel — zero shuffle beyond the m-row pool gather
    Entry("ann_mmr", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.mmrTopK(e.where(col("vec_id") < 8), e, k = 8, m = 20, lambda = 0.7)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      mmrOracleSql(k = 8, m = 20, lambda = 0.7)),
    // IVF-PQ: probe-restricted ADC — cells bound WHICH candidates are
    // scored, codes bound the BYTES per candidate; the composed index
    // a billion-vector deployment actually runs
    Entry("ann_ivf_pq", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      ProductQuantization.ivfPqTopK(e.where(col("vec_id") < 8), e, 10)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      // IVF-PQ twin: the ann_ivf_fixed cell CTEs (assignment ties s
      // DESC, cell DESC; probe ties s DESC, cell ASC) composed with the
      // ann_pq code/LUT CTEs; candidates outside probed cells never
      // reach the ADC sum
      s"""$ivfPqAdcRankedSql
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // two-stage retrieval: IVF-PQ nominates a top-30 pool per query,
    // the pool alone re-scores exactly against the full vectors
    Entry("ann_rerank", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      ProductQuantization.rerankTopK(e.where(col("vec_id") < 8), e, 10, poolSize = 30)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      // two-stage twin: the ADC ranking above nominates the top-30 pool,
      // the pool re-scores against the full vectors exactly
      s"""$ivfPqAdcRankedSql,
        |pool AS (SELECT q_id, c_id FROM ranked WHERE rank <= 30),
        |ex AS (
        | SELECT p.q_id, p.c_id, list_cosine_similarity(vq.e, vc.e) AS s
        | FROM pool p JOIN v vq ON vq.vec_id = p.q_id
        | JOIN v vc ON vc.vec_id = p.c_id),
        |rr AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM ex)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM rr WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Entry("ann_bruteforce", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e.where(col("vec_id") < 8), e, 10)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      // exact twin: all-pairs cosine + top-10 per query, ties broken
      // (score DESC, c_id ASC) like the TopKBuffer total order
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        | SELECT q_id, c_id, list_cosine_similarity(qv, cv) AS s
        | FROM q CROSS JOIN c WHERE q_id <> c_id),
        |ranked AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM scored)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // filtered vector search: the metadata predicate applies BEFORE
    // scoring (pre-filter), so top-k is exact within the filtered set
    // — post-filtering a global top-k silently under-fills k; the
    // label predicate reaches the parquet scan (PushedFilters)
    Entry("ann_filtered", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e.where(col("vec_id") < 8), e.where(col("label") <= 2), 10)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings WHERE label <= 2),
        |scored AS (
        | SELECT q_id, c_id, list_cosine_similarity(qv, cv) AS s
        | FROM q CROSS JOIN c WHERE q_id <> c_id),
        |ranked AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM scored)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Entry("ann_lsh", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopK(e.where(col("vec_id") < 8), e, 10)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      // full-pipeline twin of Similarity.lshTopK: SRP banding + exact
      // bucket + flip-one-bit multiprobe, distinct candidates, exact
      // cosine, top-10 per query
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |bits AS (SELECT id, e, ${srpBitsSql(16, 64)} FROM v),
        |banded AS (${srpBandedSql(16, 4)}),
        |qb AS (SELECT id AS q_id, band, bhash FROM banded WHERE id < 8),
        |qprobe AS (
        | SELECT q_id, band, bhash FROM qb
        | UNION ALL SELECT q_id, band, xor(bhash, 1) FROM qb
        | UNION ALL SELECT q_id, band, xor(bhash, 2) FROM qb
        | UNION ALL SELECT q_id, band, xor(bhash, 4) FROM qb
        | UNION ALL SELECT q_id, band, xor(bhash, 8) FROM qb),
        |cand AS (
        | SELECT DISTINCT q_id, b.id AS c_id
        | FROM qprobe p JOIN banded b ON p.band = b.band AND p.bhash = b.bhash
        | WHERE p.q_id <> b.id),
        |scored AS (
        | SELECT q_id, c_id, list_cosine_similarity(v1.e, v2.e) AS s
        | FROM cand JOIN v v1 ON v1.id = q_id JOIN v v2 ON v2.id = c_id),
        |ranked AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM scored)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Entry("ann_ivf", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // one Lloyd pass here: the entry rebuilds the index per call,
      // whereas a real deployment amortizes the build over many queries
      Similarity.ivfTopK(e.where(col("vec_id") < 8), e, 10, iters = 1)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
                round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    },
      // data-adapted IVF twin — expressible because the entry's k-means
      // is ONE deterministic Lloyd pass: seeds = 16 lowest-id vectors,
      // assignment ties to the HIGHEST cell (max-struct), per-(cell,pos)
      // means rounded to 6 (the operator's own run-to-run stabilizer),
      // memberless cells keep their seed, probe ties to the LOWEST cell
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |seeds AS (
        | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS c
        | FROM v ORDER BY vec_id LIMIT 16),
        |a0 AS (
        | SELECT vec_id, cell FROM (
        |  SELECT v.vec_id, s.cell,
        |   row_number() OVER (PARTITION BY v.vec_id
        |    ORDER BY list_cosine_similarity(v.e, s.c) DESC, s.cell DESC) AS rn
        |  FROM v CROSS JOIN seeds s) WHERE rn = 1),
        |mm AS (
        | SELECT cell, unnest(e) AS x, unnest(range(1, len(e)+1)) AS pos
        | FROM a0 JOIN v USING (vec_id)),
        |m AS (SELECT cell, pos, round(avg(x), 6) AS mu FROM mm GROUP BY 1, 2),
        |refined AS (SELECT cell, list(mu ORDER BY pos) AS c FROM m GROUP BY cell),
        |ctr AS (
        | SELECT s.cell, coalesce(r.c, s.c) AS c
        | FROM seeds s LEFT JOIN refined r USING (cell)),
        |assigned AS (
        | SELECT vec_id AS id, cell FROM (
        |  SELECT v.vec_id, t.cell,
        |   row_number() OVER (PARTITION BY v.vec_id
        |    ORDER BY list_cosine_similarity(v.e, t.c) DESC, t.cell DESC) AS rn
        |  FROM v CROSS JOIN ctr t) WHERE rn = 1),
        |qprobe AS (
        | SELECT vec_id AS q_id, cell FROM (
        |  SELECT v.vec_id, t.cell,
        |   row_number() OVER (PARTITION BY v.vec_id
        |    ORDER BY list_cosine_similarity(v.e, t.c) DESC, t.cell ASC) AS rn
        |  FROM v CROSS JOIN ctr t WHERE v.vec_id < 8) WHERE rn <= 4),
        |cand AS (
        | SELECT DISTINCT q_id, a.id AS c_id
        | FROM qprobe p JOIN assigned a ON p.cell = a.cell WHERE p.q_id <> a.id),
        |rescored AS (
        | SELECT q_id, c_id, list_cosine_similarity(v1.e, v2.e) AS s
        | FROM cand JOIN v v1 ON v1.vec_id = q_id JOIN v v2 ON v2.vec_id = c_id),
        |ranked AS (
        | SELECT q_id, c_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rank
        | FROM rescored)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(s, 4) AS score
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Entry("text_langid", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(TextFunctions.langIdText(col("text")).as("detected"))
        .agg(count(lit(1)).as("n")).orderBy(col("detected")),
      // stopword-profile scoring twin of the LangIdKernel: per-language
      // hit counts over whitespace tokens, highest score wins, ties to
      // the lexicographically greatest code, zero hits → 'und'
      s"""WITH t AS (
        | SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS toks
        | FROM documents),
        |s AS (SELECT
        |  $langidScoresSql
        | FROM t)
        |SELECT $langidWinnerSql AS detected, count(*) AS n
        |FROM s GROUP BY 1 ORDER BY detected""".stripMargin),
    Entry("text_quality", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), col("text"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("lang"),
          TextFunctions.punctRatio(col("text")).as("pr"),
          TextFunctions.stopwordRatioFromTokens(col("toks"), TextFunctions.Stopwords.en).as("sr"),
          TextFunctions.repetitionRatioFromTokens(col("toks")).as("rr"),
          size(col("toks")).as("tc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("pr")), 4).as("avg_punct"),
          round(avg(col("sr")), 4).as("avg_stop"),
          round(avg(col("rr")), 4).as("avg_rep"),
          round(avg(col("tc")), 4).as("avg_tokens"))
        .orderBy(col("lang")),
      """WITH t AS (
        | SELECT lang, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS toks,
        |  len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | round(avg(CASE WHEN len(text) > 0 THEN CAST(n_punct AS DOUBLE)/len(text) ELSE 0 END), 4) AS avg_punct,
        | round(avg(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, tok -> list_contains(['the','a','an','and','of','to','in','is','that','it','for','was'], lower(tok)))) AS DOUBLE)/len(toks) ELSE 0 END), 4) AS avg_stop,
        | round(avg(CASE WHEN len(toks) > 0 THEN 1 - CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks) ELSE 0 END), 4) AS avg_rep,
        | round(avg(len(toks)), 4) AS avg_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    Entry("text_tokens", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_ws"),
          TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin),
    // the composed Gopher-style quality GATE as a per-(lang, source)
    // funnel: per-rule reject counts + survivors
    Entry("quality_filter", (s, dir) =>
      graft.operators.TextStats.qualityFunnel(Tables.documents(s, dir))
        .orderBy(col("lang"), col("source")),
      // quality-funnel twin: string 2-grams stand in for the kernel's
      // hashed grams (identical multiplicities barring 64-bit collisions)
      """WITH t AS (
        | SELECT lang, source, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS tk
        | FROM documents WHERE text IS NOT NULL),
        |g AS (
        | SELECT lang, source, text, tk,
        |  CASE WHEN len(tk) >= 2 THEN (
        |   SELECT max(c) FROM (
        |    SELECT count(*) AS c
        |    FROM unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS u(gr)
        |    GROUP BY gr)) ELSE 1 END AS topg,
        |  CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 1 END AS totg
        | FROM t),
        |s AS (
        | SELECT lang, source, len(tk) AS tc,
        |  CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, tok -> list_contains(['the','a','an','and','of','to','in','is','that','it','for','was'], lower(tok)))) AS DOUBLE)/len(tk) ELSE 0 END AS sr,
        |  CASE WHEN len(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)/len(text) ELSE 0 END AS pr,
        |  CAST(topg AS DOUBLE)/totg AS tg
        | FROM g)
        |SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN NOT(tc < 30 OR tc > 10000) AND tg <= 0.10 AND sr >= 0.03 AND pr <= 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        | CAST(sum(CASE WHEN tc < 30 OR tc > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
        | CAST(sum(CASE WHEN tg > 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
        | CAST(sum(CASE WHEN sr < 0.03 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
        | CAST(sum(CASE WHEN pr > 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS n_punct
        |FROM s GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    Entry("text_fingerprint", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
        .orderBy(col("doc_id")),
      OracleHashSql.fingerprintSql()),
    Entry("mm_decode_stats", graft.multimodal.Multimodal.decodeStats _,
      // strlen = BYTE length (the Spark side derives features from the
      // UTF-8 payload's byte count); DuckDB len() counts characters and
      // only coincides on ASCII testdata
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        | count(*) AS n,
        | round(avg(16 + (strlen(text) % 317)), 4) AS avg_w,
        | round(avg(16 + ((strlen(text) * 7) % 211)), 4) AS avg_h,
        | CAST(sum(CASE WHEN doc_id % 3 = 2 THEN 1 + (strlen(text) % 5) ELSE 1 END) AS BIGINT) AS sum_frames,
        | CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes
        |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin),
    // audio modality path: per-clip amplitude stats from the stub PCM
    // decode (bytes as unsigned 8-bit samples)
    Entry("mm_audio_stats", (s, dir) =>
      graft.multimodal.Multimodal.audioStats(s, dir)
        .orderBy(col("media_id")),
      // audio twin: payloads are the ASCII text bytes, so the stub PCM
      // stats recompute from ascii() codes; exact-integer sums divide to
      // the identical double before rounding
      """WITH a AS (
        | SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 1),
        |b AS (
        | SELECT media_id, strlen(text) AS n,
        |  [ascii(text[i]) for i in range(1, strlen(text) + 1)] AS bs
        | FROM a)
        |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
        | CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
        | round(CASE WHEN n > 0 THEN list_sum(bs) * 1.0 / n ELSE 0.0 END, 4) AS mean_amp,
        | round(CASE WHEN n > 0 THEN len(list_filter(bs, x -> x >= 120)) * 1.0 / n ELSE 0.0 END, 4) AS clip_frac
        |FROM b ORDER BY media_id""".stripMargin),
    // frame-sample plumbing: every-2nd-frame fan-out per video inside
    // mapPartitions batches; summarized per media row (the stub frame
    // digest is 64-bit-hash-valued, so the oracle checks the fan-out
    // structure — counts and last sampled index — not the digest)
    Entry("mm_frame_sample", (s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
          graft.multimodal.Multimodal.mediaFromDocuments(s, dir)).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("last_idx"))
        .orderBy(col("media_id")),
      // frame-sample twin: stub frame count (videos: 1 + bytes%5, else
      // 1), every-2nd-frame sampling → ceil(n/2) frames, last idx is the
      // greatest even index below n
      """WITH m AS (
        | SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 1 + (strlen(text) % 5) ELSE 1 END AS n_frames
        | FROM documents)
        |SELECT media_id, CAST((n_frames + 1) // 2 AS BIGINT) AS n_sampled,
        | CAST(((n_frames - 1) // 2) * 2 AS INTEGER) AS last_idx
        |FROM m ORDER BY media_id""".stripMargin),
    Entry("q_sessionize", (s, dir) =>
      graft.streaming.Sessionize.batch(Tables.events(s, dir), gapMinutes = 480),
      """WITH f AS (
        | SELECT user_id, ts, value, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 28800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM events),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        | round(sum(value), 2) AS total_value,
        | (max(us) - min(us)) / 1e6 AS duration_secs
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    Entry("q_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.lastValueAsOf(ev, purchases, "user_id", "ts", "value", "last_purchase")
        .select(col("event_id"), col("user_id"), col("event_type"),
                round(col("last_purchase"), 2).as("last_purchase"))
        .orderBy(col("event_id"))
    },
      """SELECT l.event_id, l.user_id, l.event_type, round(r.value, 2) AS last_purchase
        |FROM events l ASOF LEFT JOIN
        | (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        | ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),
    // X181: as-of with a 48 h staleness tolerance — the backward match
    // voids when older than the tolerance (filter after the window,
    // never a join predicate)
    Entry("q_asof_tolerance", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.lastValueAsOfWithin(ev, purchases, "user_id", "ts", "value",
          "recent_purchase", 172800000000L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("recent_purchase"), 2).as("recent_purchase"))
        .orderBy(col("event_id"))
    },
      // tolerance twin: the plain ASOF pick, voided by the same
      // integer-microsecond staleness CASE the operator applies
      """SELECT l.event_id, l.user_id, l.event_type,
        | round(CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 172800000000
        |   THEN r.value END, 2) AS recent_purchase
        |FROM events l ASOF LEFT JOIN
        | (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        | ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),
    // X180: per-user time-weighted average value
    Entry("q_twap", graft.operators.TimeSeries.twapPerUser _,
      // TWAP twin: identical lead-duration weighting with the same
      // DECIMAL-exact value×microseconds sum
      """WITH e AS (
        | SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
        | FROM events),
        |d AS (SELECT user_id, v, epoch_us(nts) - epoch_us(ts) AS dur
        |      FROM e WHERE nts IS NOT NULL)
        |SELECT user_id,
        | round(CAST(sum(v * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE), 6) AS twap,
        | CAST(sum(dur) AS BIGINT) AS span
        |FROM d GROUP BY user_id HAVING sum(dur) > 0 ORDER BY user_id""".stripMargin),
    // forward as-of: next purchase at-or-after each event — the
    // mirrored one-exchange union+window, inclusive at equal ts
    Entry("q_asof_forward", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.firstValueAsOfForward(ev, purchases, "user_id", "ts", "value", "next_purchase")
        .select(col("event_id"), col("user_id"), col("event_type"),
                round(col("next_purchase"), 2).as("next_purchase"))
        .orderBy(col("event_id"))
    },
      // forward twin: DuckDB's native forward ASOF (l.ts <= r.ts picks
      // the nearest following purchase), inclusive at equal ts
      """SELECT l.event_id, l.user_id, l.event_type, round(r.value, 2) AS next_purchase
        |FROM events l ASOF LEFT JOIN
        | (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        | ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin),
    // nearest as-of: closer of before/after purchase, backward ties —
    // one sort serves both direction frames
    Entry("q_asof_nearest", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.nearestValueAsOf(ev, purchases, "user_id", "ts", "value", "nearest_purchase")
        .select(col("event_id"), col("user_id"), col("event_type"),
                round(col("nearest_purchase"), 2).as("nearest_purchase"))
        .orderBy(col("event_id"))
    },
      // nearest twin: both ASOF directions chained, CASE on exact
      // integer-microsecond distances, backward wins ties
      """SELECT l.event_id, l.user_id, l.event_type,
        | round(CASE
        |   WHEN b.ts IS NULL THEN f.value
        |   WHEN f.ts IS NULL THEN b.value
        |   WHEN epoch_us(l.ts) - epoch_us(b.ts) <= epoch_us(f.ts) - epoch_us(l.ts)
        |     THEN b.value
        |   ELSE f.value END, 2) AS nearest_purchase
        |FROM events l
        | ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b
        |  ON l.user_id = b.user_id AND l.ts >= b.ts
        | ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') f
        |  ON l.user_id = f.user_id AND l.ts <= f.ts
        |ORDER BY l.event_id""".stripMargin),
    Entry("q_range_join", (s, dir) => {
      val intervals = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("bucket"),
        (col("n_nationkey") * 20.0).as("lo"),
        (col("n_nationkey") * 20.0 + 25.0).as("hi"))
      RangeJoin.pointInInterval(Tables.events(s, dir), "value", intervals, "lo", "hi",
          binWidth = 25.0)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("bucket"))
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS bucket, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events e JOIN nation n
        | ON e.value >= n.n_nationkey * 20.0 AND e.value < n.n_nationkey * 20.0 + 25.0
        |GROUP BY 1 ORDER BY bucket""".stripMargin),
    Entry("q_skew_agg", (s, dir) =>
      Skew.saltedSumCount(Tables.lineitem(s, dir), "l_returnflag", "l_quantity")
        .select(col("l_returnflag"), round(col("sum_value"), 2).as("sum_value"), col("n"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_value, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // salted shuffle join on a 3-value (maximally hot) key; the
    // above-average predicate is the rational q*n > sum form so the
    // threshold is FP-exact in both engines
    Entry("q_skew_join", (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_returnflag", "l_quantity")
      val flagTotals = li.groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_q"), count(lit(1)).as("n_q"))
      Skew.saltedJoin(li, flagTotals, "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") * col("n_q") > col("sum_q"), 1L)
            .otherwise(0L)).as("n_above"))
        .orderBy(col("l_returnflag"))
    },
      // skew-join twin: the salt is invisible to the result, so the
      // oracle is the plain join + rational above-average count
      """WITH ft AS (
        | SELECT l_returnflag, sum(l_quantity) AS sum_q, count(*) AS n_q
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        | CAST(sum(CASE WHEN l.l_quantity * ft.n_q > ft.sum_q THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM lineitem l JOIN ft USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin),
    // the X10 optimizer rule driver-gated: a 1200-literal IN list
    // (above the rewrite threshold) becomes range-prune + the
    // graft_doc_id_in membership kernel
    Entry("q_large_in", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_partkey").isin(largeInKeys: _*))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag")),
      // large-IN twin: the literal list verbatim — the rewrite must be
      // semantically invisible
      s"""SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_partkey IN (${largeInKeys.mkString(", ")})
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // the X11 bucketed layout driver-gated: both sides persisted
    // bucketBy(8, k) + sortBy, joined with zero exchange (asserted in
    // BucketedTablesSpec), then rolled up per customer
    Entry("q_bucketed_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("k"), col("l_quantity"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_custkey"))
      graft.sources.BucketedTables.write(li, "graft_q_bli", "k", 8)
      graft.sources.BucketedTables.write(ord, "graft_q_bord", "k", 8)
      graft.sources.BucketedTables.join(s, "graft_q_bli", "graft_q_bord", "k")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("o_custkey"))
    },
      // bucketed-join twin: bucketing is a layout property, invisible to
      // the result of the join + rollup
      """SELECT o_custkey, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // §2.2 relational core
    Entry("q_scan_filter", Relational.scanFilter _,
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM lineitem
        |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Entry("q1_agg", Relational.q1Agg _,
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Entry("q_join_broadcast", Relational.joinBroadcast _,
      """SELECT c_mktsegment, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Entry("q5_multijoin", Relational.multiJoin _,
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""".stripMargin),
    Entry("q_semi_anti", Relational.semiAnti _,
      """SELECT * FROM (
        |SELECT 'has_orders' AS kind, c_mktsegment, count(*) AS n FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'no_orders' AS kind, c_mktsegment, count(*) AS n FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment
        |) ORDER BY kind, c_mktsegment""".stripMargin),
    Entry("q_distinct", Relational.distinctCounts _,
      """SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_rows,
        | TRUE AS apx_parts_ok, TRUE AS apx_supps_ok, TRUE AS apx_orders_ok
        |FROM lineitem""".stripMargin),
    Entry("q_topk", Relational.topK _,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    Entry("q_window", Relational.windowFns _,
      """SELECT o_custkey, o_orderkey, rk, running FROM (
        | SELECT o_custkey, o_orderkey,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING),2) AS running
        | FROM orders)
        |WHERE rk <= 2 ORDER BY o_custkey, rk, o_orderkey""".stripMargin),
    Entry("q_window_nav", Relational.navWindow _,
      // navigation-window twin: the custkey filter selects whole window
      // partitions, so pre-window WHERE placement is equivalent
      """SELECT o_custkey, o_orderkey,
        | round(o_totalprice - lag(o_totalprice, 1)
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS prev_delta,
        | round(lead(o_totalprice, 1)
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - o_totalprice, 2) AS next_delta,
        | CAST(ntile(4)
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS quartile,
        | round(cume_dist()
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS cdist
        |FROM orders WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Entry("q_intersect_except", Relational.intersectExcept _,
      """SELECT 'both' AS rel, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'customers_only' AS rel, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT s_nationkey FROM supplier)
        |ORDER BY rel, nationkey""".stripMargin),
    Entry("q_full_outer", Relational.fullOuter _,
      """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |      FROM customer WHERE c_nationkey >= 5 GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |      FROM supplier WHERE s_nationkey < 10 GROUP BY 1) s
        |ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin),
    Entry("q_exists_subquery", Relational.existsSubquery _,
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),
    Entry("q_scalar_subquery", Relational.scalarSubquery _,
      """SELECT o_orderkey,
        | round(o_totalprice / (SELECT max(o_totalprice) FROM orders), 4) AS price_ratio
        |FROM orders
        |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),
    Entry("q_time_window", Relational.timeWindow _,
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        | count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    Entry("q_sliding_window", Relational.slidingWindow _,
      // sliding twin: the 4 window starts covering an event are the 6h
      // bucket floor minus i·6h for i in 0..3 (epoch-aligned like Spark)
      """SELECT strftime(to_timestamp((epoch_us(ts) // 21600000000 - i) * 21600),
        |        '%Y-%m-%d %H') AS win_start,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
    Entry("q_json_extract", Relational.jsonExtract _,
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract_string(props,'$.k') AS BIGINT)),4) AS avg_k,
        | CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Entry("q_explode_tokens", Relational.explodeTokens _,
      """SELECT token, count(*) AS n FROM (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0 GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),
    Entry("q_union_case", Relational.unionCase _,
      """SELECT src, bucket, count(*) AS n FROM (
        | SELECT 'orders' AS src,
        |  CASE WHEN o_totalprice > 300000 THEN 'hi' WHEN o_totalprice > 100000 THEN 'mid'
        |   ELSE 'lo' END AS bucket FROM orders
        | UNION ALL
        | SELECT 'lineitem' AS src,
        |  CASE WHEN l_quantity >= 40 THEN 'hi' WHEN l_quantity >= 15 THEN 'mid'
        |   ELSE 'lo' END AS bucket FROM lineitem)
        |GROUP BY src, bucket ORDER BY src, bucket""".stripMargin),
    Entry("q_rollup", Relational.rollupAgg _,
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),
    Entry("q_grouped_topk", (s, dir) =>
      Relational.groupedTopK(s, dir).orderBy(col("c_mktsegment"), col("rank")),
      // window row_number twin of the bounded-heap aggregate; identical
      // (score DESC, id ASC) total order as TopKBuffer
      """SELECT c_mktsegment, CAST(rn AS BIGINT) AS rank, o_orderkey,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM (
        | SELECT c_mktsegment, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rn <= 3 ORDER BY c_mktsegment, rank""".stripMargin),
    Entry("q_cube", Relational.cubeAgg _,
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),
    Entry("q_pivot", Relational.pivotLangCounts _,
      """SELECT source,
        | count(*) FILTER (WHERE lang = 'de') AS de,
        | count(*) FILTER (WHERE lang = 'en') AS en,
        | count(*) FILTER (WHERE lang = 'es') AS es,
        | count(*) FILTER (WHERE lang = 'fr') AS fr,
        | count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Entry("q_unpivot", Relational.unpivotLangCounts _,
      // unpivot twin: the melt preserves the dense grid, so absent
      // (source, lang) combos come back as explicit n=0 rows via the
      // source × value-list cross join
      """WITH s AS (SELECT DISTINCT source FROM documents),
        |l AS (SELECT unnest(['de', 'en', 'es', 'fr', 'zh']) AS lang),
        |c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT s.source, l.lang, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM s CROSS JOIN l LEFT JOIN c USING (source, lang)
        |ORDER BY source, lang""".stripMargin),
    // keyed upsert: +100 balance on keys %10=3 (updates), re-keyed
    // copies of keys %50=0 (inserts); everything else carries over
    Entry("q_upsert", (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val updates = c.where(col("c_custkey") % 10 === 3)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100.0, 2))
      val inserts = c.where(col("c_custkey") % 50 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
      Relational.upsert(c, updates.unionByName(inserts), "c_custkey")
        .select(col("c_custkey"), col("row.c_name").as("c_name"),
          col("row.c_acctbal").as("c_acctbal"),
          col("row.c_mktsegment").as("c_mktsegment"), col("status"))
        .orderBy(col("c_custkey"))
    },
      // upsert twin: same derived batch; batch-wins = column coalesce
      // (batch payloads are never null, so struct coalesce == per-column)
      """WITH base AS (
        | SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |up AS (
        | SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
        | FROM base WHERE c_custkey % 10 = 3),
        |ins AS (
        | SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal, c_mktsegment
        | FROM base WHERE c_custkey % 50 = 0),
        |batch AS (SELECT * FROM up UNION ALL SELECT * FROM ins)
        |SELECT coalesce(b.c_custkey, t.c_custkey) AS c_custkey,
        | coalesce(t.c_name, b.c_name) AS c_name,
        | coalesce(t.c_acctbal, b.c_acctbal) AS c_acctbal,
        | coalesce(t.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
        | CASE WHEN t.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL THEN 'updated'
        |      WHEN b.c_custkey IS NULL THEN 'inserted'
        |      ELSE 'kept' END AS status
        |FROM base b FULL OUTER JOIN batch t ON b.c_custkey = t.c_custkey
        |ORDER BY c_custkey""".stripMargin),
    Entry("q_range_frame", Relational.rangeFrameWindow _,
      // RANGE frame twin: identical micros order key and 7-day bound;
      // value through DECIMAL so the frame sum is exact in both engines
      """SELECT user_id, event_id,
        | CAST(count(*) OVER w AS BIGINT) AS n_7d,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        | RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |QUALIFY user_id % 10 = 0
        |ORDER BY user_id, event_id""".stripMargin),
    Entry("q_quantiles", Relational.quantiles _,
      // quantile_cont = the same (1-f)·lower + f·upper linear
      // interpolation at rank p·(n-1) Spark's exact `percentile` uses
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // X183: robust location — exact [p10, p90] band, DECIMAL-exact
    // filtered mean; the bounds broadcast back (|groups| rows)
    Entry("q_trimmed_mean", Relational.trimmedMeanPerGroup _,
      // trimmed-mean twin: same exact [p10, p90] band (quantile_cont ==
      // Spark percentile interpolation), DECIMAL sum for the mean
      """WITH b AS (
        | SELECT l_returnflag, quantile_cont(l_extendedprice, 0.1) AS lo,
        |        quantile_cont(l_extendedprice, 0.9) AS hi
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n_kept,
        | round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   / count(*), 4) AS trimmed_mean
        |FROM lineitem l JOIN b USING (l_returnflag)
        |WHERE l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin),
    // ANALYZE-style per-column profile; exact distincts WITHOUT the
    // count(DISTINCT) Expand — two chained aggregations per column
    Entry("stats_profile", (s, dir) =>
      Relational.profileColumns(Tables.lineitem(s, dir),
          Seq("l_discount", "l_extendedprice", "l_quantity", "l_returnflag"))
        .orderBy(col("col_name")),
      // profile twin: TRY_CAST mirrors Spark's null-on-failure string→
      // double cast for the non-numeric column's min/max
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_returnflag").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           | TRY_CAST(min($c) AS DOUBLE) AS min_v,
           | TRY_CAST(max($c) AS DOUBLE) AS max_v,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    Entry("q_histogram", (s, dir) => Relational.histogram(s, dir),
      """SELECT CAST(floor(l_extendedprice / 5000.0) * 5000.0 AS BIGINT) AS bin,
        | count(*) AS n, round(avg(l_discount), 4) AS avg_disc
        |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin),
    Entry("q_equidepth", (s, dir) => Relational.equiDepthHistogram(s, dir),
      // equi-depth twin: same rounded quantile_cont boundaries, bucket =
      // count of boundaries strictly below the value
      s"""WITH bs AS (
        | SELECT [${(1 until 8).map(i => s"round(quantile_cont(l_extendedprice, ${i}.0/8), 4)").mkString(",\n   ")}] AS b
        | FROM lineitem),
        |bucketed AS (
        | SELECT len(list_filter(bs.b, x -> l_extendedprice > x)) AS bucket, l_extendedprice
        | FROM lineitem CROSS JOIN bs)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
        | round(min(l_extendedprice), 2) AS lo, round(max(l_extendedprice), 2) AS hi
        |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin),
    Entry("q_streaks", Relational.activityStreaks _,
      // gaps-and-islands twin: same day − row_number anchor construction
      """WITH days AS (
        | SELECT DISTINCT user_id, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
        | FROM events),
        |anch AS (
        | SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS anchor
        | FROM days),
        |streaks AS (
        | SELECT user_id, min(day) AS start_day, max(day) AS end_day, count(*) AS len
        | FROM anch GROUP BY user_id, anchor)
        |SELECT user_id, CAST(start_day AS BIGINT) AS start_day,
        | CAST(end_day AS BIGINT) AS end_day, len
        |FROM streaks WHERE len >= 3 ORDER BY user_id, start_day""".stripMargin),
    // X93: exact Jaccard-threshold pairs via prefix filtering (PPJoin)
    // — no LSH false negatives, no SNM sort-key assumption
    Entry("dedup_ppjoin", (s, dir) =>
      Dedup.ppjoinPairs(Tables.documents(s, dir), threshold = 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id1"), col("id2")),
      // PPJoin twin: same shingle universe as the snm twin, global
      // df-ascending prefix (|S| - ceil(t|S|) + 1), prefix-token
      // candidates, exact-Jaccard verify — prefix principle makes the
      // candidate set a superset of every j >= t pair, so the verified
      // output is the EXACT threshold join
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(t) >= 3
        |   THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |   ELSE [array_to_string(t, ' ')] END AS s
        | FROM toks),
        |tok AS (SELECT doc_id, unnest(s) AS tok FROM sh),
        |freq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
        |ranked AS (
        | SELECT t.doc_id, t.tok,
        |  row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS r,
        |  count(*) OVER (PARTITION BY t.doc_id) AS sz
        | FROM tok t JOIN freq f USING (tok)),
        |pref AS (SELECT doc_id, tok FROM ranked
        |         WHERE r <= sz - CAST(ceil(0.5 * sz) AS BIGINT) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |         FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |scored AS (
        | SELECT c.id1, c.id2,
        |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        |   (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS j
        | FROM cand c JOIN sh x ON x.doc_id = c.id1 JOIN sh y ON y.doc_id = c.id2)
        |SELECT id1, id2, round(j, 4) AS jaccard
        |FROM scored WHERE j >= 0.5 ORDER BY id1, id2""".stripMargin),
    // X94: per-group OLS regression from DECIMAL-exact co-moments
    Entry("stats_regression", Relational.regressionByType _,
      // OLS twin: identical DECIMAL-exact co-moment sums cast to double,
      // identical closed-form arithmetic — bit-equal before rounding
      """WITH b AS (
        | SELECT event_type,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |  CAST(value AS DECIMAL(18,2)) AS y
        | FROM events),
        |s AS (
        | SELECT event_type, count(*) AS n,
        |  CAST(count(*) AS DOUBLE) AS nd, CAST(sum(x) AS DOUBLE) AS sxd,
        |  CAST(sum(y) AS DOUBLE) AS syd, CAST(sum(y * x) AS DOUBLE) AS sxyd,
        |  CAST(sum(x * x) AS DOUBLE) AS sxxd, CAST(sum(y * y) AS DOUBLE) AS syyd
        | FROM b GROUP BY event_type),
        |d AS (
        | SELECT event_type, n,
        |  nd * sxyd - sxd * syd AS cov_n,
        |  nd * sxxd - sxd * sxd AS var_x,
        |  nd * syyd - syd * syd AS var_y,
        |  syd, sxd, nd
        | FROM s)
        |SELECT event_type, n,
        | round(cov_n / var_x, 6) AS slope,
        | round((syd - (cov_n / var_x) * sxd) / nd, 6) AS intercept,
        | round(cov_n * cov_n / (var_x * var_y), 6) AS r2
        |FROM d ORDER BY event_type""".stripMargin),
    // X95: daily calendar resample with forward fill
    Entry("q_resample", TimeSeries.resampleDaily _,
      // resample twin: per-type generate_series calendar, DECIMAL-exact
      // daily means, IGNORE NULLS last_value forward fill
      """WITH daily AS (
        | SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_v
        | FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day FROM span),
        |j AS (
        | SELECT g.event_type, g.day, coalesce(d.n, 0) AS n, d.avg_v
        | FROM grid g LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        | last_value(avg_v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_filled
        |FROM j ORDER BY event_type, day""".stripMargin),
    // X96: rolling z-score anomaly flags over a 20-row trailing frame
    Entry("q_rolling_anomaly", (s, dir) => TimeSeries.rollingAnomalies(s, dir),
      // rolling twin: identical 20-row frame on (epoch micros, event_id),
      // DECIMAL frame sums, identical double mean/variance arithmetic
      """WITH b AS (
        | SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS y, epoch_us(ts) AS tus
        | FROM events),
        |w AS (
        | SELECT event_type, event_id, y,
        |  count(*) OVER fr AS c,
        |  CAST(sum(y) OVER fr AS DOUBLE) AS s,
        |  CAST(sum(y * y) OVER fr AS DOUBLE) AS q
        | FROM b
        | WINDOW fr AS (PARTITION BY event_type ORDER BY tus, event_id
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |z AS (
        | SELECT event_type, event_id, y,
        |  (CAST(y AS DOUBLE) - s / c) / sqrt(q / c - (s / c) * (s / c)) AS z
        | FROM w
        | -- zero-variance frame => z undefined => not an anomaly (the
        | -- operator's `when(q > m*m)` guard; without it a constant run
        | -- at scale makes the double variance go 0-or-negative here)
        | WHERE c >= 15 AND q / c > (s / c) * (s / c))
        |SELECT event_type, event_id, round(CAST(y AS DOUBLE), 2) AS value, round(z, 4) AS z
        |FROM z WHERE abs(z) > 2.5 ORDER BY event_type, event_id""".stripMargin),
    // X97: first-touch ordered funnel view -> click -> purchase
    Entry("q_event_funnel", (s, dir) => TimeSeries.funnel(s, dir),
      // funnel twin: per-user first-touch timestamps, ordered-stage counts
      """WITH pu AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        | FROM events GROUP BY user_id),
        |c AS (
        | SELECT count(t1) AS u1,
        |  count(CASE WHEN t1 <= t2 THEN 1 END) AS u2,
        |  count(CASE WHEN t1 <= t2 AND t2 <= t3 THEN 1 END) AS u3
        | FROM pu)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, u1 AS users FROM c
        | UNION ALL SELECT 2, 'click', u2 FROM c
        | UNION ALL SELECT 3, 'purchase', u3 FROM c)
        |ORDER BY step""".stripMargin),
    // X190: finite-horizon EWMA of daily counts, integer-exact weights
    Entry("q_ewma", TimeSeries.ewmaDaily(_, _),
      // EWMA twin: same integer weights 7^j*10^(15-j) (HUGEINT products
      // mirror the engine's DECIMAL sums; only the final divide floats)
      ewmaOracleSql(16)),
    // X191: lag-1..7 autocorrelation of the daily count series
    Entry("q_autocorr", TimeSeries.autocorrDaily(_, _),
      // autocorr twin: mean-scaled integer deviations d = n*x - S; the
      // n^2 factor cancels in each num/den ratio
      {
        val lags = (1 to 7).map(k => s"lag(dv, $k) OVER w AS d$k").mkString(", ")
        val rs = (1 to 7).map(k =>
          s"round(CAST(sum(dv * d$k) AS DOUBLE) / CAST(sum(dv * dv) AS DOUBLE), 6) AS r$k")
          .mkString(",\n        | ")
        s"""WITH daily AS (
          | SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
          |  count(*) AS cnt
          | FROM events GROUP BY 1, 2),
          |tot AS (SELECT event_type, sum(cnt) AS s, count(*) AS n FROM daily GROUP BY 1),
          |dev AS (
          | SELECT d.event_type, d.day, CAST(t.n * d.cnt - t.s AS HUGEINT) AS dv
          | FROM daily d JOIN tot t USING (event_type)),
          |l AS (SELECT event_type, dv, $lags
          |      FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY day))
          |SELECT event_type,
          | $rs
          |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin
      }),
    // X192: monthly OHLC bars over the order-value series
    Entry("q_ohlc", TimeSeries.ohlcMonthly _,
      // OHLC twin: first/last by the (date, key) total order via two
      // row_numbers; DECIMAL-exact mean
      """WITH o AS (
        | SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
        |  o_orderdate, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p
        | FROM orders),
        |r AS (SELECT month, p,
        |  row_number() OVER (PARTITION BY month ORDER BY o_orderdate, o_orderkey) AS ra,
        |  row_number() OVER (PARTITION BY month ORDER BY o_orderdate DESC, o_orderkey DESC) AS rb
        | FROM o)
        |SELECT month,
        | CAST(max(CASE WHEN ra = 1 THEN p END) AS DOUBLE) AS open,
        | CAST(max(p) AS DOUBLE) AS high,
        | CAST(min(p) AS DOUBLE) AS low,
        | CAST(max(CASE WHEN rb = 1 THEN p END) AS DOUBLE) AS close,
        | count(*) AS n,
        | CAST((CAST(sum(p) * 10000 AS BIGINT) * 2 + count(*)) // (count(*) * 2)
        |   AS DOUBLE) / 10000.0 AS avg_price
        |FROM r GROUP BY month ORDER BY month""".stripMargin),
    // X195: per-day tie-aware Mann-Whitney AUC, purchase vs rest
    Entry("stats_auc", EventAnalytics.aucDaily(_, _),
      // AUC twin: identical distinct-cents cells, strictly-below running
      // negatives, HUGEINT numerator, one floating divide
      """WITH cells AS (
        | SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
        |  sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS q
        | FROM events GROUP BY 1, 2),
        |c2 AS (SELECT day, p, q,
        |  coalesce(sum(q) OVER (PARTITION BY day ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS qb
        | FROM cells),
        |t AS (SELECT day, sum(p) AS np, sum(q) AS nq FROM cells GROUP BY 1),
        |nm AS (SELECT day, sum(CAST(p AS HUGEINT) * (2 * qb + q)) AS num2 FROM c2 GROUP BY 1)
        |SELECT CAST(nm.day AS BIGINT) AS day,
        | CAST(np AS BIGINT) AS n_pos, CAST(nq AS BIGINT) AS n_neg,
        | round(CAST(num2 AS DOUBLE) / (2.0 * np * nq), 6) AS auc
        |FROM nm JOIN t USING (day) WHERE np > 0 AND nq > 0 ORDER BY day""".stripMargin),
    // X193: published Gopher quality ruleset, per-doc signals + verdict
    Entry("quality_gopher", (s, dir) =>
      TextStats.gopherRules(Tables.documents(s, dir)),
      // Gopher twin: the identical seven rules over the same token/line
      // splits; every ratio derived from integer counts
      """WITH t AS (
        | SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS tk,
        |  list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS ln
        | FROM documents WHERE text IS NOT NULL),
        |m AS (
        | SELECT doc_id,
        |  len(tk) AS n_words,
        |  list_sum(list_transform(tk, x -> len(x))) AS chars,
        |  len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
        |  len(list_filter(tk, x -> list_contains(
        |    ['the','be','to','of','and','that','have','with'], lower(x)))) AS n_stop,
        |  CAST((len(text) - len(replace(text, '#', ''))) +
        |       (len(text) - len(replace(text, '...', ''))) / 3 AS BIGINT) AS sym,
        |  len(ln) AS nl,
        |  len(list_filter(ln, x -> starts_with(x, '-') OR starts_with(x, '*')
        |      OR starts_with(x, '•'))) AS bull,
        |  len(list_filter(ln, x -> ends_with(x, '...'))) AS ell
        | FROM t)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        | round(CAST(chars AS DOUBLE) / greatest(n_words, 1), 4) AS mean_word_len,
        | round(CAST(alpha AS DOUBLE) / greatest(n_words, 1), 4) AS frac_alpha,
        | CAST(n_stop AS BIGINT) AS n_stop,
        | round(CAST(sym AS DOUBLE) / greatest(n_words, 1), 4) AS sym_ratio,
        | CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |   AND (CAST(chars AS DOUBLE) / greatest(n_words, 1)) BETWEEN 3.0 AND 10.0
        |   AND (CAST(alpha AS DOUBLE) / greatest(n_words, 1)) >= 0.8
        |   AND n_stop >= 2
        |   AND (CAST(sym AS DOUBLE) / greatest(n_words, 1)) <= 0.1
        |   AND CAST(bull AS DOUBLE) <= nl * 0.9
        |   AND CAST(ell AS DOUBLE) <= nl * 0.3
        |  THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin),
    // X194: token-coverage curve (vocab concentration ladder)
    Entry("text_coverage", (s, dir) =>
      TextStats.tokenCoverage(Tables.documents(s, dir)),
      // coverage twin: same (n DESC, tok) type ranking, same ladder
      """WITH tok AS (
        | SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |ty AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |        CAST(count(*) AS BIGINT) AS n_types FROM ty),
        |top AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk
        |        FROM ty ORDER BY n DESC, tok LIMIT 1000),
        |lad AS (SELECT k, CAST(sum(n) AS BIGINT) AS cum_tokens
        |        FROM top CROSS JOIN (SELECT unnest([1, 10, 100, 1000]) AS k) u
        |        WHERE rk <= k GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS k,
        | least(cum_tokens, total) AS cum_tokens, n_types,
        | round(CAST(cum_tokens AS DOUBLE) / total, 6) AS coverage
        |FROM lad CROSS JOIN tot ORDER BY k""".stripMargin),
    // X98: explicit GROUPING SETS ((lang, source), (lang), ())
    Entry("q_grouping_sets", Relational.groupingSetsAgg _,
      // grouping-sets twin: same three sets, same 'ALL' labels
      """SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
        | CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
        | count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang, source), (lang), ())
        |ORDER BY lang, source""".stripMargin),
    // X99: threshold (range) vector search — the ε-neighborhood query
    Entry("ann_range", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Similarity.rangeSearch(e.where(col("vec_id") < 8), e, 0.3)
        .select(col("q_id"), col("c_id"), round(col("score"), 4).as("score"))
        .orderBy(col("q_id"), col("c_id"))
    },
      // range-search twin: threshold on the UNROUNDED cosine, rounded
      // score only in the projection
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        | SELECT q_id, c_id, list_cosine_similarity(qv, cv) AS s
        | FROM q CROSS JOIN c WHERE q_id <> c_id)
        |SELECT q_id, c_id, round(s, 4) AS score
        |FROM scored WHERE s >= 0.3 ORDER BY q_id, c_id""".stripMargin),
    // X100: L13 driver-gated — the events stream replayed through the
    // real Structured Streaming engine (4 file-per-trigger
    // micro-batches, complete-mode memory sink) must equal the batch
    // aggregation the oracle computes
    Entry("q_stream_window", (s, dir) =>
      graft.streaming.EventStream.replayWindowedCounts(s, dir, batches = 4),
      // streaming-replay twin: the BATCH aggregation — the entry's
      // micro-batched incremental execution must converge to exactly
      // this (DECIMAL sums make the state merges split-invariant)
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        | count(*) AS n,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    // X101: X2 driver-gated — sessionization replayed through
    // flatMapGroupsWithState as 4 time-ranged micro-batches; open
    // sessions flushed via sentinel-advanced event-time timeouts; must
    // hash-match the batch running-break oracle
    Entry("q_stream_sessionize", (s, dir) =>
      graft.streaming.Replay.replaySessionize(s, dir, gapMinutes = 480, batches = 4),
      """WITH f AS (
        | SELECT user_id, ts, value, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 28800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM events),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        | round(sum(value), 2) AS total_value,
        | (max(us) - min(us)) / 1e6 AS duration_secs
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    // X102: X9 driver-gated — exact streaming dedup as a first-seen
    // stateful operator over 4 doc_id-ranged micro-batches; cross-batch
    // state suppression must reproduce the batch min-id-per-hash
    Entry("dedup_stream_exact", (s, dir) =>
      graft.streaming.Replay.replayExactDedup(s, dir, batches = 4),
      // streaming-dedup twin: first sighting of each content hash keeps
      // the min doc_id — with doc_id-ranged ascending batches the
      // first-seen batch holds the global min, so the batch form is exact
      """SELECT md5(text) AS h, min(doc_id) AS keeper_id
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin),
    // X174: the X101 sessionize replay with its state in the RocksDB
    // state store provider — the 100 TB configuration (state spills to
    // disk instead of growing the executor heap); must hash-match the
    // SAME batch oracle as the default-provider run, proving the
    // provider changes where state lives, never what it computes
    Entry("q_stream_sessionize_rocksdb", (s, dir) => {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // replaySessionize runs the stream to completion eagerly, so the
      // finally runs after every micro-batch has committed
      try graft.streaming.Replay.replaySessionize(s, dir, gapMinutes = 480, batches = 4)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    },
      // streaming-sessionize twin: the BATCH running-break sessionization
      // — the replayed flatMapGroupsWithState state machine must converge
      // to exactly these sessions (same 480-min gap as q_sessionize)
      // RocksDB-provider twin: the state store backend must be
      // result-invisible — same batch oracle as q_stream_sessionize
      """WITH f AS (
        | SELECT user_id, ts, value, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 28800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM events),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        | round(sum(value), 2) AS total_value,
        | (max(us) - min(us)) / 1e6 AS duration_secs
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    // X103: SCD type-2 history build (validity intervals from an
    // attribute-observation log; open versions close with a sentinel)
    Entry("q_scd2", Relational.scdType2 _,
      // scd2 twin: identical change-scan/version/interval build; status
      // via min() since a version's rows share one status by construction
      """WITH o AS (
        | SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |  CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |        OR lag(o_orderstatus) OVER w <> o_orderstatus THEN 1 ELSE 0 END AS chg
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |v AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS version FROM o),
        |g AS (SELECT o_custkey, version, min(o_orderstatus) AS status,
        |        min(o_orderdate) AS valid_from, count(*) AS n_orders
        |      FROM v GROUP BY 1, 2)
        |SELECT o_custkey, CAST(version AS BIGINT) AS version, status,
        | strftime(valid_from, '%Y-%m-%d') AS valid_from,
        | strftime(coalesce(lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version),
        |                   DATE '9999-12-31'), '%Y-%m-%d') AS valid_to,
        | n_orders
        |FROM g ORDER BY o_custkey, version""".stripMargin),
    // X177: point-in-time join — orders matched to the SCD2 version
    // covering their date, via the as-of machinery (no range join)
    Entry("q_scd2_join", Relational.scd2PointInTime _,
      // point-in-time twin: the covering interval re-derived as the
      // max version starting at-or-before each order's date (validity
      // ranges are gapless, so the two definitions coincide)
      """WITH o AS (
        | SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |  CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |        OR lag(o_orderstatus) OVER w <> o_orderstatus THEN 1 ELSE 0 END AS chg
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |v AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS version FROM o),
        |g AS (SELECT o_custkey, version, min(o_orderstatus) AS status,
        |        min(o_orderdate) AS valid_from FROM v GROUP BY 1, 2),
        |j AS (SELECT ord.o_orderkey, ord.o_custkey, ord.o_orderdate,
        |        h.version, h.status,
        |        row_number() OVER (PARTITION BY ord.o_orderkey
        |          ORDER BY h.version DESC) AS rr
        |      FROM orders ord JOIN g h
        |        ON h.o_custkey = ord.o_custkey AND h.valid_from <= ord.o_orderdate)
        |SELECT o_orderkey, o_custkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        | CAST(version AS BIGINT) AS version, status
        |FROM j WHERE rr = 1 ORDER BY o_orderkey""".stripMargin),
    // X178: cumulative distinct users per day via the first-seen
    // reformulation (running sum over a |days|-bounded table)
    Entry("q_cum_distinct", EventAnalytics.cumulativeDistinctUsers _,
      // cumulative-distinct twin: identical first-seen reformulation
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
        |nu AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        | CAST(coalesce(nu.new_users, 0) AS BIGINT) AS new_users,
        | CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY d.day
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM d LEFT JOIN nu USING (day) ORDER BY day""".stripMargin),
    // X179: cross-source near-dup contamination matrix over the LSH
    // pair stream
    Entry("dedup_cross_source", (s, dir) =>
      Dedup.crossSourcePairs(Tables.documents(s, dir)),
      // cross-source matrix twin: the same HUGEINT minhash pair chain,
      // nested as a subquery, rolled up by (least, greatest) source pair
      s"""WITH pairs AS (SELECT id1, id2 FROM (${OracleHashSql.minhashSql()}))
         |SELECT least(da.source, db.source) AS source_a,
         | greatest(da.source, db.source) AS source_b,
         | CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs JOIN documents da ON da.doc_id = pairs.id1
         | JOIN documents db ON db.doc_id = pairs.id2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // X104: 2-D Pareto frontier via distributive local-sweep +
    // tiny-global-merge; oracle is the NOT EXISTS dominance definition
    Entry("q_skyline", (s, dir) => graft.operators.Skyline.partFrontier(s, dir),
      // skyline twin: the quadratic NOT EXISTS dominance definition —
      // deliberately naive, it IS the semantics the sweep must reproduce
      """SELECT p_partkey, round(p_retailprice, 2) AS price,
        | CAST(p_size AS BIGINT) AS size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin),
    // X105: per-group mode, smallest-value tie-break
    Entry("q_mode", Relational.modePerGroup _,
      // mode twin: same two-level aggregate with the same tie-break
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY n DESC, l_quantity ASC) AS rr FROM c)
        |SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS mode_qty, n
        |FROM r WHERE rr = 1 ORDER BY l_returnflag""".stripMargin),
    // X106: greedy non-overlapping view->click->purchase subsequence
    // automaton per user (MATCH_RECOGNIZE-lite), histogram output
    Entry("q_sequence_count", (s, dir) => TimeSeries.sequenceCount(s, dir),
      // sequence-count twin: the same greedy automaton stepped one
      // event-index per recursive-CTE iteration (iterations = max events
      // per user, rows per iteration = users). NOT list_reduce: DuckDB
      // 1.0.0's list_reduce returns wrong results for this
      // sequentially-dependent lambda when evaluated over many rows at
      // once (full-table and single-row plans disagree on identical
      // input lists), so the oracle avoids it entirely. Same order key
      // (epoch_us, event_id) as the Spark sort_array.
      """WITH RECURSIVE ev AS (
        | SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS i,
        |  CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |       WHEN 'purchase' THEN 3 ELSE 0 END AS s
        | FROM events),
        |n AS (SELECT user_id, max(i) AS m FROM ev GROUP BY 1),
        |st AS (
        | SELECT user_id, 0 AS i, 0 AS stage, 0 AS cnt FROM n
        | UNION ALL
        | SELECT st.user_id, st.i + 1,
        |  CASE WHEN e.s = st.stage + 1
        |       THEN CASE WHEN st.stage + 1 = 3 THEN 0 ELSE st.stage + 1 END
        |       ELSE st.stage END,
        |  CASE WHEN e.s = st.stage + 1 AND st.stage + 1 = 3 THEN st.cnt + 1 ELSE st.cnt END
        | FROM st JOIN ev e ON e.user_id = st.user_id AND e.i = st.i + 1),
        |fin AS (SELECT st.user_id, st.cnt FROM st JOIN n USING (user_id) WHERE st.i = n.m)
        |SELECT CAST(cnt AS BIGINT) AS conversions, count(*) AS n_users
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),
    // X107: CSV round trip with explicit schema + PERMISSIVE corrupt
    // quarantine (the delimited-text half of the raw ingest surface)
    Entry("ingest_csv", graft.sources.CsvIngest.ingestEntry _,
      // csv twin: same shape — the quoted round trip is lossless for
      // these columns, so clean rows aggregate straight off the parquet
      // and the 3 injected un-typeable lines count under the sentinel
      """SELECT lang, source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY 1, 2
        |UNION ALL
        |SELECT '__corrupt', '__corrupt', CAST(3 AS BIGINT),
        | CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY lang, source""".stripMargin),
    // X108: incremental MV maintenance — stored base MV + delta
    // partial agg merged by addition must equal the full recompute
    Entry("q_mv_merge", (s, dir) => graft.operators.MaterializedView.mvMerge(s, dir),
      // mv-merge twin: the FULL one-shot aggregation — the stored-MV +
      // delta merge must land on exactly this (DECIMAL sums make the
      // split point invisible)
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        | count(*) AS n,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_value,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    // X109: index time travel — after 4 committed batches, the AS OF
    // version-2 read must equal the one-shot rebuild over batches 0..2
    Entry("ii_index_asof", (s, dir) => {
      val stateDir = Scratch.dir(s, "graft-ii-asof")
      val docs = Tables.documents(s, dir)
      (0 until 4).foreach { b =>
        graft.streaming.StreamingIndex.processBatch(
          docs.where(pmod(col("doc_id"), lit(4)) === b), b.toLong,
          stateDir, "lang", chunkSize = 100, docIdCol = "doc_id", None)
      }
      graft.streaming.StreamingIndex.indexAsOf(s, stateDir, version = 2)
        .select(col("value"), col("chunk"), col("n_docs"),
          array_join(col("doc_ids"), ",").as("doc_ids"))
        .orderBy(col("value"), col("chunk"))
    },
      // as-of twin: the rebuild a reader at version 2 would see —
      // batches 0..2 of the doc_id mod-4 replay
      """SELECT lang AS value, CAST(doc_id // 100 AS BIGINT) AS chunk, count(*) AS n_docs,
        | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        |FROM documents WHERE doc_id % 4 <= 2
        |GROUP BY 1, 2 ORDER BY value, chunk""".stripMargin),
    // X110: distribution-position windows (ntile/percent_rank/
    // cume_dist) — one segment-keyed WindowExec for all three
    Entry("q_ntile", Relational.distributionWindows _,
      // distribution-window twin: the (acctbal, custkey) tiebreak makes
      // every rank unique, so percent_rank/cume_dist are tie-free pure
      // position arithmetic — identical doubles in both engines
      """SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin),
    // X111: robust per-group outliers by median absolute deviation —
    // the heavy-tail-safe complement of the z-score entries
    Entry("q_mad", (s, dir) => Relational.madOutliers(s, dir),
      // MAD twin: quantile_cont interpolates exactly like Spark's exact
      // percentile; med/mad are per-group constants so min() == first()
      """WITH ev AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
        |med AS (SELECT event_type, quantile_cont(v, 0.5) AS med FROM ev GROUP BY 1),
        |dev AS (SELECT ev.event_type, v, med, abs(v - med) AS adev
        |        FROM ev JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(min(med), 4) AS med, round(min(mad), 4) AS mad,
        | CAST(sum(CASE WHEN adev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // X112: multi-epoch training reshuffle — nEpochs independent
    // seeded permutations from ONE epoch-keyed two-phase rank
    Entry("order_epoch", (s, dir) =>
      graft.operators.TrainingOrder.epochs(Tables.documents(s, dir), 3, "ep7")
        .orderBy(col("epoch"), col("pos")),
      // epoch-reshuffle twin: same md5(seed:epoch:id) sort key, dense
      // rank from row_number per epoch partition
      """WITH e AS (SELECT d.doc_id, CAST(t.epoch AS BIGINT) AS epoch
        |           FROM documents d CROSS JOIN range(3) t(epoch)),
        |k AS (SELECT epoch, doc_id,
        |       md5('ep7:' || CAST(epoch AS VARCHAR) || ':' ||
        |           CAST(doc_id AS VARCHAR)) AS h FROM e)
        |SELECT epoch,
        | CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) - 1
        |      AS BIGINT) AS pos,
        | doc_id AS id
        |FROM k ORDER BY epoch, pos""".stripMargin),
    // X113: CDC change-feed apply — last-writer-wins snapshot from an
    // insert/update/delete feed, one key-hashed window
    Entry("q_cdc_apply", graft.operators.ChangeFeed.applyEntry _,
      // CDC twin: identical three-generation feed, DECIMAL price
      // arithmetic end-to-end (the only double cast is at output), the
      // same last-writer-wins window
      """WITH feed AS (
        | SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        | FROM orders
        | UNION ALL
        | SELECT o_orderkey, 2, 'U',
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |             AS DECIMAL(21,3))
        | FROM orders WHERE o_orderkey % 7 = 0
        | UNION ALL
        | SELECT o_orderkey, 3, 'D', CAST(NULL AS DECIMAL(21,3))
        | FROM orders WHERE o_orderkey % 13 = 0),
        |latest AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS r
        |           FROM feed)
        |SELECT k AS o_orderkey, op AS last_op, CAST(price AS DOUBLE) AS price
        |FROM latest WHERE r = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin),
    // X114: ORC round trip — value fidelity (µs timestamps, DECIMAL
    // sums) across the format hop, proven against the parquet original
    Entry("ingest_orc", graft.sources.OrcIngest.ingestEntry _,
      // ORC twin reads the ORIGINAL parquet: any drift the ORC hop
      // introduces (timestamp truncation, double mangling) breaks the
      // hash; epoch_us matches Spark's micros-normalized ts
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us,
        | min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // X115: dynamic partition pruning — a runtime aggregate-derived
    // dim key set prunes whole hive partitions off the fact scan;
    // oracle joins without any pruning, proving it pure I/O
    Entry("q_dpp_scan", graft.sources.RuntimeFilters.dppQuery _,
      // DPP twin: the same join with NO pruning anywhere — the pruned
      // fact scan must be result-invisible; exact-DECIMAL HAVING keeps
      // the dim key set identical across engines
      """WITH dim AS (
        | SELECT event_type FROM events GROUP BY event_type
        | HAVING sum(CAST(value AS DECIMAL(18,2))) > 50 * count(*))
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    // X116: runtime bloom-filter join — filtered dim keys reach the
    // shuffle-hash fact scan as a might_contain row predicate
    Entry("q_bloom_join", graft.sources.RuntimeFilters.bloomJoin _,
      // bloom twin: plain join, no runtime filter — might_contain must
      // be result-invisible (false positives die in the join)
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // X117: stream-stream interval join through the REAL engine (two
    // independent file streams, symmetric-hash join state + watermark
    // eviction) must reproduce the batch interval self-join
    Entry("q_stream_join", (s, dir) =>
      graft.streaming.Replay.replayStreamJoin(s, dir),
      // stream-join twin: the batch interval self-join the streaming
      // symmetric-hash state must converge to; epoch_us matches Spark's
      // micros-normalized ts
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        | CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS lag_secs
        |FROM events v JOIN events p ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
        |ORDER BY v.user_id, view_id, purchase_id""".stripMargin),
    // X118: perceptual image-hash dedup — aHash per payload inside the
    // batched decode mapPartitions, exact-phash dup groups
    Entry("mm_image_phash", (s, dir) =>
      graft.multimodal.Multimodal.imagePHash(s, dir),
      // phash twin: recompute the aHash from the first 64 payload bytes
      // (text is ASCII, so ascii(substr) IS the byte); the /64 mean is a
      // power-of-two division — exact in double in both engines
      """WITH img AS (SELECT doc_id, text FROM documents
        |             WHERE doc_id % 3 = 0 AND length(text) >= 64),
        |px AS (SELECT doc_id, t.i,
        |        ascii(substr(text, CAST(t.i AS INTEGER), 1)) AS v
        |       FROM img CROSS JOIN range(1, 65) t(i)),
        |m AS (SELECT doc_id, sum(v) / 64.0 AS mean FROM px GROUP BY doc_id),
        |h AS (SELECT px.doc_id,
        |        string_agg(CASE WHEN v >= mean THEN '1' ELSE '0' END,
        |                   '' ORDER BY px.i) AS phash
        |      FROM px JOIN m USING (doc_id) GROUP BY px.doc_id)
        |SELECT phash, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS keeper_id
        |FROM h GROUP BY phash ORDER BY phash""".stripMargin),
    // X119: regex search — the grep layer under the term family, a
    // pure scan-stage predicate (dialect kept engine-portable)
    Entry("search_regex", (s, dir) =>
      Search.regexSearch(Tables.documents(s, dir), "(spark|vector) (join|index)"),
      // regex twin: same literal/alternation pattern — the subset Java
      // regex and DuckDB's RE2 interpret identically
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '(spark|vector) (join|index)'))
        |      AS BIGINT) AS n_matches,
        | regexp_extract(text, '(spark|vector) (join|index)', 0) AS first_match
        |FROM documents
        |WHERE regexp_matches(text, '(spark|vector) (join|index)')
        |ORDER BY doc_id""".stripMargin),
    // X120: keyword-in-context snippets — ±3 tokens around the first
    // match, array-position arithmetic inside the scan
    Entry("search_snippet", (s, dir) =>
      Search.snippets(Tables.documents(s, dir), "vector"),
      // snippet twin: same 1-based first-occurrence position and
      // [max(pos-3,1), min(pos+3, len)] token window
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, toks, list_position(toks, 'vector') AS pos FROM t)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        | array_to_string(
        |   toks[greatest(pos - 3, 1):least(pos + 3, len(toks))], ' ') AS snippet
        |FROM p WHERE pos IS NOT NULL AND pos > 0
        |ORDER BY doc_id""".stripMargin),
    // X121: exact two-sample KS distance between every event-type
    // pair's value distribution — the snapshot drift detector
    Entry("stats_ks", Relational.ksTest _,
      // KS twin: same pooled RANGE-frame running CDFs; integer counts
      // divide as identical doubles in both engines
      """WITH ev AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
        |ty AS (SELECT DISTINCT event_type FROM ev),
        |pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
        |          FROM ty a JOIN ty b ON a.event_type < b.event_type),
        |sided AS (SELECT ta, tb, v, (ev.event_type = ta) AS isa
        |          FROM ev JOIN pairs ON ev.event_type = ta OR ev.event_type = tb),
        |cum AS (SELECT ta, tb,
        |         sum(CASE WHEN isa THEN 1 ELSE 0 END) OVER w AS ca,
        |         sum(CASE WHEN isa THEN 0 ELSE 1 END) OVER w AS cb
        |        FROM sided
        |        WINDOW w AS (PARTITION BY ta, tb ORDER BY v
        |                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |n AS (SELECT ta, tb, sum(CASE WHEN isa THEN 1 ELSE 0 END) AS na,
        |       sum(CASE WHEN isa THEN 0 ELSE 1 END) AS nb
        |      FROM sided GROUP BY ta, tb)
        |SELECT ta, tb, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        | round(max(abs(ca / na - cb / nb)), 6) AS ks_d
        |FROM cum JOIN n USING (ta, tb)
        |GROUP BY ta, tb, na, nb ORDER BY ta, tb""".stripMargin),
    // X122: recursive CTE (Spark 4 native WITH RECURSIVE) — per-level
    // rollup of the implicit doc-id binary tree (parent = id DIV 2);
    // the d > parent guard is the monotone step that bounds recursion
    // at log2(max_id) iterations
    Entry("q_recursive_depth", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs_rec")
      s.sql(
        """WITH RECURSIVE t(doc_id, depth) AS (
          |  SELECT CAST(0 AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS depth
          |  UNION ALL
          |  SELECT d.doc_id, t.depth + 1
          |  FROM graft_docs_rec d JOIN t
          |    ON d.doc_id DIV 2 = t.doc_id AND d.doc_id > t.doc_id)
          |SELECT depth, count(*) AS n, min(doc_id) AS min_id,
          |       max(doc_id) AS max_id
          |FROM t GROUP BY depth ORDER BY depth""".stripMargin)
    },
      // recursive twin: same anchor/step, DuckDB's // is Spark's DIV
      """WITH RECURSIVE t(doc_id, depth) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT d.doc_id, t.depth + 1
        |  FROM documents d JOIN t ON d.doc_id // 2 = t.doc_id
        |   AND d.doc_id > t.doc_id)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id,
        | max(doc_id) AS max_id
        |FROM t GROUP BY depth ORDER BY depth""".stripMargin),
    // X123: suffix wildcard via the reversed-term dictionary trick —
    // the suffix query becomes a sargable prefix query
    Entry("search_suffix", (s, dir) =>
      Search.suffixSearch(Tables.documents(s, dir), "ow")
        .orderBy(col("term")),
      // suffix twin: LIKE '%ow' over the distinct-per-doc token lists —
      // same df definition as the prefix twin
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> len(x) > 0) AS t
        | FROM documents)
        |SELECT term, count(*) AS df
        |FROM (SELECT doc_id,
        |       unnest(list_filter(list_distinct(t), x -> x LIKE '%ow')) AS term
        |      FROM toks)
        |GROUP BY term ORDER BY term""".stripMargin),
    // X124: correlated LATERAL subquery (per-customer top order) —
    // the decorrelation surface grouped_topk's window form avoids
    Entry("q_lateral", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("graft_cust_lat")
      Tables.orders(s, dir).createOrReplaceTempView("graft_ord_lat")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey,
          |       round(t.o_totalprice, 2) AS top_price
          |FROM graft_cust_lat c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM graft_ord_lat o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
          |ORDER BY c.c_custkey""".stripMargin)
    },
      // lateral twin: identical correlated top-1 subquery
      """SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS top_price
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c.c_custkey""".stripMargin),
    // X125: re-touch sequencing funnel view→click→purchase (any later
    // click counts, unlike X97's first-touch form) — per-step user
    // counts from one (user_id, ts) window sort
    Entry("q_funnel_seq", EventAnalytics.funnel(_, _),
      // funnel twin: stagewise min-qualifying-time joins — step k exists
      // iff an event of stage k is STRICTLY later than step k-1's
      // earliest qualifying time
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > t1.t1
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN t2 ON e.user_id = t2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |       GROUP BY e.user_id)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |        CAST(count(*) AS BIGINT) AS users FROM t1
        | UNION ALL
        | SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM t2
        | UNION ALL
        | SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM t3)
        |ORDER BY step""".stripMargin),
    // X126: weekly cohort retention — integer week arithmetic from the
    // corpus epoch, distinct users per (cohort, offset) cell
    Entry("q_retention", EventAnalytics.retention _,
      // retention twin: same integer week arithmetic from the corpus
      // epoch (datediff arg order differs between engines)
      """WITH ev AS (SELECT user_id,
        |             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
        |            FROM events),
        |fst AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        |       CAST(wk - cohort_week AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT ev.user_id) AS BIGINT) AS users
        |FROM ev JOIN fst ON ev.user_id = fst.user_id
        |GROUP BY cohort_week, wk - cohort_week
        |ORDER BY cohort_week, week_offset""".stripMargin),
    // deterministic md5-coin A/B readout: exact-DECIMAL moments,
    // closed-form Welch z per event type
    Entry("q_ab_test", EventAnalytics.abTest _,
      // A/B twin: same md5 coin, exact DECIMAL moments, identical
      // closed-form mean/population-variance/Welch-z double sequence
      """WITH ev AS (
        | SELECT event_type,
        |  CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8) < '80000000'
        |       THEN 'A' ELSE 'B' END AS arm,
        |  CAST(value AS DECIMAL(18,2)) AS y
        | FROM events),
        |s AS (
        | SELECT event_type, arm, count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
        |  CAST(sum(y) AS DOUBLE) AS syd, CAST(sum(y*y) AS DOUBLE) AS syyd
        | FROM ev GROUP BY 1, 2),
        |m AS (SELECT event_type, arm, n, nd, syd / nd AS mean,
        |       (nd * syyd - syd * syd) / (nd * nd) AS pvar FROM s)
        |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
        | round(a.mean, 4) AS mean_a, round(b.mean, 4) AS mean_b,
        | round((a.mean - b.mean) / sqrt(a.pvar / a.nd + b.pvar / b.nd), 4) AS z
        |FROM m a JOIN m b ON a.event_type = b.event_type
        | AND a.arm = 'A' AND b.arm = 'B'
        |ORDER BY a.event_type""".stripMargin),
    // cohort LTV: cumulative purchase revenue per signup cohort /
    // week offset, per-user normalized
    Entry("q_cohort_ltv", EventAnalytics.cohortLtv _,
      // LTV twin: retention's cohort grid + exact DECIMAL revenue,
      // running total over the (cohort, offset) frame, /users at the end
      """WITH ev AS (
        | SELECT user_id, event_type, value,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk
        | FROM events),
        |fst AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id),
        |sz AS (SELECT cohort_week, count(*) AS n_users FROM fst GROUP BY cohort_week),
        |rev AS (
        | SELECT f.cohort_week, e.wk - f.cohort_week AS week_offset,
        |  sum(CAST(e.value AS DECIMAL(18,2))) AS rev
        | FROM ev e JOIN fst f ON e.user_id = f.user_id
        | WHERE e.event_type = 'purchase'
        | GROUP BY 1, 2)
        |SELECT CAST(r.cohort_week AS BIGINT) AS cohort_week,
        | CAST(r.week_offset AS BIGINT) AS week_offset,
        | CAST(sz.n_users AS BIGINT) AS n_users,
        | round(CAST(sum(r.rev) OVER (PARTITION BY r.cohort_week ORDER BY r.week_offset)
        |   AS DOUBLE) / sz.n_users, 4) AS ltv_per_user
        |FROM rev r JOIN sz ON sz.cohort_week = r.cohort_week
        |ORDER BY cohort_week, week_offset""".stripMargin),
    // X127: first-order Markov transition matrix over per-user event
    // sequences; probabilities are integer-count divisions
    Entry("q_markov", EventAnalytics.markovTransitions _,
      // markov twin: same lag window with the event_id tiebreak (order
      // by epoch micros, not raw ns ts); BIGINT / BIGINT is float
      // division in DuckDB, same as Spark
      """WITH trans AS (
        | SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts), event_id) AS to_type
        | FROM events),
        |cnt AS (SELECT from_type, to_type, count(*) AS n FROM trans
        |        WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |       round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM cnt ORDER BY from_type, to_type""".stripMargin),
    // X128: chi-squared contingency cells (event_type × value bucket),
    // reported per cell — cross-cell double sums are engine-dependent
    Entry("stats_chi2_cells", EventAnalytics.contingency _,
      // chi2 twin: identical per-cell double expression from integer
      // marginals (cast to DOUBLE before the product, mirroring the
      // Spark side's overflow-safe order of operations)
      """WITH cells AS (
        | SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |        count(*) AS o
        | FROM events GROUP BY event_type, bucket),
        |m AS (SELECT event_type, bucket, o,
        |       sum(o) OVER (PARTITION BY event_type) AS row_tot,
        |       sum(o) OVER (PARTITION BY bucket) AS col_tot,
        |       sum(o) OVER () AS n
        |      FROM cells)
        |SELECT event_type, bucket, CAST(o AS BIGINT) AS o,
        |       round(CAST(row_tot AS DOUBLE) * col_tot / n, 6) AS e,
        |       round(pow(o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
        |             / (CAST(row_tot AS DOUBLE) * col_tot / n), 6) AS contrib
        |FROM m ORDER BY event_type, bucket""".stripMargin),
    // X129: more-like-this — TF-IDF cosine ranking against one query
    // document via a posting-list join; DECIMAL accumulation makes
    // float-sum order invisible cross-engine
    Entry("search_mlt", (s, dir) =>
      Search.moreLikeThis(Tables.documents(s, dir), queryDocId = 7L, k = 10),
      // mlt twin: same tf·ln(N/df) weights rounded to 9 dp, DECIMAL
      // accumulation for dots and norms, one double expression per row
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> len(x) > 0) AS t
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        |       GROUP BY doc_id, term),
        |nd AS (SELECT count(*) AS n_docs FROM toks),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |w AS (SELECT doc_id, tf.term,
        |       round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS w
        |      FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN nd),
        |norms AS (SELECT doc_id, sum(CAST(w * w AS DECIMAL(30,10))) AS nsq
        |          FROM w GROUP BY doc_id),
        |q AS (SELECT term, w AS wq FROM w WHERE doc_id = 7),
        |qn AS (SELECT nsq AS qnsq FROM norms WHERE doc_id = 7),
        |dots AS (SELECT w.doc_id, sum(CAST(w.w * q.wq AS DECIMAL(30,10))) AS dot
        |         FROM w JOIN q ON w.term = q.term WHERE w.doc_id <> 7
        |         GROUP BY w.doc_id)
        |SELECT d.doc_id, round(CAST(dot AS DOUBLE) /
        |        (sqrt(CAST(nsq AS DOUBLE)) * sqrt(CAST(qnsq AS DOUBLE))), 6) AS score
        |FROM dots d JOIN norms USING (doc_id) CROSS JOIN qn
        |ORDER BY score DESC, d.doc_id LIMIT 10""".stripMargin),
    // X130: length-grouped batching with per-batch padding waste —
    // two-phase distributed rank, all-integer output
    Entry("order_batches", (s, dir) =>
      TrainingOrder.lengthBatches(Tables.documents(s, dir), batchSize = 32),
      // batches twin: same descending-length global order and integer
      // batch arithmetic (// = Spark's DIV)
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> len(x) > 0) AS t
        | FROM documents),
        |l AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM toks),
        |r AS (SELECT doc_id, len,
        |       row_number() OVER (ORDER BY len DESC, doc_id) - 1 AS rank0
        |      FROM l)
        |SELECT CAST(rank0 // 32 AS BIGINT) AS batch,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(max(len) AS BIGINT) AS max_len,
        |       CAST(sum(len) AS BIGINT) AS sum_len,
        |       CAST(count(*) * max(len) - sum(len) AS BIGINT) AS padding_waste
        |FROM r GROUP BY rank0 // 32 ORDER BY batch""".stripMargin),
    // X131: KL/PSI drift between the event-type mix of two time halves
    Entry("stats_psi", EventAnalytics.klDrift(_, _),
      // psi twin: identical conditional counts, shares, and ln terms —
      // per-type rows, no cross-row double sums
      """WITH cnt AS (
        | SELECT event_type,
        |  sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS a,
        |  sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END) AS b
        | FROM events GROUP BY event_type HAVING a > 0 AND b > 0),
        |m AS (SELECT event_type, a, b, sum(a) OVER () AS na, sum(b) OVER () AS nb
        |      FROM cnt)
        |SELECT event_type, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        | round(a / na, 6) AS p_early, round(b / nb, 6) AS p_late,
        | round((a / na) * ln((a / na) / (b / nb)), 6) AS kl_term,
        | round((a / na - b / nb) * ln((a / na) / (b / nb)), 6) AS psi_term
        |FROM m ORDER BY event_type""".stripMargin),
    // X132+X157: mutual-kNN graph on the SCALE route — SRP-banded
    // candidate generation at AUTO width (integer ⌊log₂(n/100)⌋ bits
    // per band, which the oracle recomputes from count(*) — a pinned
    // width loses every bucket past the cap at 10×: recall 0) with
    // exact-cosine rerank; the all-pairs exact scorer
    // (Similarity.knnGraphExact) is spec-tested, never gated
    Entry("knn_graph", (s, dir) => {
      Similarity.knnGraphBanded(Tables.embeddings(s, dir), 10,
          numPlanes = 0, bands = 4, maxBucket = 500)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("c_id"),
          round(col("score"), 4).as("score"), col("mutual"))
        .orderBy(col("q_id"), col("rank"))
    },
      // knn-graph twin: the BANDED pipeline (SRP banding at the entry's
      // pinned geometry, bucket-capped pairs, exact rerank) plus the
      // reverse-edge mutual flag via a self-join of the top-k set
      s"""WITH ${bandedKnnTopSql(4, 500, 10)}
        |SELECT t.q_id, CAST(t.rank AS BIGINT) AS rank, t.c_id,
        |       round(t.s, 4) AS score, (r.q_id IS NOT NULL) AS mutual
        |FROM top t LEFT JOIN top r ON r.q_id = t.c_id AND r.c_id = t.q_id
        |ORDER BY t.q_id, t.rank""".stripMargin),
    // X133: faceted search — conjunctive query + per-facet rollup
    Entry("search_facets", (s, dir) =>
      Search.facetedSearch(Tables.documents(s, dir), Seq("spark"),
        Seq("lang", "source")),
      // facets twin: same scan predicate, facet expansion as UNION ALL
      """WITH toks AS (
        | SELECT doc_id, lang, source,
        |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
        | FROM documents),
        |m AS (SELECT lang, source FROM toks WHERE list_contains(t, 'spark')),
        |f AS (SELECT 'lang' AS facet, lang AS value FROM m
        |      UNION ALL SELECT 'source', source FROM m)
        |SELECT facet, value, CAST(count(*) AS BIGINT) AS n
        |FROM f GROUP BY facet, value ORDER BY facet, value""".stripMargin),
    // X134: posting-list delta-gap compression sizing
    Entry("ii_postings_delta", (s, dir) =>
      Search.postingsDeltaStats(Tables.documents(s, dir)),
      // delta twin: same per-term lag gaps; bin() is unpadded in both
      // engines, so gap_bits agree
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> len(x) > 0) AS t
        | FROM documents),
        |p AS (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks),
        |g AS (SELECT term, doc_id,
        |       doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS gap
        |      FROM p)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        | CAST(min(doc_id) AS BIGINT) AS first_id,
        | CAST(max(doc_id) AS BIGINT) AS last_id,
        | CAST(max(gap) AS BIGINT) AS max_gap,
        | CAST(length(bin(max(gap))) AS BIGINT) AS gap_bits
        |FROM g GROUP BY term HAVING count(*) >= 2 ORDER BY term""".stripMargin),
    // X135: canonical-keeper selection over the embedding near-dup
    // clusters (longest doc wins, id tiebreak)
    Entry("dedup_keeper", (s, dir) =>
      ConnectedComponents.canonicalKeepers(Tables.documents(s, dir),
        Dedup.embeddingPairs(Tables.embeddings(s, dir))),
      // keeper twin: the dedup_clusters reachability closure, then the
      // longest-doc-wins window per component
      s"""WITH RECURSIVE v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |${autoSrpBandedSql(4)},
        |ok AS (SELECT band, bhash FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 200),
        |cand AS (
        | SELECT DISTINCT a.id AS id1, b.id AS id2
        | FROM banded a JOIN ok USING (band, bhash) JOIN banded b
        |  ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
        |pairs AS (
        | SELECT c.id1, c.id2 FROM cand c JOIN v v1 ON v1.id = c.id1 JOIN v v2 ON v2.id = c.id2
        | WHERE list_cosine_similarity(v1.e, v2.e) >= 0.35),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        | SELECT a, a FROM edges
        | UNION
        | SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |k AS (SELECT comp.component, comp.id, d.n_chars
        |      FROM comp JOIN documents d ON d.doc_id = comp.id),
        |rr AS (SELECT component, id,
        |        row_number() OVER (PARTITION BY component
        |                           ORDER BY n_chars DESC, id) AS rn,
        |        count(*) OVER (PARTITION BY component) AS nm
        |       FROM k)
        |SELECT component, id AS keeper_id, CAST(nm AS BIGINT) AS n_members,
        | CAST(nm - 1 AS BIGINT) AS n_removed
        |FROM rr WHERE rn = 1 AND nm > 1 ORDER BY component""".stripMargin),
    // X136: text-embedding pair curation with per-cohort stats
    Entry("mm_pair_stats", (s, dir) =>
      graft.multimodal.Multimodal.pairStats(Tables.documents(s, dir),
        Tables.embeddings(s, dir)),
      // pair twin: same join/gate; norms are one left-to-right fold in
      // both engines, cohort averages accumulate as DECIMAL
      """WITH p AS (
        | SELECT d.lang, e.label,
        |  CAST(len(list_filter(regexp_split_to_array(lower(d.text), '\s+'),
        |                       x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(e.embedding AS DOUBLE[]) AS ev
        | FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        | WHERE d.n_chars >= 40),
        |n AS (SELECT lang, label, n_tokens,
        |       round(sqrt(list_dot_product(ev, ev)), 6) AS norm FROM p)
        |SELECT lang, CAST(label AS BIGINT) AS label,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        | CAST(max(n_tokens) AS BIGINT) AS max_tokens,
        | round(CAST(sum(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_norm
        |FROM n GROUP BY lang, label ORDER BY lang, label""".stripMargin),
    // X137: per-type Gini inequality over event values via the
    // distributed grouped rank
    Entry("stats_gini", EventAnalytics.gini _,
      // gini twin: identical rank formula over exact DECIMAL sums; the
      // ratio is the only double arithmetic, one expression per group
      """WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x, event_id
        |            FROM events),
        |r AS (SELECT event_type, x,
        |       row_number() OVER (PARTITION BY event_type ORDER BY x, event_id) - 1 AS grank
        |      FROM ev),
        |a AS (SELECT event_type, count(*) AS n, sum(x) AS s0,
        |       sum((grank + 1) * x) AS s1
        |      FROM r GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        | round((2.0 * CAST(s1 AS DOUBLE) - (n + 1) * CAST(s0 AS DOUBLE))
        |       / (n * CAST(s0 AS DOUBLE)), 6) AS gini
        |FROM a ORDER BY event_type""".stripMargin),
    // Benford first-digit profile per event type: per-digit observed
    // vs log10(1+1/d) expectation — the unit-mixing detector
    Entry("stats_benford", EventAnalytics.benford _,
      // Benford twin: identical floor/log10 digit extraction, per-digit
      // rows so no cross-digit float summation exists
      """WITH pos AS (SELECT event_type, value FROM events WHERE value > 0),
        |d AS (SELECT event_type,
        |       CAST(floor(value / power(10, floor(log10(value)))) AS BIGINT) AS digit
        |      FROM pos),
        |c AS (SELECT event_type, digit, count(*) AS n FROM d GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS total FROM c GROUP BY 1)
        |SELECT c.event_type, c.digit, CAST(c.n AS BIGINT) AS n,
        | round(CAST(t.total AS DOUBLE) * log10(1 + CAST(1 AS DOUBLE) / c.digit), 4)
        |   AS exp_n,
        | round(c.n / (CAST(t.total AS DOUBLE) * log10(1 + CAST(1 AS DOUBLE) / c.digit)), 4)
        |   AS ratio
        |FROM c JOIN t USING (event_type) ORDER BY event_type, digit""".stripMargin),
    // X138: WAND/MaxScore-pruned BM25 — result-identical to
    // search_bm25 (same oracle), but the scoring exchange only
    // carries docs passing the scan-stage upper-bound gate
    Entry("search_wand", (s, dir) =>
      Search.wandTopK(Tables.documents(s, dir), Seq("spark", "vector", "slow"), 20)
        .select(col("doc_id"), round(col("score"), 4).as("score")),
      // wand twin: the UNPRUNED bm25 oracle — pruning must be
      // result-invisible, which is the entire correctness claim
      bm25OracleSql(Seq("spark", "vector", "slow"), 20)),
    // X139: entry-path analysis — first-3-event paths per user
    Entry("q_entry_paths", EventAnalytics.entryPaths(_, _),
      // entry-path twin: same rank window (epoch-µs order, event_id
      // tiebreak) and NULL-skipping concat_ws
      """WITH r AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY epoch_us(ts), event_id) AS rn
        | FROM events),
        |p AS (SELECT user_id,
        |       min(CASE WHEN rn = 1 THEN event_type END) AS p1,
        |       min(CASE WHEN rn = 2 THEN event_type END) AS p2,
        |       min(CASE WHEN rn = 3 THEN event_type END) AS p3
        |      FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT concat_ws('->', p1, p2, p3) AS path,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path ORDER BY path""".stripMargin),
    // X140: RFM segmentation — quintile grid via the distributed rank
    Entry("q_rfm", EventAnalytics.rfm(_, _),
      // rfm twin: same per-user metrics and integer rank·5 DIV n
      // quintiles (row_number − 1 ≡ the two-phase rank; DuckDB // ≡ DIV)
      """WITH u AS (
        | SELECT user_id,
        |  min(datediff('day', CAST(ts AS DATE), DATE '2024-01-31')) AS rec,
        |  count(*) AS freq,
        |  sum(CAST(value AS DECIMAL(18,2))) AS mon
        | FROM events GROUP BY user_id),
        |n AS (SELECT count(*) AS n_users FROM u),
        |s AS (SELECT user_id,
        |       (row_number() OVER (ORDER BY rec DESC, user_id) - 1) * 5 // n_users + 1 AS r_score,
        |       (row_number() OVER (ORDER BY freq, user_id) - 1) * 5 // n_users + 1 AS f_score,
        |       (row_number() OVER (ORDER BY mon, user_id) - 1) * 5 // n_users + 1 AS m_score
        |      FROM u CROSS JOIN n)
        |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        | CAST(m_score AS BIGINT) AS m_score, CAST(count(*) AS BIGINT) AS n_users
        |FROM s GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin),
    // X141: schema-evolution ingest — two-generation mergeSchema read
    Entry("ingest_evolve", graft.sources.SchemaEvolution.ingestEvolved _,
      // evolve twin: the merged two-generation read must be
      // result-invisible vs the original table's slices
      """WITH m AS (
        | SELECT 1 AS gen, l_quantity AS qty, CAST(NULL AS DOUBLE) AS price
        | FROM lineitem WHERE l_linenumber = 1
        | UNION ALL
        | SELECT 2, l_quantity, l_extendedprice FROM lineitem WHERE l_linenumber = 2)
        |SELECT CAST(gen AS BIGINT) AS gen, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(price) AS BIGINT) AS n_price,
        | CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | coalesce(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_price
        |FROM m GROUP BY gen ORDER BY gen""".stripMargin),
    // X142: view→purchase conversion-latency deciles via the
    // distributed rank (exact percentiles, no percentile buffer)
    Entry("q_conv_latency", EventAnalytics.conversionLatency _,
      // latency twin: same first-touch pair, integer µs latency, rank
      // deciles (// ≡ DIV), all-integer output
      """WITH u AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
        | FROM events GROUP BY user_id),
        |l AS (SELECT user_id, epoch_us(t2) - epoch_us(t1) AS lat_us
        |      FROM u WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t1 < t2),
        |n AS (SELECT count(*) AS n FROM l),
        |r AS (SELECT lat_us,
        |       (row_number() OVER (ORDER BY lat_us, user_id) - 1) * 10 // n + 1 AS decile
        |      FROM l CROSS JOIN n)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_users,
        | CAST(min(lat_us) // 60000000 AS BIGINT) AS min_minutes,
        | CAST(max(lat_us) // 60000000 AS BIGINT) AS max_minutes
        |FROM r GROUP BY decile ORDER BY decile""".stripMargin),
    // X143: DAU / trailing-7-day WAU / stickiness from one user-day
    // dedup + a bounded day expansion
    Entry("q_dau_wau", EventAnalytics.dauWau _,
      // dau/wau twin: same user-day dedup and bounded day expansion
      """WITH ud AS (
        | SELECT DISTINCT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |        user_id
        | FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |w AS (SELECT DISTINCT day + g AS rday, user_id
        |      FROM ud CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS g) t),
        |wau AS (SELECT rday, count(*) AS wau FROM w GROUP BY rday)
        |SELECT CAST(day AS BIGINT) AS day, CAST(dau AS BIGINT) AS dau,
        | CAST(wau AS BIGINT) AS wau, round(dau / wau, 6) AS stickiness
        |FROM dau JOIN wau ON day = rday ORDER BY day""".stripMargin),
    // X144: per-label embedding drift — half-centroid cosine agreement
    Entry("embed_drift", (s, dir) =>
      EmbeddingStats.centroidDrift(Tables.embeddings(s, dir)),
      // drift twin: the embed_centroid per-dim round-6 average, computed
      // per half, then one list cosine per label
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ua AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e)+1)) AS pos
        |       FROM v WHERE vec_id % 2 = 0),
        |ca AS (SELECT label, pos, round(avg(x), 6) AS m FROM ua GROUP BY 1, 2),
        |la AS (SELECT label, list(m ORDER BY pos) AS cva FROM ca GROUP BY label),
        |na AS (SELECT label, count(*) AS n_a FROM v WHERE vec_id % 2 = 0 GROUP BY label),
        |ub AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e)+1)) AS pos
        |       FROM v WHERE vec_id % 2 = 1),
        |cb AS (SELECT label, pos, round(avg(x), 6) AS m FROM ub GROUP BY 1, 2),
        |lb AS (SELECT label, list(m ORDER BY pos) AS cvb FROM cb GROUP BY label),
        |nb AS (SELECT label, count(*) AS n_b FROM v WHERE vec_id % 2 = 1 GROUP BY label)
        |SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | round(list_cosine_similarity(la.cva, lb.cvb), 4) AS drift_cos
        |FROM la JOIN lb USING (label) JOIN na USING (label) JOIN nb USING (label)
        |ORDER BY label""".stripMargin),
    // X145: perceptual near-dup image pairs within Hamming ≤ 3 via
    // banded signature join + exact bit_count verify
    Entry("mm_phash_neardup", graft.multimodal.Multimodal.phashNearDupPairs(_, _),
      // near-dup phash twin: the X118 aHash derivation, then per-char
      // Hamming over all pairs (the oracle may be quadratic; the ENGINE
      // may not) — band recall is exact for d ≤ bands − 1 by pigeonhole
      // phash near-dup twin: same 16-bit banding + the 2..200 bucket
      // size gate of the engine's bucketPairs cap, exact Hamming verify
      // on candidates only (the previous all-pairs twin was itself the
      // quadratic plan the operator exists to avoid)
      """WITH img AS (SELECT doc_id, text FROM documents
        |             WHERE doc_id % 3 = 0 AND length(text) >= 64),
        |px AS (SELECT doc_id, t.i,
        |        ascii(substr(text, CAST(t.i AS INTEGER), 1)) AS v
        |       FROM img CROSS JOIN range(1, 65) t(i)),
        |m AS (SELECT doc_id, sum(v) / 64.0 AS mean FROM px GROUP BY doc_id),
        |h AS MATERIALIZED (SELECT px.doc_id,
        |        string_agg(CASE WHEN v >= mean THEN '1' ELSE '0' END,
        |                   '' ORDER BY px.i) AS phash
        |      FROM px JOIN m USING (doc_id) GROUP BY px.doc_id),
        |bands AS MATERIALIZED (
        | SELECT doc_id, t.b, substr(phash, CAST(1 + t.b * 16 AS INTEGER), 16) AS v
        | FROM h CROSS JOIN range(0, 4) t(b)),
        |ok AS (SELECT b, v FROM bands GROUP BY 1, 2
        |       HAVING count(*) BETWEEN 2 AND 200),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
        | FROM bands a JOIN ok USING (b, v) JOIN bands c
        |  ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id)
        |SELECT p.id1, p.id2,
        | CAST(len([i for i in range(1, 65)
        |           if substr(a.phash, CAST(i AS INTEGER), 1) <>
        |              substr(b.phash, CAST(i AS INTEGER), 1)]) AS BIGINT) AS hamming
        |FROM cand p JOIN h a ON a.doc_id = p.id1 JOIN h b ON b.doc_id = p.id2
        |WHERE len([i for i in range(1, 65)
        |           if substr(a.phash, CAST(i AS INTEGER), 1) <>
        |              substr(b.phash, CAST(i AS INTEGER), 1)]) <= 3
        |ORDER BY id1, id2""".stripMargin),
    // X146: weekly churn accounting (new/retained/resurrected/churned)
    Entry("q_churn", EventAnalytics.churn _,
      // churn twin: same (week, user) dedup and user-keyed self-joins
      """WITH uw AS (
        | SELECT DISTINCT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk,
        |        user_id
        | FROM events),
        |fst AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY user_id),
        |cur AS (
        | SELECT u.wk, CAST(count(*) AS BIGINT) AS active,
        |  CAST(sum(CASE WHEN f.fw = u.wk THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |  CAST(sum(CASE WHEN f.fw < u.wk AND p.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        | FROM uw u JOIN fst f ON u.user_id = f.user_id
        | LEFT JOIN uw p ON p.wk = u.wk - 1 AND p.user_id = u.user_id
        | GROUP BY u.wk),
        |ch AS (
        | SELECT p.wk + 1 AS wk, CAST(count(*) AS BIGINT) AS churned
        | FROM uw p LEFT JOIN uw c ON c.wk = p.wk + 1 AND c.user_id = p.user_id
        | WHERE c.user_id IS NULL GROUP BY p.wk + 1)
        |SELECT CAST(cur.wk AS BIGINT) AS wk, active, new_users, retained,
        | resurrected, coalesce(ch.churned, 0) AS churned
        |FROM cur LEFT JOIN ch ON cur.wk = ch.wk ORDER BY wk""".stripMargin),
    // X147: last-touch revenue attribution with an explicit 'none'
    // bucket; exact DECIMAL revenue sums
    Entry("q_attribution", EventAnalytics.lastTouchAttribution _,
      // attribution twin: same strictly-before IGNORE NULLS last_value
      // window on the (epoch-µs, event_id) order
      """WITH t AS (
        | SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
        |  last_value(CASE WHEN event_type IN ('view', 'click')
        |             THEN event_type END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM events)
        |SELECT coalesce(touch, 'none') AS touch,
        | CAST(count(*) AS BIGINT) AS n_purchases,
        | CAST(sum(v) AS DOUBLE) AS revenue
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY coalesce(touch, 'none') ORDER BY touch""".stripMargin),
    // X148: synonym-expanded search — canonical reach + variant hits
    Entry("ii_synonym_search", (s, dir) =>
      Search.synonymSearch(Tables.documents(s, dir), Map(
        "fast" -> Seq("quick", "rapid"),
        "index" -> Seq("lookup", "catalog"),
        "spark" -> Seq("flame"))),
      // synonym twin: same variant→canonical VALUES (canonical maps to
      // itself), distinct-token join, distinct-doc reach
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> len(x) > 0) AS t
        | FROM documents),
        |syn(term, canonical) AS (VALUES
        | ('quick','fast'), ('rapid','fast'), ('fast','fast'),
        | ('lookup','index'), ('catalog','index'), ('index','index'),
        | ('flame','spark'), ('spark','spark')),
        |hits AS (
        | SELECT canonical, doc_id
        | FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
        | JOIN syn USING (term))
        |SELECT canonical, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_variant_hits
        |FROM hits GROUP BY canonical ORDER BY canonical""".stripMargin),
    // X149: day-of-week seasonality profile with per-type shares
    Entry("q_seasonality", EventAnalytics.seasonality _,
      // seasonality twin: integer days-since-Monday-epoch mod 7
      """WITH c AS (
        | SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
        |        event_type, count(*) AS n
        | FROM events GROUP BY dow, event_type)
        |SELECT CAST(dow AS BIGINT) AS dow, event_type, CAST(n AS BIGINT) AS n,
        | round(n / sum(n) OVER (PARTITION BY event_type), 6) AS share
        |FROM c ORDER BY dow, event_type""".stripMargin),
    // X150: week-over-week movers with per-week |Δ| rank
    Entry("q_top_movers", EventAnalytics.topMovers _,
      // movers twin: same weekly counts, lag deltas, |Δ|-desc rank
      """WITH wk AS (
        | SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk,
        |        event_type, count(*) AS n
        | FROM events GROUP BY wk, event_type),
        |d AS (
        | SELECT wk, event_type, n,
        |  lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev
        | FROM wk)
        |SELECT CAST(wk AS BIGINT) AS wk, event_type, CAST(n AS BIGINT) AS n,
        | CAST(prev AS BIGINT) AS prev, CAST(n - prev AS BIGINT) AS delta,
        | round((n - prev) / prev, 6) AS pct,
        | CAST(row_number() OVER (PARTITION BY wk
        |        ORDER BY abs(n - prev) DESC, event_type) AS BIGINT) AS mover_rank
        |FROM d WHERE prev IS NOT NULL ORDER BY wk, event_type""".stripMargin),
    // X151: audience-overlap Jaccard matrix between event types
    Entry("q_overlap_users", EventAnalytics.audienceOverlap _,
      // overlap twin: same (type,user) dedup, pairwise intersection,
      // Jaccard from integer counts
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS sz FROM tu GROUP BY event_type),
        |i AS (
        | SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_both
        | FROM tu a JOIN tu b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        | GROUP BY ta, tb)
        |SELECT ta, tb, CAST(n_both AS BIGINT) AS n_both,
        | CAST(na.sz AS BIGINT) AS na, CAST(nb.sz AS BIGINT) AS nb,
        | round(n_both / (na.sz + nb.sz - n_both), 6) AS jaccard
        |FROM i JOIN sz na ON i.ta = na.event_type
        |       JOIN sz nb ON i.tb = nb.event_type
        |ORDER BY ta, tb""".stripMargin),
    // X152: triangle counts + clustering coefficients over the
    // mutual-kNN graph — structure as a data-quality signal; the edge
    // substrate is the BANDED kNN route (same pinned geometry as
    // knn_graph), so no all-pairs scorer anywhere in the graph family
    Entry("graph_triangles", (s, dir) =>
      Graph.triangleStatsEdges(bandedGraphEdges(s, dir)),
      // triangle twin: the banded knn_graph top-k closure, mutual
      // undirected edges, oriented wedge join + closing edge, per-corner
      // explode
      s"""WITH ${bandedKnnTopSql(4, 500, 10)},
        |me AS (SELECT t.q_id AS a, t.c_id AS b
        |       FROM top t JOIN top r ON r.q_id = t.c_id AND r.c_id = t.q_id
        |       WHERE t.q_id < t.c_id),
        |deg AS (SELECT vtx, count(*) AS degree
        |        FROM (SELECT a AS vtx FROM me UNION ALL SELECT b FROM me)
        |        GROUP BY vtx),
        |tri AS (SELECT ab.a AS ta, ab.b AS tb, bc.b AS tc
        |        FROM me ab JOIN me bc ON ab.b = bc.a
        |        JOIN me ac ON ac.a = ab.a AND ac.b = bc.b),
        |pn AS (SELECT vtx, count(*) AS n_triangles
        |       FROM (SELECT ta AS vtx FROM tri UNION ALL
        |             SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
        |       GROUP BY vtx)
        |SELECT deg.vtx AS vec_id, CAST(degree AS BIGINT) AS degree,
        | CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
        | CASE WHEN degree >= 2
        |  THEN round(2.0 * coalesce(n_triangles, 0) / (degree * (degree - 1)), 6)
        |  ELSE 0.0 END AS cc
        |FROM deg LEFT JOIN pn ON deg.vtx = pn.vtx ORDER BY vec_id""".stripMargin),
    // X153: PageRank centrality over the mutual-kNN graph — canonical
    // exemplars rank high; per-iteration round(9) pins both engines
    // to identical doubles
    Entry("graph_pagerank", (s, dir) =>
      Graph.pageRankEdges(bandedGraphEdges(s, dir), iters = 5),
      pageRankOracleSql(5)),
    // X154: common-neighbor link prediction over the mutual-kNN graph
    Entry("graph_link_pred", (s, dir) =>
      Graph.linkPredictionEdges(bandedGraphEdges(s, dir)),
      // link-pred twin: banded kNN edge substrate, then wedge count =
      // |N(a) ∩ N(c)|, anti-join edges, Jaccard on the rounded column
      // with (x, y) tiebreaks
      s"""WITH ${bandedKnnTopSql(4, 500, 10)},
        |me AS (SELECT t.q_id AS a, t.c_id AS b
        |       FROM top t JOIN top r ON r.q_id = t.c_id AND r.c_id = t.q_id
        |       WHERE t.q_id < t.c_id),
        |sym AS (SELECT a, b FROM me UNION ALL SELECT b, a FROM me),
        |deg AS (SELECT a AS vtx, count(*) AS d FROM sym GROUP BY a),
        |w AS (SELECT l.a AS x, r.b AS y, count(*) AS common
        |      FROM sym l JOIN sym r ON l.b = r.a AND l.a < r.b
        |      GROUP BY x, y),
        |nc AS (SELECT w.x, w.y, w.common
        |       FROM w LEFT JOIN me ON w.x = me.a AND w.y = me.b
        |       WHERE me.a IS NULL)
        |SELECT x, y, CAST(common AS BIGINT) AS common,
        | round(common / (dx.d + dy.d - common), 6) AS jaccard
        |FROM nc JOIN deg dx ON nc.x = dx.vtx JOIN deg dy ON nc.y = dy.vtx
        |ORDER BY jaccard DESC, x, y LIMIT 50""".stripMargin),
    // X197: Mann–Kendall monotonic-trend test on each type's daily
    // count series — integer S + ×18 tie-corrected variance, doubles
    // only in the final z/tau sequence
    Entry("stats_mann_kendall", Inference.mannKendallDaily _,
      // Mann–Kendall twin: the identical pair self-join over the daily
      // table, ×18 tie-corrected variance and ×2 tau denominators in
      // integers, the same final z/tau double sequence
      """WITH daily AS (
        | SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |s AS (
        | SELECT a.event_type,
        |  CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
        |                WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        | FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.day < b.day
        | GROUP BY 1),
        |nn AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
        |ties AS (
        | SELECT event_type, sum(t*(t-1)*(2*t+5)) AS tie3,
        |  CAST(sum(t*(t-1))/2 AS BIGINT) AS tx
        | FROM (SELECT event_type, cnt, count(*) AS t FROM daily GROUP BY 1, 2)
        | GROUP BY 1),
        |j AS (
        | SELECT s.event_type, CAST(nn.n AS BIGINT) AS n, s_stat,
        |  CAST(nn.n*(nn.n-1)*(2*nn.n+5) - tie3 AS BIGINT) AS var18,
        |  CAST(nn.n*(nn.n-1)/2 AS BIGINT) AS d0, tx
        | FROM s JOIN nn USING (event_type) JOIN ties USING (event_type))
        |SELECT event_type, n, s_stat, var18,
        | round(CASE
        |  WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |  WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |  ELSE 0.0 END, 4) AS z,
        | round(CAST(s_stat AS DOUBLE) / sqrt(CAST((d0 - tx) * d0 AS DOUBLE)), 4) AS tau
        |FROM j ORDER BY event_type""".stripMargin),
    // X198: tie-aware Spearman rank correlation (n_chars vs token
    // count) per language — doubled ranks keep the tie averages in
    // integer space
    Entry("stats_spearman", Inference.spearmanByLang _,
      // Spearman twin: identical doubled average ranks (2·rank_min +
      // ties − 1) in HUGEINT, identical Pearson-on-ranks sequence with
      // sqrt-before-product
      """WITH base AS (
        | SELECT lang, CAST(n_chars AS BIGINT) AS x,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS y
        | FROM documents),
        |r AS (
        | SELECT lang,
        |  CAST(2 * rank() OVER (PARTITION BY lang ORDER BY x)
        |       + count(*) OVER (PARTITION BY lang, x) - 1 AS HUGEINT) AS r2x,
        |  CAST(2 * rank() OVER (PARTITION BY lang ORDER BY y)
        |       + count(*) OVER (PARTITION BY lang, y) - 1 AS HUGEINT) AS r2y
        | FROM base),
        |a AS (
        | SELECT lang, CAST(count(*) AS HUGEINT) AS n,
        |  sum(r2x) AS sx, sum(r2y) AS sy,
        |  sum(r2x*r2x) AS sxx, sum(r2y*r2y) AS syy, sum(r2x*r2y) AS sxy
        | FROM r GROUP BY 1)
        |SELECT lang, CAST(n AS BIGINT) AS n,
        | round(CAST(n*sxy - sx*sy AS DOUBLE) /
        |  (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS rho
        |FROM a ORDER BY lang""".stripMargin),
    // X199: one-way ANOVA F of order value across order priorities —
    // exact DECIMAL group sums, fixed left-assoc cross-group fold
    Entry("q_anova", Inference.anovaPriority _,
      // ANOVA twin: exact HUGEINT group sums, then the SAME left-assoc
      // priority-ordered double fold ((((t1+t2)+t3)+t4)+t5 — the
      // aggregate() order on the Spark side) for SSW and ΣS²/n
      """WITH g AS (
        | SELECT o_orderpriority AS prio, CAST(count(*) AS HUGEINT) AS ng,
        |  CAST(sum(c) AS HUGEINT) AS sg, CAST(sum(c*c) AS HUGEINT) AS qg
        | FROM (SELECT o_orderpriority,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
        |       FROM orders
        |       WHERE o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
        |                                 '4-NOT SPECIFIED','5-LOW'))
        | GROUP BY 1),
        |t AS (
        | SELECT prio,
        |  CAST(ng*qg - sg*sg AS DOUBLE) / CAST(ng AS DOUBLE) AS tw,
        |  CAST(sg*sg AS DOUBLE) / CAST(ng AS DOUBLE) AS tb, ng, sg
        | FROM g),
        |tot AS (
        | SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS HUGEINT) AS s
        | FROM g),
        |f AS (
        | SELECT tot.k, tot.n,
        |  (CAST(0.0 AS DOUBLE)
        |   + (SELECT tw FROM t WHERE prio = '1-URGENT')
        |   + (SELECT tw FROM t WHERE prio = '2-HIGH')
        |   + (SELECT tw FROM t WHERE prio = '3-MEDIUM')
        |   + (SELECT tw FROM t WHERE prio = '4-NOT SPECIFIED')
        |   + (SELECT tw FROM t WHERE prio = '5-LOW')) / 10000.0 AS ssw,
        |  ((CAST(0.0 AS DOUBLE)
        |   + (SELECT tb FROM t WHERE prio = '1-URGENT')
        |   + (SELECT tb FROM t WHERE prio = '2-HIGH')
        |   + (SELECT tb FROM t WHERE prio = '3-MEDIUM')
        |   + (SELECT tb FROM t WHERE prio = '4-NOT SPECIFIED')
        |   + (SELECT tb FROM t WHERE prio = '5-LOW'))
        |   - CAST(tot.s * tot.s AS DOUBLE) / CAST(tot.n AS DOUBLE)) / 10000.0 AS ssb
        | FROM tot)
        |SELECT k, n, round(ssb, 4) AS ssb, round(ssw, 4) AS ssw,
        | round((ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE)), 4) AS f_stat,
        | round(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM f""".stripMargin),
    // X200: lang × source pointwise mutual information cells — exact
    // marginals over the bounded cell table, per-cell ln only
    Entry("stats_mutual_info", Inference.mutualInfoCells _,
      // PMI twin: marginals as window sums over the bounded cell table,
      // per-cell ln from exact-integer operands — no cross-cell float
      // accumulation anywhere, so round(4) has nothing to absorb but
      // the engines' shared ln
      """WITH cells AS (
        | SELECT lang, source, CAST(count(*) AS BIGINT) AS c_xy
        | FROM documents GROUP BY 1, 2),
        |m AS (
        | SELECT lang, source, c_xy,
        |  CAST(sum(c_xy) OVER (PARTITION BY lang) AS BIGINT) AS c_x,
        |  CAST(sum(c_xy) OVER (PARTITION BY source) AS BIGINT) AS c_y,
        |  CAST(sum(c_xy) OVER () AS BIGINT) AS n
        | FROM cells)
        |SELECT lang, source, c_xy, c_x, c_y,
        | round(ln(CAST(n * c_xy AS DOUBLE) / CAST(c_x * c_y AS DOUBLE)), 4) AS pmi,
        | round(1000.0 * (CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE))
        |       * ln(CAST(n * c_xy AS DOUBLE) / CAST(c_x * c_y AS DOUBLE)), 4) AS mi_millinat
        |FROM m ORDER BY lang, source""".stripMargin),
    // X201: two-sided CUSUM changepoint walk over daily counts —
    // the max(0, ·) recurrence in 100n-scaled exact integers
    Entry("q_cusum", TimeSeries.cusumDaily _,
      // CUSUM twin: the identical 100n-scaled integer recurrence as a
      // recursive CTE stepping rn → rn+1 per type
      """WITH RECURSIVE daily AS (
        | SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(cnt) AS s, count(*) AS n FROM daily GROUP BY 1),
        |ord AS (
        | SELECT d.event_type, d.day, d.cnt, t.s, t.n,
        |  row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
        | FROM daily d JOIN tot t USING (event_type)),
        |walk AS (
        | SELECT event_type, day, cnt, s, n, rn,
        |  greatest(CAST(0 AS BIGINT), 100*n*cnt - 101*s) AS up,
        |  greatest(CAST(0 AS BIGINT), 99*s - 100*n*cnt) AS dn
        | FROM ord WHERE rn = 1
        | UNION ALL
        | SELECT o.event_type, o.day, o.cnt, o.s, o.n, o.rn,
        |  greatest(CAST(0 AS BIGINT), w.up + 100*o.n*o.cnt - 101*o.s),
        |  greatest(CAST(0 AS BIGINT), w.dn + 99*o.s - 100*o.n*o.cnt)
        | FROM ord o JOIN walk w
        |  ON o.event_type = w.event_type AND o.rn = w.rn + 1)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(cnt AS BIGINT) AS cnt,
        | CAST(up AS BIGINT) AS cusum_up, CAST(dn AS BIGINT) AS cusum_dn,
        | CAST(CASE WHEN up > 500*s THEN 1 ELSE 0 END AS BIGINT) AS alarm_up,
        | CAST(CASE WHEN dn > 500*s THEN 1 ELSE 0 END AS BIGINT) AS alarm_dn
        |FROM walk ORDER BY event_type, day""".stripMargin),
    // X202: label-propagation communities over the mutual-kNN graph —
    // synchronous rounds, most-frequent-then-smallest label, all
    // integer
    Entry("graph_label_prop", (s, dir) =>
      Graph.labelPropagationEdges(
        Tables.embeddings(s, dir), bandedGraphEdges(s, dir), iters = 4),
      // label-propagation twin: banded mutual edges + 4 unrolled
      // synchronous rounds, (count DESC, label) argmax per node
      labelPropOracleSql(4)),
    // X203: Matryoshka truncation eval — top-10 overlap of
    // prefix-truncated cosine search vs the full 64-dim answer
    Entry("embed_matryoshka", (s, dir) =>
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir)),
      // Matryoshka twin: per-width exact-cosine top-10 arms over sliced
      // lists, overlap vs the materialized full-width answer
      matryoshkaOracleSql(Seq(8, 16, 32, 64), 10, 8)),
    // X204: leave-one-out kNN label classification over the banded
    // kNN graph — most-frequent-then-smallest neighbor vote
    Entry("embed_knn_classify", (s, dir) =>
      EmbeddingStats.knnClassify(
        Similarity.knnGraphBanded(Tables.embeddings(s, dir), 10,
          numPlanes = 0, bands = 4, maxBucket = 500),
        Tables.embeddings(s, dir)),
      // kNN-classify twin: the banded top-k substrate, neighbor label
      // votes, (count DESC, label) argmax
      s"""WITH ${bandedKnnTopSql(4, 500, 10)},
         |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS lab FROM embeddings),
         |votes AS (
         | SELECT t.q_id, l.lab AS nbr_label, count(*) AS cnt
         | FROM top t JOIN lab l ON l.id = t.c_id
         | GROUP BY 1, 2),
         |pred AS (
         | SELECT q_id, nbr_label AS predicted FROM (
         |  SELECT q_id, nbr_label,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cnt DESC, nbr_label) AS rn
         |  FROM votes) WHERE rn = 1)
         |SELECT p.q_id AS vec_id, o.lab AS label, p.predicted,
         | CAST(CASE WHEN o.lab = p.predicted THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM pred p JOIN lab o ON o.id = p.q_id ORDER BY vec_id""".stripMargin),
    // X205: per-vector silhouette via normalized-sum linearity — no
    // pairwise join, one label-sum broadcast
    Entry("embed_silhouette", (s, dir) =>
      EmbeddingStats.silhouette(Tables.embeddings(s, dir)),
      // silhouette twin: identical normalization (sequential
      // square-fold norm), per-label normalized sums rounded at 6 dp
      // rebuilt as ordered lists, the same dot/mean/argmin sequence;
      // + 0 folds DuckDB's -0.0
      """WITH v AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS g,
        |            CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |nv AS MATERIALIZED (
        | SELECT id, g, list_transform(e, x -> x / sqrt(list_inner_product(e, e))) AS w
        | FROM v),
        |u AS (SELECT g, unnest(w) AS x, unnest(range(1, len(w)+1)) AS pos FROM nv),
        |sdim AS (SELECT g, pos, round(sum(x), 6) AS sx FROM u GROUP BY 1, 2),
        |sv AS MATERIALIZED (SELECT g AS sg, list(sx ORDER BY pos) AS svec FROM sdim GROUP BY g),
        |cnt AS (SELECT g AS cg, count(*) AS n FROM v GROUP BY 1),
        |scored AS MATERIALIZED (
        | SELECT nv.id, nv.g, sv.sg, cnt.n, list_inner_product(nv.w, sv.svec) AS d
        | FROM nv CROSS JOIN sv JOIN cnt ON cnt.cg = sv.sg),
        |own AS (SELECT id, g, 1.0 - (d - 1.0) / CAST(n - 1 AS DOUBLE) AS a_dist
        |        FROM scored WHERE g = sg AND n > 1),
        |oth AS (SELECT id, od AS b_dist, sg AS nearest_other FROM (
        |  SELECT id, 1.0 - d / CAST(n AS DOUBLE) AS od, sg,
        |   row_number() OVER (PARTITION BY id
        |     ORDER BY 1.0 - d / CAST(n AS DOUBLE), sg) AS rn
        |  FROM scored WHERE g <> sg) WHERE rn = 1)
        |SELECT own.id AS vec_id, own.g AS label,
        | round(a_dist, 4) + 0 AS a_dist, round(b_dist, 4) + 0 AS b_dist,
        | nearest_other,
        | round((b_dist - a_dist) / greatest(a_dist, b_dist), 4) + 0 AS sil
        |FROM own JOIN oth USING (id) ORDER BY vec_id""".stripMargin),
    // X206: Zipf power-law fit over the top-64 token frequency
    // spectrum
    Entry("stats_zipf", (s, dir) =>
      TextStats.zipfFit(Tables.documents(s, dir)),
      // Zipf twin: same vocabulary cut and (n DESC, tok) ranking, same
      // OLS closed forms over the 64-row ln table
      """WITH toks AS (
        | SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |types AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
        |top AS (
        | SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, tok) AS DOUBLE)) AS x,
        |  ln(CAST(n AS DOUBLE)) AS y
        | FROM (SELECT tok, n FROM types ORDER BY n DESC, tok LIMIT 64)),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(x) AS sx, sum(y) AS sy,
        |      sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy FROM top)
        |SELECT k,
        | round((k*sxy - sx*sy) / (k*sxx - sx*sx), 4) + 0 AS slope,
        | round((sy - ((k*sxy - sx*sy) / (k*sxx - sx*sx)) * sx) / k, 4) + 0 AS intercept,
        | round(((k*sxy - sx*sy) * (k*sxy - sx*sy)) /
        |       ((k*sxx - sx*sx) * (k*syy - sy*sy)), 4) AS r2
        |FROM a""".stripMargin),
    // X207: feature-hashing vectorizer — per-row bucket histogram
    // inside the scan, zero vocabulary pass
    Entry("text_feature_hash", (s, dir) =>
      TextStats.featureHashing(Tables.documents(s, dir)),
      // feature-hashing twin: the same md5-digit bucket via strpos
      // arithmetic, grouped instead of row-folded — same counts
      """WITH toks AS (
        | SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |         x -> len(x) > 0)) AS tok
        | FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        | CAST((strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) % 16 AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM toks GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin),
    // X208: plain-text line ingest round trip — tab-delimited stage,
    // parse-back, per-lang rollup vs the original parquet
    Entry("ingest_text", graft.sources.TextIngest.ingestEntry _,
      // text-ingest twin reads the ORIGINAL parquet: any tab-splitting
      // or encoding drift in the text round trip breaks the hash
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(len(text)) AS BIGINT) AS n_chars,
        | CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      t -> len(t) > 0))) AS BIGINT) AS n_tokens,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // X209: 3-core degree peeling over the mutual-kNN graph (8
    // unrolled rounds)
    Entry("graph_kcore", (s, dir) =>
      Graph.kCoreEdges(bandedGraphEdges(s, dir)),
      // k-core twin: 8 unrolled peeling rounds over the banded mutual
      // edges
      kCoreOracleSql(3, 8)),
    // X210: per-user time-decayed engagement — exact integer
    // half-life weights over a fixed 10^16 denominator
    Entry("q_decay_score", (s, dir) => EventAnalytics.decayScore(s, dir),
      // decay twin: the same integer weight ladder indexed by capped
      // elapsed half-lives, HUGEINT sum, one display divide
      {
        val w = EventAnalytics.decayWeights(16).mkString("[", ", ", "]")
        s"""WITH ev AS (
           | SELECT user_id, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
           |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents
           | FROM events),
           |r AS (SELECT max(day) AS ref FROM ev),
           |k AS (SELECT user_id, cents,
           |       least(CAST(floor((ref - day) / 7) AS INT), 16) AS kk
           |      FROM ev CROSS JOIN r),
           |w AS (SELECT user_id, cents * ($w)[kk + 1] AS num FROM k)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           | round(CAST(sum(num) AS DOUBLE) / 1.0e16, 6) AS decay_score
           |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
      }),
    // X211: Welch's unequal-variance t-test of event value, purchase
    // vs click — exact cent sums, fixed IEEE combine
    Entry("stats_welch_ttest", (s, dir) => Inference.welchTTest(s, dir),
      // Welch twin: identical exact cent sums, identical fixed IEEE
      // combine (explicit x*x, never pow)
      """WITH g AS (
        | SELECT event_type, CAST(count(*) AS DECIMAL(38,0)) AS n,
        |  sum(c) AS s, sum(c * c) AS q
        | FROM (SELECT event_type, CAST(round(value * 100) AS DECIMAL(38,0)) AS c
        |       FROM events
        |       WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL)
        | GROUP BY 1),
        |one AS (SELECT
        | max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
        | max(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
        | max(CASE WHEN event_type = 'purchase' THEN q END) AS q1,
        | max(CASE WHEN event_type = 'click' THEN n END) AS n2,
        | max(CASE WHEN event_type = 'click' THEN s END) AS s2,
        | max(CASE WHEN event_type = 'click' THEN q END) AS q2
        | FROM g),
        |f AS (SELECT n1, n2, s1, s2,
        | CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        | CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        | CAST(n1*q1 - s1*s1 AS DOUBLE) / CAST(n1*(n1-1) AS DOUBLE)
        |   / CAST(n1 AS DOUBLE) AS se1,
        | CAST(n2*q2 - s2*s2 AS DOUBLE) / CAST(n2*(n2-1) AS DOUBLE)
        |   / CAST(n2 AS DOUBLE) AS se2
        | FROM one)
        |SELECT 'purchase' AS type_a, 'click' AS type_b,
        | CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
        | round(m1 / 100.0, 4) AS mean_a, round(m2 / 100.0, 4) AS mean_b,
        | round((m1 - m2) / sqrt(se1 + se2), 4) AS t_stat,
        | round(((se1 + se2) * (se1 + se2)) /
        |   ((se1 * se1) / CAST(n1 - 1 AS DOUBLE) +
        |    (se2 * se2) / CAST(n2 - 1 AS DOUBLE)), 4) AS df
        |FROM f""".stripMargin),
    // X212: Cramér's V for lang×source — per-cell χ² terms quantized
    // to 10⁻⁶ and summed as exact longs, no float accumulation
    Entry("stats_cramers_v", (s, dir) => Inference.cramersV(s, dir),
      // Cramér's V twin: the same 10⁻⁶-quantized per-cell χ² terms
      // summed as exact integers
      """WITH cells AS (
        | SELECT lang, source, CAST(count(*) AS DECIMAL(38,0)) AS c_xy
        | FROM documents GROUP BY 1, 2),
        |m AS (SELECT c_xy,
        |  sum(c_xy) OVER (PARTITION BY lang) AS c_x,
        |  sum(c_xy) OVER (PARTITION BY source) AS c_y,
        |  sum(c_xy) OVER () AS n, lang, source
        | FROM cells),
        |t AS (SELECT n, lang, source,
        |  CAST(round((CAST(n*c_xy - c_x*c_y AS DOUBLE) *
        |              CAST(n*c_xy - c_x*c_y AS DOUBLE)) /
        |             CAST(n*c_x*c_y AS DOUBLE) * 1e6) AS BIGINT) AS t6
        | FROM m),
        |f AS (SELECT max(n) AS n, CAST(sum(t6) AS BIGINT) AS chi2_6,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS r,
        |  CAST(count(DISTINCT source) AS BIGINT) AS c FROM t)
        |SELECT CAST(n AS BIGINT) AS n, r, c,
        | round(CAST(chi2_6 AS DOUBLE) / 1e6, 4) AS chi2,
        | round(sqrt((CAST(chi2_6 AS DOUBLE) / 1e6) /
        |   (CAST(n AS DOUBLE) * (CAST(least(r, c) AS DOUBLE) - 1.0))), 4) AS v
        |FROM f""".stripMargin),
    // X213: degree assortativity of the mutual-kNN graph — Pearson of
    // endpoint degrees from exact integer sums over symmetric edges
    Entry("graph_assortativity", (s, dir) =>
      Graph.assortativityEdges(bandedGraphEdges(s, dir)),
      // assortativity twin: same banded mutual edges, exact DECIMAL
      // moment sums, sqrt-before-product
      assortativityOracleSql),
    // X214: gaps-and-islands outage report over each type's minute
    // clock — one calendar-bounded lead window after the map-side
    // per-minute rollup
    Entry("q_gaps", TimeSeries.minuteGaps _,
      // gaps twin: the same minute bucketing (floor of an exact-integer
      // microsecond difference) and lead comparison
      """WITH h AS (
        | SELECT DISTINCT event_type,
        |  CAST(floor((epoch_us(ts) -
        |    epoch_us(TIMESTAMP '2024-01-01 00:00:00')) / 60000000.0)
        |    AS BIGINT) AS mn
        | FROM events),
        |g AS (SELECT event_type, mn,
        |  lead(mn) OVER (PARTITION BY event_type ORDER BY mn) AS nxt
        | FROM h)
        |SELECT event_type, mn + 1 AS gap_start_min, nxt - 1 AS gap_end_min,
        | nxt - mn - 1 AS gap_minutes
        |FROM g WHERE nxt > mn + 1 ORDER BY event_type, gap_start_min""".stripMargin),
    // X215: Kaplan–Meier survival of purchase inter-arrival times —
    // censored tails from each user's last gap; the KM product walks
    // a bounded left-assoc fold (the cusum move)
    Entry("q_survival", (s, dir) => EventAnalytics.kmSurvival(s, dir),
      // KM twin: identical durations, then the identical left-assoc
      // product walk as a recursive CTE (the cusum pattern)
      """WITH RECURSIVE p AS (
        | SELECT user_id, CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS s
        | FROM events WHERE event_type = 'purchase'),
        |hz AS (SELECT max(s) AS hmax FROM p),
        |dd AS (SELECT user_id, s,
        |  lead(s) OVER (PARTITION BY user_id ORDER BY s) AS nxt FROM p),
        |durs AS (SELECT
        |  CAST(floor((coalesce(nxt, hmax) - s) / 3600.0) AS BIGINT) AS t,
        |  CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS obs
        | FROM dd CROSS JOIN hz),
        |byt AS (SELECT t, CAST(sum(obs) AS BIGINT) AS d,
        |  CAST(sum(1 - obs) AS BIGINT) AS c FROM durs GROUP BY 1),
        |ord AS (SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn FROM byt),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS total FROM byt),
        |w AS (
        | SELECT CAST(0 AS BIGINT) AS rn, total AS rem,
        |  CAST(1.0 AS DOUBLE) AS surv, CAST(NULL AS BIGINT) AS t,
        |  CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS c,
        |  CAST(NULL AS BIGINT) AS n_risk
        | FROM tot
        | UNION ALL
        | SELECT o.rn, w.rem - o.d - o.c,
        |  CASE WHEN o.d > 0 THEN w.surv *
        |    (CAST(w.rem - o.d AS DOUBLE) / CAST(w.rem AS DOUBLE))
        |   ELSE w.surv END,
        |  o.t, o.d, o.c, w.rem
        | FROM w JOIN ord o ON o.rn = w.rn + 1)
        |SELECT t AS t_hours, d AS events, c AS censored, n_risk,
        | round(surv, 6) AS survival
        |FROM w WHERE rn > 0 ORDER BY t_hours""".stripMargin),
    // X216: Flesch reading-ease per document — three regex-counted
    // integers per row inside the scan, one fixed formula
    Entry("text_readability", (s, dir) =>
      TextStats.readability(Tables.documents(s, dir)),
      // readability twin: the SAME two regexes and the same exact
      // integer half-up divisions (never round(double) — engine
      // double-rounding diverges on the W/S half-grid)
      """WITH b AS (SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_words,
        | CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |   AS n_syllables,
        | greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
        |   AS n_sentences
        | FROM documents WHERE text IS NOT NULL),
        |f AS (SELECT doc_id, n_sentences, n_words, n_syllables,
        | 206835 * n_sentences * n_words - 1015 * n_words * n_words
        |   - 84600 * n_syllables * n_sentences AS fn,
        | 1000 * n_sentences * n_words AS fd
        | FROM b WHERE n_words > 0)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        | ((n_words * 10000 * 2 + n_sentences
        |   - (n_words * 10000 * 2 + n_sentences) % (n_sentences * 2))
        |  / (n_sentences * 2)) / 1e4 AS words_per_sentence,
        | ((n_syllables * 10000 * 2 + n_words
        |   - (n_syllables * 10000 * 2 + n_words) % (n_words * 2))
        |  / (n_words * 2)) / 1e4 AS syllables_per_word,
        | (CASE WHEN fn >= 0 THEN
        |   ((fn * 100 * 2 + fd - (fn * 100 * 2 + fd) % (fd * 2)) / (fd * 2))
        |  ELSE
        |   -(((-fn) * 100 * 2 + fd - ((-fn) * 100 * 2 + fd) % (fd * 2))
        |     / (fd * 2))
        |  END) / 100.0 AS flesch
        |FROM f ORDER BY doc_id""".stripMargin),
    // X217: Dirichlet-smoothed query likelihood top-20 — per-term tf
    // inside the scan, one broadcast stats row, literal term-order sum
    Entry("search_lm_dirichlet", (s, dir) =>
      Search.lmDirichletTopK(Tables.documents(s, dir),
        Seq("spark", "vector", "slow"), 20)
        .select(col("doc_id"), round(col("score"), 4).as("score")),
      // Dirichlet QL twin: per-term tf columns, one stats row, the same
      // literal left-assoc term sum
      lmDirichletOracleSql(
      Seq("spark", "vector", "slow"), 20, 2000.0)),
    // X218: Lloyd k-means (k=8, 3 iterations, smallest-id seeds) on
    // the 10⁻⁶ integer grid — broadcast-literal assignment, one
    // graft_vec_sum update per round
    Entry("embed_kmeans", (s, dir) =>
      Clustering.kmeans(Tables.embeddings(s, dir)),
      // k-means twin: the identical unrolled Lloyd walk (see builder)
      kmeansOracleSql(8, 3)),
    // X219: market-basket support/confidence/lift over order line
    // items — bounded per-order pair join, exact half-up ratios
    Entry("q_basket_lift", (s, dir) => EventAnalytics.basketLift(s, dir),
      // basket twin: same bounded pair join, same exact half-up lift /
      // confidence divisions
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM it),
        |ci AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM it GROUP BY 1),
        |pr AS (SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |j AS (SELECT pa, pb, c_ab, ca.c AS c_a, cb.c AS c_b, n_orders
        |      FROM pr JOIN ci ca ON ca.p = pr.pa
        |      JOIN ci cb ON cb.p = pr.pb CROSS JOIN n)
        |SELECT pa, pb, c_ab, c_a, c_b,
        | ((c_ab*n_orders*10000*2 + c_a*c_b
        |   - (c_ab*n_orders*10000*2 + c_a*c_b) % (c_a*c_b*2))
        |  / (c_a*c_b*2)) / 1e4 AS lift,
        | ((c_ab*10000*2 + c_a - (c_ab*10000*2 + c_a) % (c_a*2))
        |  / (c_a*2)) / 1e4 AS confidence
        |FROM j ORDER BY lift DESC, pa, pb LIMIT 50""".stripMargin),
    // X220: seasonal-naive forecast error + MASE per event type —
    // lag-7 vs lag-1 integer error sums on the daily table
    Entry("q_snaive", (s, dir) => TimeSeries.snaiveDaily(s, dir),
      // snaive twin: same daily rollup, same lag errors, same exact
      // half-up MAE and MASE divisions
      """WITH daily AS (
        | SELECT event_type,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, cnt,
        |  abs(cnt - lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day))
        |    AS e1,
        |  abs(cnt - lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day))
        |    AS e7
        | FROM daily),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(e1) AS BIGINT) AS s1, CAST(count(e1) AS BIGINT) AS n1,
        |  CAST(sum(e7) AS BIGINT) AS s7, CAST(count(e7) AS BIGINT) AS n7
        | FROM l GROUP BY 1 HAVING count(e7) > 0 AND sum(e1) > 0)
        |SELECT event_type, n_days,
        | ((s7*10000*2 + n7 - (s7*10000*2 + n7) % (n7*2)) / (n7*2)) / 1e4
        |   AS mae_snaive,
        | ((s1*10000*2 + n1 - (s1*10000*2 + n1) % (n1*2)) / (n1*2)) / 1e4
        |   AS mae_naive,
        | ((s7*n1*10000*2 + n7*s1 - (s7*n1*10000*2 + n7*s1) % (n7*s1*2))
        |  / (n7*s1*2)) / 1e4 AS mase
        |FROM a ORDER BY event_type""".stripMargin),
    // X221: deterministic hash train/val/test split — pure function
    // of doc_id, scan-stage, rerun- and growth-stable
    Entry("sample_split", (s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir)),
      // split twin: the identical salted-md5 cut points (thresholds
      // interpolated from the SAME Scala doubles the engine uses)
      s"""SELECT doc_id, lang,
         | CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |        < '${Sampling.rateThresholdHex(0.8)}' THEN 'train'
         |      WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |        < '${Sampling.rateThresholdHex(0.8 + 0.1)}' THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),
    // X222: declarative constraint audit — per-table domain rules
    // fused into one scan each, FK rules as unhinted anti-joins
    Entry("q_constraint_audit", (s, dir) =>
      DataQuality.constraintAudit(s, dir),
      // constraint-audit twin: the same rule set — domain rules as one
      // CASE-sum per table, FK rules as NOT EXISTS anti counts
      """SELECT * FROM (
        | SELECT 'lineitem_qty_range' AS rule,
        |  CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50
        |                THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |  CAST(count(*) AS BIGINT) AS checked FROM lineitem
        | UNION ALL
        | SELECT 'lineitem_discount_range',
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem
        | UNION ALL
        | SELECT 'lineitem_price_positive',
        |  CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem
        | UNION ALL
        | SELECT 'orders_price_positive',
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM orders
        | UNION ALL
        | SELECT 'orders_status_domain',
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM orders
        | UNION ALL
        | SELECT 'orders_priority_domain',
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH',
        |    '3-MEDIUM','4-NOT SPECIFIED','5-LOW') THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM orders
        | UNION ALL
        | SELECT 'documents_text_nonempty',
        |  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
        |                THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM documents
        | UNION ALL
        | SELECT 'documents_nchars_consistent',
        |  CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM documents
        | UNION ALL
        | SELECT 'lineitem_fk_orders',
        |  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        | UNION ALL
        | SELECT 'orders_fk_customer',
        |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS BIGINT),
        |  CAST((SELECT count(*) FROM orders) AS BIGINT)
        |) ORDER BY rule""".stripMargin),
    // X223: snapshot reconciliation diff — per-user event state as of
    // day 8 vs day 31 through ONE null-safe full outer join
    Entry("q_snapshot_diff", (s, dir) =>
      DataQuality.snapshotDiffEvents(s, dir),
      // snapshot-diff twin: the same two per-user states, one null-safe
      // full outer join, the same 4-way classification
      """WITH a AS (SELECT coalesce(user_id::VARCHAR, chr(1)) || '|' ||
        |    coalesce(event_type, chr(1)) AS k,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS max_cents
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1),
        |b AS (SELECT coalesce(user_id::VARCHAR, chr(1)) || '|' ||
        |    coalesce(event_type, chr(1)) AS k,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS max_cents
        |  FROM events WHERE ts < TIMESTAMP '2024-01-31' GROUP BY 1),
        |j AS (SELECT CASE
        |    WHEN a.k IS NULL THEN 'added'
        |    WHEN b.k IS NULL THEN 'removed'
        |    WHEN a.max_cents IS NOT DISTINCT FROM b.max_cents
        |      THEN 'unchanged'
        |    ELSE 'changed' END AS change_type
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT change_type, CAST(count(*) AS BIGINT) AS n
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    // X224: order-invariant dataset checksum per lang — commutative
    // 60-bit md5-prefix sum, partitioning/retry-invariant
    Entry("stats_checksum", (s, dir) =>
      DataQuality.datasetChecksum(Tables.documents(s, dir)),
      // checksum twin: identical canonical rendering (every column
      // through the same coalesce-to-U+0001 NULL sentinel as the Spark
      // side, so NULL rows hash deterministically instead of nulling
      // the '||' chain) and 60-bit md5 prefix, summed exactly (HUGEINT)
      // and rendered as digits
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CAST('0x' || substr(md5(
        |   coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |   coalesce(lang, chr(1)) || '|' ||
        |   coalesce(source, chr(1)) || '|' ||
        |   coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
        |   coalesce(text, chr(1))), 1, 15) AS BIGINT))
        |  AS VARCHAR) AS checksum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // X225: Theil–Sen robust trend per event type — median pairwise
    // slope over the calendar-bounded daily table
    Entry("q_theil_sen", (s, dir) => TimeSeries.theilSenDaily(s, dir),
      // theil-sen twin: same daily rollup, same pair join, same
      // two-middle exact median selection
      """WITH daily AS (
        | SELECT event_type,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |  CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
        |    AS slope,
        |  a.day AS d1, b.day AS d2
        | FROM daily a JOIN daily b
        |   ON a.event_type = b.event_type AND a.day < b.day),
        |r AS (SELECT event_type, slope,
        |  row_number() OVER (PARTITION BY event_type
        |                     ORDER BY slope, d1, d2) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM p)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
        | round(avg(slope), 4) AS slope
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // X226: DBSCAN density clustering over the banded candidate
    // graph — deterministic core/border/noise roles, min-label
    // clusters over core-core edges
    Entry("embed_dbscan", (s, dir) =>
      Clustering.dbscan(Tables.embeddings(s, dir)),
      // dbscan twin: the identical banded candidate graph, core =
      // degree >= 3, min-label closure over core-core edges, min-core
      // border assignment
      s"""WITH RECURSIVE v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |${autoSrpBandedSql(4)},
        |ok AS (SELECT band, bhash FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 200),
        |cand AS MATERIALIZED (
        | SELECT DISTINCT a.id AS id1, b.id AS id2
        | FROM banded a JOIN ok USING (band, bhash) JOIN banded b
        |  ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
        |pairs AS MATERIALIZED (
        | SELECT c.id1, c.id2
        | FROM cand c JOIN v v1 ON v1.id = c.id1 JOIN v v2 ON v2.id = c.id2
        | WHERE list_cosine_similarity(v1.e, v2.e) >= 0.35),
        |sym AS MATERIALIZED (
        | SELECT id1, id2 FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |core AS MATERIALIZED (
        | SELECT id1 AS id FROM sym GROUP BY 1 HAVING count(*) >= 3),
        |ce AS (SELECT s.id1, s.id2 FROM sym s
        |       JOIN core c1 ON c1.id = s.id1 JOIN core c2 ON c2.id = s.id2
        |       WHERE s.id1 < s.id2),
        |edges AS MATERIALIZED (
        | SELECT id1 AS a, id2 AS b FROM ce
        | UNION SELECT id2, id1 FROM ce),
        |reach(id, r) AS (
        | SELECT a, a FROM edges
        | UNION
        | SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        |corec AS MATERIALIZED (
        | SELECT core.id, coalesce(comp.cluster, core.id) AS cluster
        | FROM core LEFT JOIN comp ON comp.id = core.id),
        |borderc AS (SELECT s.id1 AS id, min(cc.cluster) AS cluster
        | FROM sym s JOIN corec cc ON cc.id = s.id2
        | WHERE s.id1 NOT IN (SELECT id FROM core) GROUP BY 1),
        |lab AS (SELECT id, cluster, 'core' AS role FROM corec
        |        UNION ALL SELECT id, cluster, 'border' FROM borderc)
        |SELECT v.id AS vec_id, coalesce(lab.role, 'noise') AS role,
        | coalesce(lab.cluster, -1) AS cluster
        |FROM v LEFT JOIN lab ON lab.id = v.id ORDER BY vec_id""".stripMargin),
    // X227: WOE / information value of order priority predicting
    // high-value orders — exact bin counts, fixed IEEE tail
    Entry("stats_woe_iv", (s, dir) => Inference.woeIv(s, dir),
      // woe/iv twin: identical exact bin counts, retained-bin totals,
      // and the identical ln/multiply/round tail
      """WITH bins AS (
        | SELECT o_orderpriority AS priority,
        |  CAST(sum(CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS pos,
        |  CAST(sum(CASE WHEN o_totalprice < 250000.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS neg
        | FROM orders GROUP BY 1
        | HAVING sum(CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END) > 0
        |    AND sum(CASE WHEN o_totalprice < 250000.0 THEN 1 ELSE 0 END) > 0),
        |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS tp,
        |               CAST(sum(neg) AS BIGINT) AS tn FROM bins)
        |SELECT priority, pos, neg,
        | round(ln((CAST(pos AS DOUBLE) / CAST(tp AS DOUBLE)) /
        |          (CAST(neg AS DOUBLE) / CAST(tn AS DOUBLE))), 6) AS woe,
        | round(((CAST(pos AS DOUBLE) / CAST(tp AS DOUBLE)) -
        |        (CAST(neg AS DOUBLE) / CAST(tn AS DOUBLE))) *
        |   ln((CAST(pos AS DOUBLE) / CAST(tp AS DOUBLE)) /
        |      (CAST(neg AS DOUBLE) / CAST(tn AS DOUBLE))), 6) AS iv_term
        |FROM bins CROSS JOIN tot ORDER BY priority""".stripMargin),
    // X228: linear-interpolation resample of the per-minute peak-value
    // series, hash-verified through exact per-type rollup sums
    Entry("q_interp_resample", (s, dir) =>
      TimeSeries.interpResampleSummary(s, dir),
      // interp-resample twin: identical minute bucketing, spine,
      // bracket windows, half-up rational fill, and rollup sums
      """WITH pm AS (
        | SELECT event_type,
        |  CAST(floor((epoch_us(ts) -
        |    epoch_us(TIMESTAMP '2024-01-01 00:00:00')) / 60000000.0)
        |    AS BIGINT) AS minute,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2
        | -- a minute whose every value is NULL is a GAP, mirroring the
        | -- engine's IGNORE-NULLS filter (TimeSeries.interpResampleMinute):
        | -- without this, NULL minutes would extend the grid and surface
        | -- as NULL-fill 'interp' rows on NULL-bearing data
        | HAVING max(CAST(round(value * 100) AS BIGINT)) IS NOT NULL),
        |grid AS (
        | SELECT event_type, unnest(range(m0, m1 + 1)) AS minute
        | FROM (SELECT event_type, min(minute) AS m0, max(minute) AS m1
        |       FROM pm GROUP BY 1)),
        |br AS (
        | SELECT g.event_type, g.minute, pm.cents,
        |  last_value(pm.cents IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN pm.cents IS NOT NULL THEN g.minute END
        |    IGNORE NULLS) OVER wp AS pmn,
        |  first_value(pm.cents IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN pm.cents IS NOT NULL THEN g.minute END
        |    IGNORE NULLS) OVER wn AS nm
        | FROM grid g LEFT JOIN pm
        |   ON pm.event_type = g.event_type AND pm.minute = g.minute
        | WINDOW
        |  wp AS (PARTITION BY g.event_type ORDER BY g.minute
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  wn AS (PARTITION BY g.event_type ORDER BY g.minute
        |         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
        |f AS (
        | SELECT event_type,
        |  CASE WHEN cents IS NOT NULL THEN cents
        |   ELSE ((pv * (nm - minute) + nv * (minute - pmn)) * 2 + (nm - pmn)
        |     - ((pv * (nm - minute) + nv * (minute - pmn)) * 2 + (nm - pmn))
        |       % ((nm - pmn) * 2)) // ((nm - pmn) * 2) END AS cents_f,
        |  CASE WHEN cents IS NOT NULL THEN 'actual' ELSE 'interp' END AS src
        | FROM br)
        |SELECT event_type,
        | CAST(sum(CASE WHEN src = 'actual' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_actual,
        | CAST(sum(CASE WHEN src = 'interp' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_interp,
        | CAST(sum(CASE WHEN src = 'actual' THEN cents_f ELSE 0 END)
        |   AS BIGINT) AS actual_cents,
        | CAST(sum(CASE WHEN src = 'interp' THEN cents_f ELSE 0 END)
        |   AS BIGINT) AS interp_cents
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    // X229: nearest-bracket resample — step-fill sibling of X228 for
    // quantized signals where a linear blend is meaningless; each gap
    // minute takes the nearer observed bracket, previous wins ties
    Entry("q_interp_nearest", (s, dir) =>
      TimeSeries.nearestResampleSummary(s, dir),
      // nearest-bracket twin: the SAME per-minute pm CTE (incl. the
      // all-NULL-minute gap filter) paired by lead(); each gap minute
      // takes the nearer bracket, previous wins ties — one integer
      // distance compare, no arithmetic to diverge on
      """WITH pm AS (
        | SELECT event_type,
        |  CAST(floor((epoch_us(ts) -
        |    epoch_us(TIMESTAMP '2024-01-01 00:00:00')) / 60000000.0)
        |    AS BIGINT) AS minute,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2
        | HAVING max(CAST(round(value * 100) AS BIGINT)) IS NOT NULL),
        |nx AS (
        | SELECT event_type, minute, cents,
        |  lead(minute) OVER (PARTITION BY event_type ORDER BY minute) AS nm,
        |  lead(cents)  OVER (PARTITION BY event_type ORDER BY minute) AS nv
        | FROM pm),
        |gaps AS (
        | SELECT event_type, unnest(range(minute + 1, nm)) AS m,
        |        minute AS pmn, cents AS pv, nm, nv
        | FROM nx WHERE nm IS NOT NULL AND nm > minute + 1),
        |f AS (
        | SELECT event_type, cents, 'actual' AS src FROM pm
        | UNION ALL
        | SELECT event_type,
        |  CASE WHEN (m - pmn) <= (nm - m) THEN pv ELSE nv END AS cents,
        |  'nearest' AS src
        | FROM gaps)
        |SELECT event_type,
        | CAST(sum(CASE WHEN src = 'actual' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_actual,
        | CAST(sum(CASE WHEN src = 'nearest' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_nearest,
        | CAST(sum(CASE WHEN src = 'actual' THEN cents ELSE 0 END)
        |   AS BIGINT) AS actual_cents,
        | CAST(sum(CASE WHEN src = 'nearest' THEN cents ELSE 0 END)
        |   AS BIGINT) AS nearest_cents
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
  ))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap

  lazy val oracleSql: Map[String, String] = entries.map(e => e.name -> e.oracle).toMap

  /** The entries named in `only` (comma-separated; `None` selects all),
    * in name order. Throws naming every unknown name, so a misspelled
    * filter fails before any work instead of selecting nothing. */
  def selected(only: Option[String]): Seq[Entry] = {
    val byName = entries.sortBy(_.name)
    filterNames(only, queries.keySet).fold(byName)(names => byName.filter(e => names(e.name)))
  }

  /** The names a comma-separated filter lists (`None` without one),
    * checked against `known`: throws naming every unknown name, or when
    * the filter names none. */
  private[graft] def filterNames(only: Option[String], known: Set[String]): Option[Set[String]] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).map { names =>
      val unknown = names -- known
      require(unknown.isEmpty, s"unknown names: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, "the filter names none")
      names
    }

  /** The graph family's shared edge substrate: undirected mutual edges
    * of the banded kNN graph at AUTO band width (the oracle recomputes
    * the width from count(*), so the banding stays bit-reproducible at
    * every SF — a pinned width caps out at 10× and drops every edge). */
  private def bandedGraphEdges(s: SparkSession, dir: String): DataFrame =
    Graph.undirectedMutual(Similarity.knnGraphBanded(
      Tables.embeddings(s, dir), 10, numPlanes = 0, bands = 4, maxBucket = 500))
}
