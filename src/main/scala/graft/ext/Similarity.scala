package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors,
  * L2-normalized in the fixture but not assumed so — full cosine is
  * computed). North-star extensions, SURVEY.md §7.2 step 8.
  *
  * Scale design: brute-force cosine top-k is the correctness baseline —
  * one broadcast of the query vector(s), a codegen'd higher-order-function
  * dot product per row, and a TakeOrderedAndProject (per-partition heap)
  * instead of a global sort. The LSH variant is the 100 TB path: random
  * hyperplane signatures turn the all-pairs problem into a bucket-keyed
  * shuffle, and only within-bucket candidates get exact scoring.
  *
  * Every ranked `(q_id, rank)` row runs on one top-k vector-search
  * skeleton: a query set ([[querySet]], the first n vectors keyed
  * `q_id`) broadcast against the corpus, a candidate scorer rounded
  * before ranking, and a per-key top-k with an ascending id tie-break
  * ([[topK]]); the two-stage retrievals end in one exact-cosine re-rank
  * ([[exactRerank]]). Their DuckDB twins share the oracle fragments
  * [[cosineSql]] and [[topKSql]]. Operators and oracles stay independent
  * code: a bug in a shared oracle fragment fails many rows loudly.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bounded re-resolve budget for a blue-green batch that raced an
    * index rebuild mid-execution (see [[annServeStreamBlueGreen]]).
    * One retry already covers the race (the re-resolve reads the NEW
    * version, whose files a further rebuild would have to delete to
    * race again); a second absorbs back-to-back rebuilds under a slow
    * batch. Past that, something other than the race is wrong and the
    * query should fail loudly. */
  private val BlueGreenRaceRetries = 2

  /** The bounded cause chain of `t` (the failure itself first) — both
    * race signatures below search it. */
  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)

  /** Does this failure's cause chain say "the files the plan resolved
    * no longer exist"? — the signature of a read racing a rebuild's
    * drop+recreate. Spark surfaces it as FAILED_READ_FILE.FILE_NOT_EXIST
    * (a SparkException error class) or a raw FileNotFoundException,
    * depending on where in the scan the miss lands. */
  private def isMissingFileError(t: Throwable): Boolean =
    causes(t).exists {
      case _: java.io.FileNotFoundException => true
      case e =>
        val m = Option(e.getMessage).getOrElse("")
        m.contains("FAILED_READ_FILE") || m.contains("FILE_NOT_EXIST") ||
          m.contains("does not exist")
    }

  /** The full rebuild-race signature: mid-execution file loss
    * ([[isMissingFileError]]) OR the resolve-phase variants — the
    * rebuild's drop+recreate landing while the serve batch is fetching
    * the version/model surfaces as a missing TABLE (the catalog window
    * between drop and recreate), not missing files. */
  private def isRebuildRaceError(t: Throwable): Boolean =
    isMissingFileError(t) || causes(t).exists {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => true
      case e =>
        val m = Option(e.getMessage).getOrElse("")
        m.contains("TABLE_OR_VIEW_NOT_FOUND") ||
          m.contains("Table or view not found")
    }

  /** Bound on the blue-green settle loop: each pass is one catalog
    * metadata fetch + plan construction, so exhausting it means the
    * index is being rebuilt/appended faster than a plan can be built —
    * an operational misconfiguration to surface, not to spin on. */
  private val BlueGreenSettleRetries = 32

  /** cosine(a, b) in double precision via higher-order folds — the
    * pure-built-in formulation, kept as the reference implementation the
    * native expression is tested against. Divisors are null-guarded:
    * a zero-norm side yields NULL (the family law — see the native
    * expression's scaladoc); a bare `/ sqrt(0)` would instead throw
    * DIVIDE_BY_ZERO under ANSI. */
  def cosineHof(a: String, b: String): Column = {
    def dot(x: String, y: String) = expr(
      s"aggregate(zip_with($x, $y, (p, q) -> cast(p AS DOUBLE) * cast(q AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    def norm(x: String) = {
      val n = sqrt(dot(x, x))
      when(n =!= 0.0, n)
    }
    dot(a, b) / norm(a) / norm(b)
  }

  /** cosine(a, b) through the native fused-loop Catalyst expression
    * (graft.functions.CosineSimilarity) — no intermediate arrays, stays in
    * whole-stage codegen. Identical accumulation order to cosineHof. */
  private def cosine(spark: SparkSession, a: String, b: String): Column = {
    graft.functions.CosineSimilarity.register(spark)
    expr(s"cosine_sim($a, $b)")
  }

  /** The shared ANN query set: the vectors of `df` with vec_id < `n`,
    * keyed `q_id`, carrying `cols` (usually [[qe]]). */
  private def querySet(df: DataFrame, n: Int = 10)(cols: Column*): DataFrame =
    df.filter(col("vec_id") < n).select(col("vec_id").as("q_id") +: cols: _*)

  /** The query embedding under the name every cosine scorer reads. */
  private def qe: Column = col("embedding").as("qe")

  /** Exact cosine of a corpus `embedding` against its query's `qe`,
    * rounded (Num.r4) before any ranking reads it. */
  private def exactSim(spark: SparkSession): Column =
    Num.r4(cosine(spark, "embedding", "qe")).as("sim")

  /** Per-`key` top-`k` of scored candidates, as (key, rank, tie, the
    * other scored columns in order). `rank` is row_number (IntegerType,
    * 1..k, no gaps) over `score`, then `tie` ascending; a key with fewer
    * than k candidates keeps fewer rows. Scores arrive rounded, so ties
    * break on the id exactly as in the oracles. Under `desc` a NULL
    * score (a zero-norm vector) ranks after every non-null one, DuckDB's
    * default NULLS LAST; the ascending scores ranked here (ADC, Hamming,
    * cell distance) are never NULL. */
  private[graft] def topK(scored: DataFrame, k: Int, score: Column,
      key: String = "q_id", tie: String = "neighbor_id"): DataFrame = {
    val rest = scored.columns.filterNot(c => c == key || c == tie)
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(key)).orderBy(score, asc(tie))))
      .filter(col("rank") <= k)
      .select((Seq(key, "rank", tie) ++ rest).map(col): _*)
  }

  /** Second stage of the two-stage retrievals ([[hammingRerank]],
    * [[annPqRefine]], [[mrlAnn]]): join the shortlist's (q_id,
    * neighbor_id) pairs back to the float vectors of `emb` and the
    * broadcast queries `q` (q_id, qe), and keep the exact-cosine top-3. */
  private def exactRerank(spark: SparkSession, shortlist: DataFrame,
      emb: DataFrame, q: DataFrame): DataFrame =
    topK(shortlist.select(col("q_id"), col("neighbor_id"))
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
          Seq("neighbor_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("neighbor_id"), exactSim(spark)), 3, desc("sim"))

  /** DuckDB cosine of two float lists, NULL when either norm is zero —
    * the family law of the native Spark expression. */
  private def cosineSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |/ nullif(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0)
       |/ nullif(sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0)""".stripMargin

  /** The oracle twin of Num.r4, applied to every score before ranking. */
  private def r4Sql(x: String): String = s"round($x + 1e-9, 4)"

  /** DuckDB top-k tail: rank the rows of `src` per `key` by `order`
    * (score, then the ascending id), keep ranks 1..k, select `out`. */
  private def topKSql(out: String, src: String, k: Int, order: String,
      key: String = "q_id"): String =
    s"""SELECT $out FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY $key
       |            ORDER BY $order) AS INT) AS rank
       |  FROM $src)
       |WHERE rank <= $k ORDER BY $key, rank""".stripMargin

  /** Oracle twin of [[exactRerank]]: the exact cosine of every (q_id,
    * neighbor_id) pair of CTE `short`, top-3 per query. */
  private def exactRerankSql(short: String): String =
    s"""rer AS (
       |  SELECT s.q_id, s.neighbor_id,
       |    ${r4Sql(cosineSql("ne.embedding", "qe.embedding"))} AS sim
       |  FROM $short s JOIN embeddings ne ON ne.vec_id = s.neighbor_id
       |                JOIN embeddings qe ON qe.vec_id = s.q_id)
       |${topKSql("q_id, rank, neighbor_id, sim", "rer", 3, "sim DESC, neighbor_id ASC")}""".stripMargin

  /** Brute-force cosine top-10 for one query vector (vec_id 0),
    * broadcast to every partition. */
  def knnBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    emb.join(broadcast(emb.filter(col("vec_id") === 0).select(qe)))
      .select(col("vec_id"), exactSim(spark))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  def knnBruteSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, ${r4Sql(cosineSql("e.embedding", "q.qe"))} AS sim
       |FROM embeddings e CROSS JOIN q ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Brute-force top-3 neighbors for each of the first 20 query vectors:
    * broadcast-nested-loop of a tiny query set against the corpus, then a
    * per-query ranking window. The oracle checks the ranking semantics. */
  def knnPerVec(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    topK(emb.join(broadcast(querySet(emb, 20)(qe)), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"), exactSim(spark)),
      3, desc("sim"))
  }

  def knnPerVecSql: String =
    s"""WITH sims AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |         ${r4Sql(cosineSql("e.embedding", "q.embedding"))} AS sim
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id < 20 AND e.vec_id != q.vec_id)
       |${topKSql("q_id, rank, neighbor_id, sim", "sims", 3, "sim DESC, neighbor_id ASC")}""".stripMargin

  /** Per-vector stats via higher-order folds (norms, extrema). */
  def embStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(
        col("vec_id"), col("label"),
        Num.r4(sqrt(expr(
          "aggregate(embedding, 0D, (acc, x) -> acc + cast(x AS DOUBLE) * cast(x AS DOUBLE))")))
          .as("l2_norm"),
        Num.r4(expr("aggregate(embedding, 0D, (acc, x) -> acc + cast(x AS DOUBLE))")
          / size(col("embedding"))).as("mean_val"),
        Num.r4(array_max(col("embedding")).cast("double")).as("max_val"))

  def embStatsSql: String =
    """SELECT vec_id, label,
      |       round(sqrt(list_sum(list_transform(embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) + 1e-9, 4) AS l2_norm,
      |       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
      |             / len(embedding) + 1e-9, 4) AS mean_val,
      |       round(CAST(list_max(embedding) AS DOUBLE) + 1e-9, 4) AS max_val
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** IVF (inverted-file) approximate NN — the second scale path beside
    * LSH: a coarse quantizer assigns every vector to one of k cells;
    * queries probe only their own cell, so exact scoring touches ≈ n/k
    * candidates. The quantizer here is hand-rolled Lloyd iteration in
    * DataFrame ops: seeds = the k rank-smallest vec_ids' embeddings,
    * then `iters` rounds of {assign to nearest centroid via a per-row
    * fold against broadcast centroid literals (no shuffle of the corpus),
    * recompute centroids as per-(cell,dim) means rounded to 6 decimals}.
    * The rounding is the determinism contract: cross-partition double
    * summation is order-dependent in the last ulps, and rounding (+1e-9,
    * 6 dp) absorbs that, so the centroid sequence — and hence every
    * assignment — is engine-reproducible and the operator has a FULL
    * DuckDB oracle that replays the identical iterations. The model is
    * O(k·d) driver state, exactly like MLlib's; each iteration is one
    * corpus scan + one (cell × dim)-sized aggregate. `annIvfKMeans` keeps
    * the MLlib formulation as the library twin. */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame =
    annIvfImpl(spark, sfDir, probes = 1)

  /** Multiprobe IVF: queries probe their `probes` nearest cells instead of
    * one. The standard recall lever when a query lands near a Voronoi
    * boundary — candidate volume grows to ≈ probes·n/k while staying
    * corpus-shuffle-free (probing only widens the tiny broadcast query
    * side). Same deterministic quantizer, so the full oracle replays. */
  def annIvfProbe2(spark: SparkSession, sfDir: String): DataFrame =
    annIvfImpl(spark, sfDir, probes = 2)

  /** Squared distance from `embedding` to a centroid literal — per-row
    * fold against the broadcast constant, no shuffle. */
  private def ivfSqDist(cent: Array[Double]): Column = {
    val centArr = array(cent.toIndexedSeq.map(lit): _*)
    aggregate(
      zip_with(col("embedding"), centArr, (x, y) => {
        val d = x.cast("double") - y; d * d
      }),
      lit(0.0), (acc, v) => acc + v)
  }

  /** Append the coarse-quantizer assignment: `darr` (squared distance
    * to every centroid literal) and `cell` (argmin, FIRST cell on exact
    * ties via array_position-of-min — the cross-engine tie-break the
    * DuckDB ivfAssignCte replays). ONE definition for the whole IVF
    * family (quantizer, incremental add, PQ encode, PQ serve) so a
    * tie-break or distance fix cannot silently desynchronize them. */
  private def withCoarseCell(cents: Array[Array[Double]])(df: DataFrame): DataFrame = df
    .withColumn("darr", array(cents.map(ivfSqDist).toIndexedSeq: _*))
    .withColumn("cell",
      (expr("array_position(darr, array_min(darr))") - 1).cast("int"))

  /** The deterministic Lloyd quantizer shared by the IVF family and
    * [[semanticDedup]]: seeds = the k rank-smallest vec_ids' embeddings,
    * `iters` assign/update rounds with centroid means rounded (+1e-9,
    * 6 dp) for engine reproducibility. Returns the final full-corpus
    * assignment (vec_id, cell, embedding) and the centroid array.
    *
    * `maxTrainRows` caps the Lloyd training scans to a deterministic
    * hash-ranked subset (top-n by xxhash64(vec_id) — no RNG, so plans
    * replay): at 100 TB each training iteration must touch a bounded
    * sample, not the corpus, while the final assignment stays a full
    * map-side pass. None trains on everything and reproduces the oracle
    * path bit-for-bit. */
  private[graft] def ivfQuantize(emb: DataFrame, k: Int = 16,
      iters: Int = 2,
      maxTrainRows: Option[Int] = None): (DataFrame, Array[Array[Double]]) = {
    val train = maxTrainRows.fold(emb)(n =>
      emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n))
    def assign(df: DataFrame, cents: Array[Array[Double]]): DataFrame =
      withCoarseCell(cents)(df)
        .select(col("vec_id"), col("cell"), col("embedding"))
    var cents: Array[Array[Double]] = train.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 0 until iters) {
      val next = cents.map(_.clone())
      assign(train, cents)
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("col").cast("double")) + lit(1e-9), 6).as("cv"))
        .collect()
        .foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
    }
    (assign(emb, cents), cents)
  }

  private def annIvfImpl(spark: SparkSession, sfDir: String,
      probes: Int): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val (assigned, cents) = ivfQuantize(emb)
    inCellTop3(spark, assigned, probeCells(emb, cents, probes)
      .select(col("vec_id").as("q_id"), col("cell"), qe))
  }

  /** The query side of every IVF probe: rank ALL cells by distance for
    * each query vector (vec_id < 10; ties to the smaller cell id,
    * matching [[withCoarseCell]]'s array_position-of-min) and keep the
    * nearest `probes` as (vec_id, embedding, cell). probes = 1
    * reproduces the plain own-cell lookup exactly. */
  private def probeCells(emb: DataFrame, cents: Array[Array[Double]],
      probes: Int): DataFrame =
    topK(emb.filter(col("vec_id") < 10)
        .withColumn("darr", array(cents.map(ivfSqDist).toIndexedSeq: _*))
        .select(col("vec_id"), col("embedding"),
          posexplode(col("darr")).as(Seq("cell", "dist"))),
      probes, asc("dist"), key = "vec_id", tie = "cell")

  /** The in-cell exact-cosine top-3 of the IVF family: corpus rows
    * (vec_id, cell, embedding) meet the broadcast query probes (q_id,
    * cell, qe) on their cell; `extra` columns follow the score. */
  private def inCellTop3(spark: SparkSession, assigned: DataFrame,
      queries: DataFrame, extra: Column*): DataFrame =
    topK(assigned.join(broadcast(queries), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(Seq(col("q_id"), col("cell"), col("vec_id").as("neighbor_id"),
          exactSim(spark)) ++ extra: _*),
      3, desc("sim"))

  /** DuckDB twin of annIvf/annIvfProbe2: the same seeds, two unrolled
    * Lloyd rounds (assignment = row_number argmin over the cross join —
    * same doubles, same smallest-cell tie-break as Spark's
    * array_position-of-min — and centroid update = round(avg + 1e-9, 6)
    * with empty-cell carry-over), then the same in-cell cosine top-3; the
    * query side keeps its `probes` nearest cells (rn <= probes). */
  def annIvfSql: String = ivfSql(probes = 1)
  def annIvfProbe2Sql: String = ivfSql(probes = 2)

  private def ivfAssignCte(a: String, c: String, src: String = "e"): String =
    s"""$a AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |           list_sum(list_transform(list_zip(e.v, c.cv),
       |             p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC, c.cell ASC) AS rn
       |  FROM $src e CROSS JOIN $c c) WHERE rn = 1)""".stripMargin
  private def ivfUpdateCte(m: String, a: String, prevL: String, cl: String,
      c: String): String =
    s"""$m AS (SELECT cell, dim, round(avg(x) + 1e-9, 6) AS cv
       |      FROM (SELECT cell, CAST(generate_subscripts(v, 1) - 1 AS INT) AS dim,
       |                   unnest(v) AS x
       |            FROM $a) u
       |      GROUP BY cell, dim),
       |$cl AS (SELECT p.cell, p.dim, COALESCE($m.cv, p.x) AS cv
       |      FROM $prevL p LEFT JOIN $m ON $m.cell = p.cell AND $m.dim = p.dim),
       |$c AS (SELECT cell, list(cv ORDER BY dim) AS cv FROM $cl GROUP BY cell)""".stripMargin

  /** Shared CTE chain replaying [[ivfQuantize]] in DuckDB: seeds c0, two
    * unrolled Lloyd rounds, final full-corpus assignment `a3(vec_id, v,
    * cell)` — used by the IVF-query oracles and the semantic-dedup oracle
    * so the twins cannot drift from each other. `baseOnly` trains (seeds
    * and both rounds) over the base corpus `etr` only — vec_id % 5 != 0,
    * the standing 80 % of the incremental and streamed index oracles —
    * while `a3` still assigns every vector with the frozen `c2`. */
  private def ivfCellCtesSql(baseOnly: Boolean = false): String = {
    val tr = if (baseOnly) "etr" else "e"
    val etr = if (baseOnly) "\netr AS (SELECT vec_id, v FROM e WHERE vec_id % 5 != 0)," else ""
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),$etr
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
       |  FROM (SELECT vec_id, v FROM $tr ORDER BY vec_id LIMIT 16)),
       |c0l AS (SELECT cell, CAST(generate_subscripts(cv, 1) - 1 AS INT) AS dim,
       |               unnest(cv) AS x
       |        FROM c0),
       |${ivfAssignCte("a1", "c0", tr)},
       |${ivfUpdateCte("m1", "a1", "c0l", "c1l", "c1")},
       |c1l2 AS (SELECT cell, dim, cv AS x FROM c1l),
       |${ivfAssignCte("a2", "c1", tr)},
       |${ivfUpdateCte("m2", "a2", "c1l2", "c2l", "c2")},
       |${ivfAssignCte("a3", "c2")}""".stripMargin
  }

  /** The base/new label column of the incremental and streamed index
    * oracles (`id` % 5 = 0 arrived after training); empty otherwise. */
  private def srcSql(id: String, baseOnly: Boolean): String =
    if (baseOnly) s",\n    CASE WHEN $id % 5 = 0 THEN 'new' ELSE 'base' END AS src" else ""

  /** Query-side coarse-cell argmin (the probe contract shared by the IVF
    * oracles and the IVFPQ oracle — one definition so a tie-break or
    * rounding change cannot desynchronize them): the `probes` nearest
    * cells of `c2` for each vec_id < 10. */
  private def ivfQueryCellCte(name: String, probes: Int): String =
    s"""$name AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |           list_sum(list_transform(list_zip(e.v, c.cv),
       |             p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC, c.cell ASC) AS rn
       |  FROM e CROSS JOIN c2 c WHERE e.vec_id < 10) WHERE rn <= $probes)""".stripMargin

  private def ivfSql(probes: Int, baseOnly: Boolean = false): String =
    s"""WITH ${ivfCellCtesSql(baseOnly)},
       |${ivfQueryCellCte("aq", probes)},
       |sims AS (
       |  SELECT q.q_id, a.cell, a.vec_id AS neighbor_id,
       |    ${r4Sql(cosineSql("ea.embedding", "eq.embedding"))} AS sim${srcSql("a.vec_id", baseOnly)}
       |  FROM (SELECT vec_id AS q_id, cell FROM aq) q
       |  JOIN a3 a ON a.cell = q.cell AND a.vec_id != q.q_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eq ON eq.vec_id = q.q_id)
       |${topKSql("q_id, rank, neighbor_id, cell, sim" + (if (baseOnly) ", src" else ""),
            "sims", 3, "sim DESC, neighbor_id ASC")}""".stripMargin

  /** MLlib-KMeans formulation of the same IVF dataflow — the library twin
    * for callers who want the battle-tested trainer (k-means||, tolerance
    * stop) over bit-reproducibility. Rows-only check: MLlib's float
    * iteration order makes centroids engine-specific. */
  def annIvfKMeans(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables.embeddings(spark, sfDir)
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(16).setSeed(42).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(emb)
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("cell"), col("embedding"))
    inCellTop3(spark, assigned, querySet(assigned)(col("cell"), qe))
  }

  /** Embedding-cosine near-duplicate pairs, EXACT-SMALL formulation: all
    * pairs with cosine ≥ 0.35 via an unbucketed self-join. Deliberately
    * O(n²) — it is the oracle/recall twin of `cosineDedupLsh`, which is
    * the formulation a 100 TB pipeline runs. The name and the row-count
    * guard both exist so a library caller cannot reach the quadratic plan
    * by accident: corpora above `maxRows` are refused outright (the probe
    * is a `limit(maxRows+1).count()` — a bounded scan, not a full count).
    * Raise `maxRows` only when the ~maxRows²/2-pair cost is understood. */
  def cosineDedupExactSmall(spark: SparkSession, sfDir: String,
      maxRows: Long = 100000L): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    // Clamp before toInt: limit() takes an Int, and maxRows near Long.Max
    // would otherwise overflow to a negative limit and throw an unrelated
    // error instead of the guard message below.
    val probeN =
      if (maxRows >= Int.MaxValue - 1L) Int.MaxValue else (maxRows + 1).toInt
    val probed = emb.limit(probeN).count()
    require(probed <= maxRows,
      s"cosineDedupExactSmall is the O(n²) verifier twin (corpus exceeds " +
        s"$maxRows vectors); use cosineDedupLsh, the bucketed scale path")
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", cosine(spark, "ea", "eb"))
      .filter(col("sim_raw") >= 0.35)
      .select(col("vec_a"), col("vec_b"), Num.r4(col("sim_raw")).as("sim"))
  }

  def cosineDedupSql: String =
    s"""WITH sims AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${cosineSql("a.embedding", "b.embedding")} AS sim_raw
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, ${r4Sql("sim_raw")} AS sim
       |FROM sims WHERE sim_raw >= 0.35
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Deterministic pseudo-random hyperplane component: Knuth
    * multiplicative hash scaled to [-0.5, 0.5). Pure integer arithmetic
    * plus an exact power-of-two division, so the DuckDB oracle reproduces
    * the exact same plane values bit-for-bit (no RNG-stream dependence). */
  private def lshPlaneComponent(idx: Int): Double =
    ((idx.toLong * 2654435761L) % 2147483648L).toDouble / 2147483648.0 - 0.5

  /** Embedding near-duplicate pairs via multi-table hyperplane LSH — the
    * scale-safe formulation of `cosineDedup` (VERDICT r1 item 2): 16 hash
    * tables × 4 hyperplanes each; a pair is a candidate iff it shares a
    * bucket in ANY table (recall ≈ 1-(1-(1-θ/π)⁴)¹⁶ — ~0.76 of all-pairs
    * at the 0.35 threshold on the fixture, rising with similarity), and
    * only candidates get exact cosine scoring. No unbucketed self-join
    * anywhere: the pair join is keyed on (table, bucket), so candidate
    * volume is Σ_buckets n_b²/2 instead of n²/2. Deterministic planes make
    * this fully oracle-checkable — the DuckDB twin replays the identical
    * algorithm (same planes, same fold order) rather than all-pairs. */
  def cosineDedupLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val numTables = 16
    val planesPerTable = 4
    val emb = Tables.embeddings(spark, sfDir)
    val planesCol = array((0 until numTables * planesPerTable).map { j =>
      array((0 until 64).map(i => lit(lshPlaneComponent(j * 64 + i))): _*)
    }: _*)
    // widen ONLY the bucket-computation path: 64 interpreted hyperplane
    // dot products (64 dims each) per row serialize on a single-split
    // scan (guide §2.5); the verify joins below read the plain scan —
    // an exchange in front of a broadcast-side build would be pure cost
    val buckets = Tables.widen(emb)
      .withColumn("planes", planesCol)
      .select(col("vec_id"),
        posexplode(expr(
          s"""transform(sequence(0, ${numTables - 1}), t ->
             |  aggregate(sequence(0, ${planesPerTable - 1}), 0, (acc, p) ->
             |    acc + IF(aggregate(zip_with(planes[t * $planesPerTable + p], embedding,
             |                (x, y) -> x * cast(y AS DOUBLE)), 0D, (a, v) -> a + v) > 0D,
             |          shiftleft(1, p), 0)))""".stripMargin)).as(Seq("t", "bucket")))
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("sim_raw", cosine(spark, "ea", "eb"))
      .filter(col("sim_raw") >= 0.35)
      .select(col("vec_a"), col("vec_b"), Num.r4(col("sim_raw")).as("sim"))
  }

  /** [[cosineDedupLshSql]] without the presentation ORDER BY — reusable
    * as a CTE body by composite oracles (cross-modal dedup). */
  def cosineDedupLshCoreSql: String =
    s"""WITH b0 AS (
      |  SELECT vec_id, embedding, unnest(range(0, 16)) AS t
      |  FROM embeddings),
      |buckets AS (
      |  SELECT vec_id, t,
      |    list_sum(list_transform(range(0, 4), p ->
      |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
      |          ((CAST(((t*4+p)*64+i) * 2654435761 AS BIGINT) % 2147483648) / 2147483648.0 - 0.5)
      |          * CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE))) > 0
      |        THEN (1 << p) ELSE 0 END)) AS bucket
      |  FROM b0),
      |pairs AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b
      |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |sims AS (
      |  SELECT vec_a, vec_b, ${cosineSql("ea.embedding", "eb.embedding")} AS sim_raw
      |  FROM pairs JOIN embeddings ea ON ea.vec_id = vec_a
      |             JOIN embeddings eb ON eb.vec_id = vec_b)
      |SELECT vec_a, vec_b, ${r4Sql("sim_raw")} AS sim
      |FROM sims WHERE sim_raw >= 0.35""".stripMargin

  def cosineDedupLshSql: String =
    cosineDedupLshCoreSql + "\nORDER BY vec_a, vec_b"

  /** Big-endian sign-bit fold of one 32-dim half into a BIGINT — the
    * load-bearing packing contract of the binary-code family (two
    * halves so no intermediate touches the BIGINT sign bit in either
    * engine). ONE Scala and ONE SQL definition, read only through
    * [[hammingScores]] and [[hammingPairsSql]] — the codes both
    * hammingAnn and hammingRerank rank: a second copy (threshold, slice
    * bounds) could leave the two operators computing DIFFERENT codes
    * while each still passes its own oracle. */
  private def signHalf(off: Int): Column = expr(
    s"""aggregate(slice(embedding, $off, 32), CAST(0 AS BIGINT),
       |  (acc, x) -> acc * 2 + IF(x > 0, 1, 0))""".stripMargin)
  private def signHalfSql(lo: Int, hi: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(embedding[$lo:$hi],
       |        x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT))),
       |      (a, b) -> a * 2 + b)""".stripMargin

  /** Binary-code (sign-bit) ANN — the fourth search geometry beside brute
    * cosine, hyperplane LSH, and IVF: each 64-dim float vector compresses
    * to a 64-bit sign code (two 32-bit halves packed by a big-endian fold,
    * kept apart so no intermediate touches the BIGINT sign bit in either
    * engine), and neighbors rank by Hamming distance — two XOR+popcount
    * ops per comparison instead of 64 fused-multiply-adds, the classic
    * 32× memory / ~100× ALU reduction of binary embeddings. Query side
    * (vec_id < 10, mirroring the kNN family) broadcasts; the corpus scans
    * its 16-byte codes once; per-query top-3 via ranking window. At 100 TB
    * the codes table is ~0.8 % the size of the float corpus, which is the
    * entire point of this operator. Ties (equal Hamming) break by
    * neighbor_id — pure integer arithmetic throughout, so the oracle
    * replays exactly. */
  def hammingAnn(spark: SparkSession, sfDir: String): DataFrame =
    topK(hammingScores(Tables.embeddings(spark, sfDir)), 3, asc("hamming"))

  /** Hamming distance from every corpus sign code to each query's code,
    * as (q_id, neighbor_id, hamming) — the scored candidates
    * [[hammingAnn]] ranks and [[hammingRerank]] shortlists. */
  private def hammingScores(emb: DataFrame): DataFrame = {
    val codes = emb.select(col("vec_id"), signHalf(1).as("code_lo"), signHalf(33).as("code_hi"))
    codes.crossJoin(broadcast(
        querySet(codes)(col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (expr("bit_count(code_lo ^ q_lo)") + expr("bit_count(code_hi ^ q_hi)"))
          .cast("int").as("hamming"))
  }

  /** Oracle twin of [[hammingScores]]: the CTEs `codes` and `pairs`. */
  private def hammingPairsSql: String =
    s"""codes AS (
       |  SELECT vec_id,
       |    ${signHalfSql(1, 32)} AS code_lo,
       |    ${signHalfSql(33, 64)} AS code_hi
       |  FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         CAST(bit_count(xor(c.code_lo, q.code_lo))
       |              + bit_count(xor(c.code_hi, q.code_hi)) AS INT) AS hamming
       |  FROM codes c JOIN codes q
       |    ON q.vec_id < 10 AND c.vec_id != q.vec_id)""".stripMargin

  def hammingAnnSql: String =
    s"""WITH $hammingPairsSql
       |${topKSql("q_id, rank, neighbor_id, hamming", "pairs", 3, "hamming ASC, neighbor_id ASC")}""".stripMargin

  /** Two-stage binary retrieval — Hamming shortlist, exact-cosine re-rank
    * (the binary-code analogue of [[annPqRefine]], and the standard
    * deployment shape for sign-bit embeddings: scan the 16-byte codes for
    * a shortlist of 16, then read ONLY those float vectors to re-rank by
    * true cosine). At 100 TB the float corpus is touched for
    * shortlist·queries rows (~160 reads here) while the full scan runs on
    * codes that are ~0.8 % its size; the shortlist is a broadcast-join of
    * (q_id, neighbor_id) pairs against the embeddings scan. Shortlist ties
    * break by neighbor_id on integer Hamming, so stage-1's cutoff — and
    * therefore the final ranking — replays exactly in the oracle. */
  def hammingRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    exactRerank(spark, topK(hammingScores(emb), 16, asc("hamming")), emb,
      querySet(emb)(qe))
  }

  def hammingRerankSql: String =
    s"""WITH $hammingPairsSql,
       |shortlist AS (
       |  ${topKSql("q_id, neighbor_id", "pairs", 16, "hamming ASC, neighbor_id ASC")}),
       |${exactRerankSql("shortlist")}""".stripMargin

  /** RaBitQ-style corrected binary retrieval (Gao & Long, SIGMOD 2024):
    * rank by an ESTIMATE of the true cosine reconstructed from the sign
    * code, instead of raw Hamming distance. Each corpus vector keeps its
    * 64 sign bits plus two scalars — ‖v‖ and Σ|vᵢ| — and the paper's
    * asymmetric estimator ⟨o,q'⟩ ≈ ⟨s̄,q'⟩/⟨s̄,o⟩ (s̄ = unit sign code,
    * o = unit vector) collapses algebraically to
    *   est = ‖v‖ · Σ sign(vᵢ)·qᵢ / (‖q‖ · Σ|vᵢ|),
    * so the whole correction is two stored doubles per vector and the
    * per-pair work is one signed sum — same ALU class as Hamming, but the
    * estimate is metric-scaled: it orders DIFFERENT vectors by
    * reconstructed cosine (a self-pair estimates exactly 1.0) where
    * Hamming can only count bit flips. The paper's random rotation makes
    * its error bound data-independent; under this repo's determinism
    * contract the rotation group is restricted to permutations
    * ([[opqPermutation]]), and permutations are a no-op for sign/dot
    * estimates — so the basis stays raw and the bound is data-dependent,
    * which the fixture recall spec measures. 16 B codes + 16 B scalars
    * per vector at 100 TB: the float corpus is only touched to build the
    * summary; queries broadcast; scoring is one map-pass over 32 B/row. */
  def rabitqAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"),
      col("embedding"),
      expr("sqrt(aggregate(embedding, 0D, (a, x) -> a + cast(x AS double) * cast(x AS double)))").as("nrm"),
      expr("aggregate(embedding, 0D, (a, x) -> a + abs(cast(x AS double)))").as("abs_sum"))
    val queries = querySet(emb)(qe,
      expr("sqrt(aggregate(embedding, 0D, (a, x) -> a + cast(x AS double) * cast(x AS double)))").as("qnrm"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        Num.r4(
          col("nrm")
            * expr("""aggregate(zip_with(embedding, qe,
                     |  (v, q) -> IF(v > 0, 1D, -1D) * cast(q AS double)),
                     |  0D, (a, x) -> a + x)""".stripMargin)
            // null-guarded like the cosine family: a zero vector makes
            // the denominator 0, which ANSI division would THROW on
            / when(col("qnrm") * col("abs_sum") =!= 0.0,
                col("qnrm") * col("abs_sum"))).as("est"))
    topK(scored, 3, desc("est"))
  }

  def rabitqAnnSql: String =
    s"""WITH s AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
      |    list_sum(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS abs_sum
      |  FROM embeddings),
      |pairs AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |    round(c.nrm
      |      * list_sum(list_transform(list_zip(c.embedding, q.embedding),
      |          p -> (CASE WHEN p[1] > 0 THEN 1.0 ELSE -1.0 END) * CAST(p[2] AS DOUBLE)))
      |      / nullif(q.nrm * c.abs_sum, 0) + 1e-9, 4) AS est
      |  FROM s c JOIN s q ON q.vec_id < 10 AND c.vec_id != q.vec_id)
      |${topKSql("q_id, rank, neighbor_id, est", "pairs", 3, "est DESC, neighbor_id ASC")}""".stripMargin

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the SAME
    * deterministic Lloyd quantizer as the IVF family, then prune within
    * each cluster — a vector is dropped when a LOWER-id cluster-mate sits
    * at cosine ≥ 0.35 (the corpus's near-dup bar), so exactly one
    * representative of every within-cell near-dup neighborhood survives
    * (the smallest id, matching every other dedup family here). Every
    * vector is emitted with its verdict, its pruning count, and the id
    * that shadowed it (NULL when kept).
    *
    * This is the third near-dup-screen geometry beside the hyperplane-LSH
    * bucketing (`cosineDedupLsh`) and the all-pairs verifier: clustering
    * bounds candidate generation by CELL SIZE, not hash-collision rate,
    * which is the SemDeDup argument — within-cluster pairs catch the
    * semantic duplicates that differ in surface form. 100 TB shape: the
    * pair join is keyed on the cell id; k grows with the corpus (cells of
    * ~10⁴ vectors each), the model stays O(k·d) broadcast state, and the
    * corpus shuffles once on cell assignment. Fully oracled via the shared
    * quantizer CTEs — verdicts, counts, and shadow ids all replay. */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // the Lloyd assignment feeds BOTH self-join sides and the final
    // left join — pin it once instead of re-running the quantizer scan
    // three times. Eager: three branches of one action read it, and a
    // lazy checkpoint lets concurrent stages compute the same partition
    // twice. DETERMINISM PRECONDITION: the branches agree because they
    // read the one pinned copy; reruns of the operator agree only while
    // the lineage stays deterministic (frozen Lloyd centroids over the
    // embeddings scan, no sample/rand).
    val (assignedRaw, _) = ivfQuantize(emb)
    val assigned = assignedRaw.localCheckpoint(true)
    val a = assigned.select(col("cell"), col("vec_id"), col("embedding").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    val matches = a.join(b, Seq("cell"))
      .filter(col("vec_b") < col("vec_id"))
      .withColumn("sim_raw", cosine(spark, "ea", "eb"))
      .filter(col("sim_raw") >= 0.35)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_near"), min(col("vec_b")).as("pruned_by"))
    assigned.select(col("vec_id"), col("cell"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("pruned_by"), col("n_near").isNull.as("kept"))
  }

  def semanticDedupSql: String =
    s"""WITH ${ivfCellCtesSql()},
       |m AS (
       |  SELECT a.vec_id, CAST(count(*) AS BIGINT) AS n_near,
       |         min(b.vec_id) AS pruned_by
       |  FROM a3 a JOIN a3 b ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE ${cosineSql("a.v", "b.v")} >= 0.35
       |  GROUP BY a.vec_id)
       |SELECT a.vec_id, a.cell, coalesce(m.n_near, 0) AS n_near, m.pruned_by,
       |       m.n_near IS NULL AS kept
       |FROM a3 a LEFT JOIN m ON m.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** Per-label centroid vectors — the aggregation side of embedding
    * pipelines (class prototypes, cluster summaries). Long-format output
    * (label, dim, mean) via posexplode + one hash aggregate: the shuffle
    * carries (label × dim) partial sums, never vectors, and map-side
    * partial aggregation means executors reduce locally before the
    * exchange — the formulation that survives a 100× corpus. */
  def centroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("int").as("dim"))
      .agg(Num.r4(avg(col("col").cast("double"))).as("mean_val"),
        count(lit(1)).as("n_vecs"))

  def centroidsSql: String =
    """SELECT label, dim,
      |       round(avg(x) + 1e-9, 4) AS mean_val,
      |       count(*) AS n_vecs
      |FROM (
      |  SELECT label,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings)
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Cluster topic labeling — the "what IS this cluster" step that turns
    * an embedding-space partition into something a curator can read:
    * for every IVF cell, the most DISTINCTIVE tokens of the documents
    * assigned to it (the `documents`/`embeddings` fixtures share ids —
    * the [[graft.ext.Dedup.crossmodalDedup]] contract), ranked by lift =
    * within-cell token rate over corpus token rate, with a minimum count
    * screen. Raw frequency would label every cluster with the corpus's
    * filler vocabulary; lift surfaces what the cell OVER-represents —
    * the same normalization argument as PMI. Top-3 per cell by the
    * ROUNDED lift (then token) so the cutoff is engine-stable.
    *
    * 100 TB shape: cell assignment is the quantizer's map-side argmin,
    * token counting is two hash aggregates ((cell, token) and corpus),
    * the corpus-rate table is a Zipf-bounded broadcast, and ranking is a
    * window over (cell × vocab) rows — text bodies and vectors never
    * shuffle together, only ids and counts move. */
  def clusterTopics(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val (assigned, _) = ivfQuantize(emb)
    // FOUR aggregates below (cell×tok, cell, tok, grand total) read this
    // frame under different grouping keys — no exchange reuse applies,
    // so without the pin each one re-runs the Lloyd assignment scan, the
    // documents join, and the token explode. Eager: the four aggregates
    // are branches of one action, and a lazy checkpoint lets their
    // concurrent stages compute the same partition twice (logged as
    // "Block rdd_… already exists"), the semanticDedup/winnowOverlap case.
    val docToks = Tables.documents(spark, sfDir)
      .join(assigned.select(col("vec_id").as("doc_id"), col("cell")), "doc_id")
      .select(col("cell"), explode(split(col("text"), " ")).as("tok"))
      .localCheckpoint(true)
    val cellTok = docToks.groupBy(col("cell"), col("tok"))
      .agg(count(lit(1)).as("n_ct"))
      .filter(col("n_ct") >= 3)
    val cellTotals = docToks.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    val corpus = docToks.groupBy(col("tok")).agg(count(lit(1)).as("n_t"))
    val total = docToks.agg(count(lit(1)).as("n_tot"))
    topK(cellTok
        .join(cellTotals, "cell")
        .join(broadcast(corpus), "tok")
        .crossJoin(broadcast(total))
        .select(col("cell"), col("tok"), col("n_ct"),
          Num.r4((col("n_ct").cast("double") / col("n_cell"))
            / (col("n_t").cast("double") / col("n_tot"))).as("lift")),
      3, desc("lift"), key = "cell", tie = "tok")
  }

  /** DuckDB twin of [[clusterTopics]] over the shared IVF cell chain. */
  def clusterTopicsSql: String =
    s"""WITH ${ivfCellCtesSql()},
       |dt AS (
       |  SELECT a.cell, unnest(string_split(d.text, ' ')) AS tok
       |  FROM documents d JOIN a3 a ON a.vec_id = d.doc_id),
       |ct AS (
       |  SELECT cell, tok, CAST(count(*) AS BIGINT) AS n_ct
       |  FROM dt GROUP BY 1, 2 HAVING count(*) >= 3),
       |cc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_cell FROM dt GROUP BY 1),
       |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_t FROM dt GROUP BY 1),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM dt),
       |sc AS (
       |  SELECT ct.cell, ct.tok, ct.n_ct,
       |    round((ct.n_ct * 1.0 / cc.n_cell) / (tc.n_t * 1.0 / tt.n_tot)
       |      + 1e-9, 4) AS lift
       |  FROM ct JOIN cc ON cc.cell = ct.cell
       |          JOIN tc ON tc.tok = ct.tok
       |          CROSS JOIN tt)
       |${topKSql("cell, rank, tok, n_ct, lift", "sc", 3, "lift DESC, tok ASC", key = "cell")}""".stripMargin

  /** Incremental IVF index maintenance — the ANN analog of
    * `d_dedup_incremental`: a production vector index absorbs INSERTS by
    * assigning new vectors to their nearest EXISTING cell, retraining
    * the coarse quantizer only when drift warrants it (FAISS `add` vs
    * `train`). Here the quantizer trains on the base corpus only
    * (vec_id % 5 ≠ 0, the standing 80 %), the "arriving" 20 % is
    * inserted by one map-side argmin against the frozen centroids — no
    * training scan ever touches the new data — and queries probe the
    * UNION index, with each neighbor labeled `base`/`new` so the result
    * itself proves the inserts are retrievable. Cell quality for the
    * inserts is whatever the frozen Voronoi partition gives — exactly
    * the production trade, and why the re-train decision is monitored
    * (drift shows up as shrinking recall, measurable with the
    * `e_ann_recall` harness). 100 TB shape: insert cost is O(new·k·d)
    * map work with zero shuffle of the standing corpus; the index stays
    * cell-partitioned and only the new rows move. */
  def annIvfIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val (_, cents) = ivfQuantize(base)
    def assignWith(df: DataFrame) = withCoarseCell(cents)(df)
    val assignAll = assignWith(emb)
      .select(col("vec_id"), col("cell"), col("embedding"))
    inCellTop3(spark, assignAll, querySet(assignWith(emb))(col("cell"), qe),
      when(col("vec_id") % 5 === 0, lit("new")).otherwise(lit("base")).as("src"))
  }

  /** DuckDB twin of [[annIvfIncremental]]: the Lloyd chain trains over
    * the filtered `etr` base only (seeds + both assign rounds), the
    * final assignment `a3` runs over the FULL corpus with the frozen
    * `c2` centroids, and the query probes reuse the shared cell-argmin
    * contract. */
  def annIvfIncrementalSql: String = ivfSql(probes = 1, baseOnly = true)

  /** Two-component PCA by deterministic power iteration — the
    * dimensionality-reduction / whitening stage of an embedding pipeline
    * (PCA before IVF or OPQ is the standard FAISS preprocessing), as an
    * oracled query. Center on the per-dim corpus mean, then for each
    * component run 3 power-iteration steps (v ← Σᵢ (xᵢ·v)·xᵢ, normalized)
    * from the deterministic start v₀ = e₁, deflate (x ← x − (x·v₁)v₁),
    * and repeat for the second axis. Every corpus-level reduction (the
    * mean, each iteration's per-dim accumulator) is rounded to 6 dp with
    * the repo's +1e-9 HALF_UP convention before it re-enters the
    * computation, which is what makes the whole training replayable in
    * DuckDB despite float summation-order differences; projections round
    * r4 like every other oracled metric.
    *
    * 100 TB shape: this is PCA as AGGREGATION — each iteration is one
    * map-pass (per-row dot against a broadcast d-vector) feeding a
    * (dim → partial-sum) hash aggregate whose shuffle carries d doubles
    * per partition, never vectors; the learned axes are d-double driver
    * state (the same bounded-control-flow class as the CC rounds and the
    * OPQ permutation), and the centered corpus materializes once
    * (`localCheckpoint`) exactly as a production pipeline persists its
    * centered copy. Iteration count is fixed (3), not convergence-tested
    * — determinism over optimality, the repo-wide contract. */
  def pcaProject(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    def r6d(x: Double): Double = java.math.BigDecimal.valueOf(x + 1e-9)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def litArr(a: Array[Double]) = array(a.toIndexedSeq.map(lit): _*)
    def dotOf(vcol: String, v: Array[Double]) =
      aggregate(zip_with(col(vcol), litArr(v), (x, c) => x * c),
        lit(0.0), (a, x) => a + x)
    val mu = emb.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(avg(col("x").cast("double")).as("m"))
      .collect().map(r => r.getInt(0) -> r6d(r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    val cvDf = emb.select(col("vec_id"),
      zip_with(col("embedding"), litArr(mu), (x, m) => x.cast("double") - m)
        .as("cv"))
      // lazy (round 21): the first power-iteration collect materializes it
      .localCheckpoint(false)
    def powerIter(df: DataFrame, vcol: String): Array[Double] = {
      var v = Array.tabulate(mu.length)(i => if (i == 0) 1.0 else 0.0)
      for (_ <- 1 to 3) {
        val w = df
          .select(dotOf(vcol, v).as("s"), posexplode(col(vcol)).as(Seq("dim", "x")))
          .groupBy(col("dim")).agg(sum(col("s") * col("x")).as("w"))
          .collect().map(r => r.getInt(0) -> r6d(r.getDouble(1)))
          .sortBy(_._1).map(_._2)
        val nrm = math.sqrt(w.map(x => x * x).sum)
        v = w.map(x => r6d(x / nrm))
      }
      v
    }
    val v1 = powerIter(cvDf, "cv")
    val dvDf = cvDf
      .withColumn("dproj", round(dotOf("cv", v1) + lit(1e-9), 6))
      .select(col("vec_id"), col("cv"),
        zip_with(col("cv"), litArr(v1), (x, c) => x - col("dproj") * c).as("dv"))
      .localCheckpoint(false)
    val v2 = powerIter(dvDf, "dv")
    dvDf.select(col("vec_id"),
      Num.r4(dotOf("cv", v1)).as("pc1"),
      Num.r4(dotOf("dv", v2)).as("pc2"))
  }

  /** DuckDB twin of [[pcaProject]] — the mean, all six power-iteration
    * steps, the deflation, and both projections unrolled as CTEs (the
    * first step of each component simplifies: v₀ = e₁ ⇒ s = cv[1]).
    * Every CTE is MATERIALIZED: DuckDB 1.0 inlines single-reference
    * CTEs, and per-row scalar subqueries over this 18-CTE chain would
    * re-evaluate the whole upstream tree combinatorially (measured:
    * > 2 min inlined vs 0.5 s materialized at sf0.001); the norm is a
    * 1-row CTE cross-joined in for the same reason. */
  def pcaProjectSql: String = {
    def iterBlock(wName: String, vName: String, nName: String, src: String,
        vcol: String, prevV: Option[String]): String = {
      val sExpr = prevV match {
        case None => s"c.$vcol[1]"
        case Some(pv) =>
          s"list_sum(list_transform(list_zip(c.$vcol, $pv.v), p -> p[1] * p[2]))"
      }
      val from = prevV match {
        case None => s"$src c"
        case Some(pv) => s"$src c CROSS JOIN $pv"
      }
      s"""$wName AS MATERIALIZED (
         |  SELECT dim, round(sum(s * x) + 1e-9, 6) AS w FROM (
         |    SELECT $sExpr AS s,
         |      CAST(generate_subscripts(c.$vcol, 1) - 1 AS INT) AS dim,
         |      unnest(c.$vcol) AS x
         |    FROM $from)
         |  GROUP BY 1),
         |$nName AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM $wName),
         |$vName AS MATERIALIZED (
         |  SELECT list(round(w / nrm + 1e-9, 6) ORDER BY dim) AS v
         |  FROM $wName CROSS JOIN $nName)""".stripMargin
    }
    s"""WITH cd AS MATERIALIZED (
       |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |mu AS MATERIALIZED (
       |  SELECT dim, round(avg(x) + 1e-9, 6) AS m FROM cd GROUP BY 1),
       |muv AS MATERIALIZED (SELECT list(m ORDER BY dim) AS mv FROM mu),
       |cv AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    list_transform(list_zip(e.embedding, muv.mv),
       |      p -> CAST(p[1] AS DOUBLE) - p[2]) AS cv
       |  FROM embeddings e CROSS JOIN muv),
       |${iterBlock("w11", "v11", "n11", "cv", "cv", None)},
       |${iterBlock("w12", "v12", "n12", "cv", "cv", Some("v11"))},
       |${iterBlock("w13", "v13", "n13", "cv", "cv", Some("v12"))},
       |dp AS MATERIALIZED (
       |  SELECT c.vec_id, c.cv,
       |    round(list_sum(list_transform(list_zip(c.cv, v13.v),
       |      p -> p[1] * p[2])) + 1e-9, 6) AS dproj
       |  FROM cv c CROSS JOIN v13),
       |dv AS MATERIALIZED (
       |  SELECT d.vec_id, d.cv,
       |    list_transform(list_zip(d.cv, v13.v),
       |      p -> p[1] - d.dproj * p[2]) AS dv
       |  FROM dp d CROSS JOIN v13),
       |${iterBlock("w21", "v21", "n21", "dv", "dv", None)},
       |${iterBlock("w22", "v22", "n22", "dv", "dv", Some("v21"))},
       |${iterBlock("w23", "v23", "n23", "dv", "dv", Some("v22"))}
       |SELECT d.vec_id,
       |  round(list_sum(list_transform(list_zip(d.cv, v13.v),
       |    p -> p[1] * p[2])) + 1e-9, 4) AS pc1,
       |  round(list_sum(list_transform(list_zip(d.dv, v23.v),
       |    p -> p[1] * p[2])) + 1e-9, 4) AS pc2
       |FROM dv d CROSS JOIN v13 CROSS JOIN v23
       |ORDER BY d.vec_id""".stripMargin
  }

  /** ANN recall evaluation as a first-class query — the index-selection
    * loop of a production vector store (before trusting an index family
    * at 100 TB you measure its recall against exact search on a query
    * sample, and that measurement IS a data pipeline): recall@3 of the
    * full compressed-domain ladder (Hamming sign codes, RaBitQ corrected
    * codes, SQ8 scalar quantization, IVFPQ residual codes, OPQ
    * rotation-balanced codes) against the exact cosine top-3 on the
    * shared q_id < 10 query set. Each method's pairs
    * semi-join the exact pairs on (query, neighbor) and one count per
    * method divides by the fixed |queries|·k — tiny output, and every
    * input is one of the already-oracled deterministic operators, so
    * even the EVALUATION replays in DuckDB. */
  def annRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    // The exact ground truth is computed ONCE PER SOURCE DIR and served
    // from a persisted table thereafter ([[annExactEnsure]] — the same
    // train-once/serve-many split the ivfpq arm already uses): the
    // all-pairs exact scan + window is the eval's single most expensive
    // input, it feeds FIVE semi-join branches, and it is invariant
    // across repeated evals of the same corpus — recomputing it per
    // invocation was the round-11 profile's dominant term (clean-run
    // 3.27 s → see SCALING.md's per-arm breakdown). This replaced a
    // per-invocation localCheckpoint, which only shared the pairs
    // WITHIN one invocation. The persisted pairs are the literal result
    // of the same deterministic operator, so the oracle is unchanged.
    annExactEnsure(spark, sfDir)
    val exact = spark.table(annExactTable).select(col("q_id"), col("neighbor_id"))
    def recallOf(df: DataFrame, name: String): DataFrame =
      df.select(col("q_id"), col("neighbor_id"))
        .join(exact, Seq("q_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(name).as("method"),
          Num.r4(col("n_hit").cast("double") / lit(30.0)).as("recall_at_3"))
    // The ivfpq arm SERVES from the persisted index ([[annIndexEnsure]]
    // trains at most once per source dir) rather than retraining in-DAG
    // like the lighter arms — the serve path is spec-proven bit-identical
    // to the in-memory build, so the oracle is unchanged, and repeated
    // evals (bench passes, reruns) skip the most expensive training.
    annIndexEnsure(spark, sfDir)
    // The five arms are independent pipelines whose model training runs
    // driver-side collects at CONSTRUCTION time; building them
    // sequentially serialized ~10 small jobs end-to-end (optimization
    // guide §2.6 "overlap independent jobs"). Construct them in parallel
    // threads — Spark's scheduler interleaves the training jobs and the
    // per-arm wall clocks overlap. Registrations happen up front so the
    // threads never race the function registry.
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.AdcSum.register(spark)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.ExecutionContext.Implicits.global
    // Each arm pins the active session explicitly (ADVICE r21): the
    // global ExecutionContext's ForkJoin workers inherit thread-locals
    // from whichever thread SPAWNED them, so a worker created by another
    // worker is not guaranteed this session as its active one — and
    // functions.expr inside the arm builders would then parse against a
    // default SparkSqlParser without this session's conf. The Await bound
    // is a liveness backstop (a wedged arm must fail the operator, not
    // hang the caller forever); generous enough to be inert on any sane
    // box. Known limitation, accepted: if one arm fails, the sibling
    // arms' already-submitted Spark jobs run to completion as orphans —
    // bounded by the arms' own size, and the operator still fails fast.
    def arm(name: String)(mk: => DataFrame): Future[DataFrame] =
      Future {
        SparkSession.setActiveSession(spark)
        recallOf(mk, name)
      }
    val arms = Seq(
      arm("hamming")(hammingAnn(spark, sfDir)),
      arm("rabitq")(rabitqAnn(spark, sfDir)),
      arm("sq8")(annSq8(spark, sfDir)),
      arm("ivfpq")(annIndexLookup(spark, sfDir)),
      arm("opq")(annOpq(spark, sfDir)))
      .map(Await.result(_, 15.minutes))
    arms.reduce(_.unionAll(_))
  }

  def annRecallEvalSql: String = {
    def arm(body: String, name: String): String =
      s"""SELECT '$name' AS method,
         |  round((SELECT count(*) FROM (SELECT q_id, neighbor_id FROM ($body))
         |         JOIN exact USING (q_id, neighbor_id)) / 30.0 + 1e-9, 4)
         |    AS recall_at_3""".stripMargin
    s"""WITH exact AS (
       |  SELECT q_id, neighbor_id FROM ($knnPerVecSql) WHERE q_id < 10)
       |${arm(hammingAnnSql, "hamming")}
       |UNION ALL
       |${arm(rabitqAnnSql, "rabitq")}
       |UNION ALL
       |${arm(annSq8Sql, "sq8")}
       |UNION ALL
       |${arm(annIvfPqSql, "ivfpq")}
       |UNION ALL
       |${arm(annOpqSql, "opq")}
       |ORDER BY method""".stripMargin
  }

  /** Simplified silhouette — the cluster-quality diagnostic of an
    * embedding corpus (label = cluster): per vector, a = distance to its
    * OWN label centroid, b = distance to the nearest OTHER centroid,
    * s = (b−a)/max(a,b) ∈ [−1,1]. The centroid-based simplification
    * (Hruschka et al.'s SSI; the standard large-n variant) replaces full
    * silhouette's O(n²) pairwise means with k centroid distances per
    * vector, which is what makes it a 100 TB diagnostic: centroids are a
    * tiny broadcast (k·d rounded means, shared with [[centroids]]'
    * determinism contract), and the whole score is one map-pass over the
    * corpus + a k-row-per-vector conditional-min aggregate. Negative s
    * surfaces mislabeled / boundary vectors — the rows a curation pass
    * routes to review. */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val centDims = emb
      .select(col("label").as("c_label"), posexplode(col("embedding")))
      .groupBy(col("c_label"), col("pos"))
      .agg(Num.r4(avg(col("col").cast("double"))).as("m"))
    val carr = centDims.groupBy(col("c_label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("sm"))
      .select(col("c_label"), expr("transform(sm, x -> x.m)").as("cvec"))
    // native fused-loop expression; bit-identical to the HOF fold
    // sqrt(aggregate(zip_with(...))) — equivalence spec in ExtensionsSpec
    graft.functions.L2Distance.register(spark)
    val ab = emb.crossJoin(broadcast(carr))
      .withColumn("dist", expr("l2_dist(embedding, cvec)"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("label") === col("c_label"), col("dist"))).as("a"),
        min(when(col("label") =!= col("c_label"), col("dist"))).as("b"))
    ab.select(col("vec_id"), col("label"),
      Num.r4(col("a")).as("a_dist"), Num.r4(col("b")).as("b_dist"),
      Num.r4(when(greatest(col("a"), col("b")) === 0, lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
        .as("s"))
  }

  def silhouetteSql: String =
    """WITH cd AS (
      |  SELECT label AS c_label,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |cent AS (
      |  SELECT c_label, dim, round(avg(x) + 1e-9, 4) AS m
      |  FROM cd GROUP BY 1, 2),
      |carr AS (
      |  SELECT c_label, list(m ORDER BY dim) AS cvec FROM cent GROUP BY 1),
      |d AS (
      |  SELECT e.vec_id, e.label, c.c_label,
      |    sqrt(list_sum(list_transform(list_zip(e.embedding, c.cvec),
      |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))) AS dist
      |  FROM embeddings e CROSS JOIN carr c),
      |ab AS (
      |  SELECT vec_id, label,
      |    min(CASE WHEN label = c_label THEN dist END) AS a,
      |    min(CASE WHEN label != c_label THEN dist END) AS b
      |  FROM d GROUP BY 1, 2)
      |SELECT vec_id, label,
      |       round(a + 1e-9, 4) AS a_dist,
      |       round(b + 1e-9, 4) AS b_dist,
      |       round(CASE WHEN greatest(a, b) = 0 THEN 0.0
      |             ELSE (b - a) / greatest(a, b) END + 1e-9, 4) AS s
      |FROM ab ORDER BY vec_id""".stripMargin

  /** Scalar int8 quantization — the storage-compression stage of an
    * embedding store (4× smaller than float32 before ANN indexing). Each
    * vector gets a per-vector affine code: q = floor((x - min) /
    * (max - min) * 255 + 0.5), emitted long-format with the (min, max)
    * dequantization params. Pure double arithmetic in a fixed order, so
    * the oracle matches bit-for-bit; `floor(v + 0.5)` instead of round()
    * because engines disagree on banker's rounding. Shuffle-free. */
  def quantize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        array_min(col("embedding")).cast("double").as("q_min"),
        array_max(col("embedding")).cast("double").as("q_max"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("int").as("dim"),
        Num.r4(col("q_min")).as("q_min"), Num.r4(col("q_max")).as("q_max"),
        when(col("q_max") === col("q_min"), 0)
          .otherwise(floor((col("col").cast("double") - col("q_min"))
            / (col("q_max") - col("q_min")) * 255.0 + 0.5))
          .cast("int").as("q"))

  def quantizeSql: String =
    """SELECT vec_id, dim,
      |       round(q_min + 1e-9, 4) AS q_min,
      |       round(q_max + 1e-9, 4) AS q_max,
      |       CAST(CASE WHEN q_max = q_min THEN 0
      |            ELSE floor((x - q_min) / (q_max - q_min) * 255.0 + 0.5)
      |            END AS INT) AS q
      |FROM (
      |  SELECT vec_id,
      |         CAST(list_min(embedding) AS DOUBLE) AS q_min,
      |         CAST(list_max(embedding) AS DOUBLE) AS q_max,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings)
      |ORDER BY vec_id, dim""".stripMargin

  /** SQ8 ANN — scalar-quantized retrieval, the middle rung of the
    * compression ladder (float 4 B/dim → SQ8 1 B/dim → PQ ~0.75 bit/dim →
    * binary 1 bit/dim): corpus vectors are stored as the SAME per-vector
    * affine int8 codes as [[quantize]] (+2 rounded scale floats), queries
    * stay float, and scoring is exact cosine against the DEQUANTIZED
    * reconstruction — so ranking error is bounded by half a quantization
    * step per dimension, far tighter than sign codes, at 3.5× memory
    * reduction. At 100 TB: the float corpus is read once to encode; the
    * scan side of every search is codes + 2 floats/row; queries
    * broadcast. Dequantize-and-score is one codegen'd map expression
    * (floor/affine per element), and the identical FP operation order
    * replays in DuckDB, so even the reconstruction is oracle-exact. */
  def annSq8(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // Rounded scales (the stored form — what a table of codes would hold).
    val dq = emb
      .withColumn("mn", Num.r4(array_min(col("embedding")).cast("double")))
      .withColumn("mx", Num.r4(array_max(col("embedding")).cast("double")))
      .withColumn("dq", expr(
        """transform(embedding, x -> IF(mx = mn, mn,
          |  mn + floor((cast(x AS double) - mn) / (mx - mn) * 255.0 + 0.5)
          |       * (mx - mn) / 255.0))""".stripMargin))
      .select(col("vec_id"), col("dq"))
    val queries = querySet(emb)(
      expr("transform(embedding, x -> cast(x AS double))").as("qe"))
    val scored = dq.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        Num.r4(
          expr("""aggregate(zip_with(dq, qe, (a, b) -> a * b), 0D, (s, x) -> s + x)""")
            / sqrt(expr("aggregate(dq, 0D, (s, x) -> s + x * x)"))
            / sqrt(expr("aggregate(qe, 0D, (s, x) -> s + x * x)"))).as("est"))
    topK(scored, 3, desc("est"))
  }

  def annSq8Sql: String =
    s"""WITH s AS (
      |  SELECT vec_id, embedding,
      |    round(CAST(list_min(embedding) AS DOUBLE) + 1e-9, 4) AS mn,
      |    round(CAST(list_max(embedding) AS DOUBLE) + 1e-9, 4) AS mx
      |  FROM embeddings),
      |d AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN mx = mn THEN mn
      |      ELSE mn + floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255.0 + 0.5)
      |           * (mx - mn) / 255.0 END) AS dq
      |  FROM s),
      |q AS (
      |  SELECT vec_id AS q_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |  FROM embeddings WHERE vec_id < 10),
      |pairs AS (
      |  SELECT q.q_id, d.vec_id AS neighbor_id,
      |    ${r4Sql(cosineSql("d.dq", "q.qe"))} AS est
      |  FROM d JOIN q ON d.vec_id != q.q_id)
      |${topKSql("q_id, rank, neighbor_id, est", "pairs", 3, "est DESC, neighbor_id ASC")}""".stripMargin

  /** Hard-negative mining — the contrastive-training data op (dense
    * retriever / embedding-model training: each anchor needs the most
    * CONFUSABLE wrong-class examples): per anchor (vec_id < 10), the
    * top-3 most-cosine-similar vectors whose `label` DIFFERS from the
    * anchor's. Same broadcast-queries/corpus-scan shape as the kNN
    * family — the label predicate just lands in the pair filter, so the
    * candidate volume can only shrink. In production the exact scan
    * swaps for any of the ANN paths (IVF/PQ/binary) unchanged — mining
    * quality degrades gracefully with the index's recall. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    topK(emb.crossJoin(broadcast(querySet(emb)(qe, col("label").as("q_label"))))
        .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("label"),
          exactSim(spark)),
      3, desc("sim"))
  }

  def hardNegativesSql: String =
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, c.label,
       |    ${r4Sql(cosineSql("c.embedding", "q.embedding"))} AS sim
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id < 10 AND c.vec_id != q.vec_id AND c.label != q.label)
       |${topKSql("q_id, rank, neighbor_id, label, sim", "pairs", 3, "sim DESC, neighbor_id ASC")}""".stripMargin

  /** Random-hyperplane LSH — the approximate-NN scale path. 8 hyperplanes
    * give a 256-bucket signature; each vector's nearest neighbor is
    * searched WITHIN its bucket only (candidate set ≈ n/256 instead of n).
    * Hyperplanes come from the same integer-derived deterministic formula
    * as `cosineDedupLsh` (offset 10000 for independence), so the DuckDB
    * oracle replays the identical algorithm — bucket assignment, in-bucket
    * ranking, singleton preservation — rather than settling for a
    * rows-only check. The exactness trade-off is visible by diffing
    * nn_sim against knnPerVec. */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val planes = Seq.tabulate(8)(j =>
      Seq.tabulate(64)(i => lshPlaneComponent(10000 + j * 64 + i)))
    val planesCol = array(planes.map(p => array(p.map(lit): _*)): _*)
    val emb = Tables.embeddings(spark, sfDir)
      .withColumn("planes", planesCol)
      .withColumn("bucket", expr(
        """aggregate(
          |  zip_with(planes, sequence(0, 7),
          |    (p, j) -> IF(aggregate(zip_with(p, embedding,
          |                   (x, y) -> x * cast(y AS DOUBLE)), 0D,
          |                 (acc, v) -> acc + v) > 0D,
          |              shiftleft(1, j), 0)),
          |  0, (a, x) -> a + x)""".stripMargin))
      .drop("planes")
    val pairs = emb.select(col("vec_id"), col("bucket"), col("embedding"))
      .as("a")
      .join(emb.select(col("vec_id").as("nn_id"), col("bucket"),
        col("embedding").as("ne")).as("b"), Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("bucket"), col("nn_id"),
        Num.r4(cosine(spark, "embedding", "ne")).as("nn_sim"))
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("nn_sim"), asc("nn_id"))
    val best = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("vec_id"), col("nn_id"), col("nn_sim"))
    val counts = emb.groupBy(col("bucket")).agg(count(lit(1)).as("n_bucket"))
    // Left joins so singleton-bucket vectors stay in the output with a
    // null neighbor rather than silently disappearing.
    emb.select(col("vec_id"), col("bucket"))
      .join(counts, Seq("bucket"), "left")
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"), col("n_bucket"), col("nn_id"), col("nn_sim"))
  }

  def annLshSql: String =
    s"""WITH b AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(range(0, 8), j ->
      |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
      |          ((CAST((10000 + j*64 + i) * 2654435761 AS BIGINT) % 2147483648) / 2147483648.0 - 0.5)
      |          * CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE))) > 0
      |        THEN (1 << j) ELSE 0 END)) AS INT) AS bucket
      |  FROM embeddings),
      |counts AS (SELECT bucket, count(*) AS n_bucket FROM b GROUP BY bucket),
      |sims AS (
      |  SELECT a.vec_id, e.vec_id AS nn_id,
      |    ${r4Sql(cosineSql("a.embedding", "e.embedding"))} AS nn_sim
      |  FROM b a JOIN b e ON a.bucket = e.bucket AND e.vec_id != a.vec_id),
      |best AS (
      |  SELECT vec_id, nn_id, nn_sim FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |              ORDER BY nn_sim DESC, nn_id ASC) AS rn
      |    FROM sims) WHERE rn = 1)
      |SELECT v.vec_id, v.bucket, c.n_bucket, best.nn_id, best.nn_sim
      |FROM b v
      |LEFT JOIN counts c ON c.bucket = v.bucket
      |LEFT JOIN best ON best.vec_id = v.vec_id
      |ORDER BY v.vec_id""".stripMargin

  // --------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search") — the fifth search geometry and the one
  // production 100 TB ANN systems actually ship (FAISS IVFPQ): split each
  // 64-dim vector into M=4 16-dim subspaces, learn an 8-centroid codebook
  // per subspace with the same deterministic Lloyd recipe as the IVF
  // family, and store each vector as 4 small codes. Compression here:
  // 256 B of floats → 4 codes (4 B as ints, 12 bits information); at a
  // realistic M=16/K=256 that is 16 B per vector, a 16× memory cut that
  // lets the scan side of a 100 TB corpus fit hot storage. Queries score
  // candidates with an asymmetric-distance (ADC) lookup table — M table
  // probes + adds per candidate instead of d multiply-adds — built once
  // per query against the broadcast codebook; the corpus never shuffles
  // and never rehydrates floats.
  // --------------------------------------------------------------------

  private val PqM = 4     // subspaces
  private val PqK = 8     // centroids per subspace
  private val PqD = 16    // dims per subspace (64 / PqM)
  /** Lloyd rounds — the SINGLE source for both the Spark trainer and the
    * SQL twin's unrolled CTE chain, so they cannot desynchronize. */
  private val PqIters = 2

  /** Per-vector array of the M 16-dim subvector slices (cast to double)
    * of `vecCol` — shared by the flat-PQ path (over raw embeddings) and
    * the IVFPQ path (over coarse-cell residuals). */
  private def pqSubvectorExpr(vecCol: String): Column = expr(
    s"""transform(sequence(0, ${PqM - 1}), m ->
       |  transform(slice($vecCol, m * $PqD + 1, $PqD),
       |            x -> CAST(x AS DOUBLE)))""".stripMargin)

  /** Subvector explode: one row per (vec_id, m) with the m-th 16-dim
    * slice cast to double. The transform is exploded INLINE (never bound
    * to a named column first) — see the InferFiltersFromGenerate
    * recompute trap documented on [[graft.ext.Dedup]]. */
  private def pqSubvectors(src: DataFrame, vecCol: String = "embedding"): DataFrame =
    src.select(col("vec_id"),
      posexplode(pqSubvectorExpr(vecCol)).as(Seq("m", "v")))

  /** Nested codebook literal cb(m)(cell)(dim) → array<array<array<double>>>
    * column, broadcast to every task as a plan constant. */
  private def pqCbLit(cb: Array[Array[Array[Double]]]): Column =
    array(cb.map(cells =>
      array(cells.map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)).toIndexedSeq: _*)

  /** Per-(row, m) nearest-centroid assignment against the codebook
    * literal: distance array via nested higher-order folds (same
    * accumulation order DuckDB's list_sum replays), argmin with
    * smallest-cell tie-break — identical contract to the IVF assign. */
  private def pqAssign(sv: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = sv
    .withColumn("darr", transform(
      element_at(pqCbLit(cb), col("m") + 1),
      c => aggregate(
        zip_with(col("v"), c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, d) => acc + d)))
    .withColumn("code", (expr("array_position(darr, array_min(darr))") - 1).cast("int"))
    .drop("darr")

  /** Deterministic per-subspace Lloyd: seeds = the PqK rank-smallest
    * vec_ids' subvectors, `iters` assign/update rounds with means rounded
    * (+1e-9, 6 dp) — the same engine-reproducibility contract as
    * [[ivfQuantize]], learned jointly for all M subspaces in one pass per
    * round (the m column rides along as a grouping key). Codebook is
    * O(M·K·d) driver state, exactly the PQ training shape: at 100 TB the
    * training scan samples via `maxTrainRows` (deterministic hash-ranked
    * subset, same contract as [[ivfQuantize]]); encoding stays a full
    * map-side pass. None trains on everything — the oracle path. */
  private[graft] def pqQuantize(src: DataFrame,
      vecCol: String = "embedding",
      maxTrainRows: Option[Int] = None): (DataFrame, Array[Array[Array[Double]]]) = {
    val trainSrc = maxTrainRows.fold(src)(n =>
      src.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n))
    val sv = pqSubvectors(trainSrc, vecCol)
    val seedRows = trainSrc.orderBy(col("vec_id")).limit(PqK)
      .select(pqSubvectorExpr(vecCol).as("svs"))
      .collect()
      .map(_.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray)
    var cb = Array.tabulate(PqM, PqK)((m, cell) => seedRows(cell)(m))
    for (_ <- 0 until PqIters) {
      val next = cb.map(_.map(_.clone()))
      pqAssign(sv, cb)
        .select(col("m"), col("code"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(round(avg(col("x")) + lit(1e-9), 6).as("cv"))
        .collect()
        .foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cb = next
    }
    val codes = pqAssign(pqSubvectors(src, vecCol), cb)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), s -> s.code)")
        .as("codes"))
    (codes, cb)
  }

  /** ADC scoring core shared by [[annPq]], [[annPqRefine]] and
    * [[annOpq]]: per query (vec_id < 10) build the M×K lookup table of
    * subvector-to-centroid squared distances, broadcast it, and score
    * every corpus code word with M table probes + adds (fixed m-order
    * fold, so the double sum is engine-reproducible). `src` supplies the
    * (possibly rotated) vectors in `vecCol`; returns
    * (q_id, neighbor_id, adc) unranked. */
  private[graft] def pqAdcScoresOf(src: DataFrame, vecCol: String): DataFrame = {
    val (codes, cb) = pqQuantize(src, vecCol)
    val qt = pqSubvectors(src.filter(col("vec_id") < 10), vecCol)
      .withColumn("dt", transform(
        element_at(pqCbLit(cb), col("m") + 1),
        c => aggregate(
          zip_with(col("v"), c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d)))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(m, dt))), s -> s.dt)")
        .as("dtabs"))
      .withColumnRenamed("vec_id", "q_id")
    // Native fused lookup-sum (graft.functions.AdcSum): bit-identical to
    // the HOF fold it replaced (equivalence spec-asserted) but inside
    // whole-stage codegen — this expression runs |corpus|×|queries| times.
    graft.functions.AdcSum.register(src.sparkSession)
    codes.crossJoin(broadcast(qt))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        Num.r4(expr("adc_sum(codes, dtabs)")).as("adc"))
  }

  private def pqAdcScores(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcScoresOf(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
      "embedding")

  /** PQ ANN: rank the corpus by ADC distance per query, keep the top 3.
    * Ties break by neighbor_id on the rounded distance, so the oracle
    * replays the cutoff exactly. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame =
    topK(pqAdcScores(spark, sfDir), 3, asc("adc"))

  /** Two-stage PQ retrieval — the production pattern (FAISS `refine`):
    * ADC shortlist of 16 from the compressed codes, then exact cosine
    * re-rank of only those 16 float vectors per query. At 100 TB the
    * expensive float reads touch shortlist·queries rows instead of the
    * corpus; the shortlist join is a broadcast of (q_id, neighbor_id)
    * pairs against the embeddings scan. */
  def annPqRefine(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    exactRerank(spark, topK(pqAdcScores(spark, sfDir), 16, asc("adc")), emb,
      querySet(emb)(qe))
  }

  /** IVFPQ — the composition production ANN systems actually deploy
    * (Jégou et al. 2011 §IV; FAISS `IVFPQ`): the IVF coarse quantizer
    * (same deterministic Lloyd cells as `e_ann_ivf`) partitions the
    * corpus, PQ encodes each vector's RESIDUAL (v − coarse centroid, the
    * part the cell id doesn't already capture — residuals cluster far
    * tighter than raw vectors, so the same 12-bit budget buys much lower
    * quantization error), and queries probe their nearest cell scoring
    * in-cell candidates with an ADC table built from the QUERY's residual
    * against the shared PQ codebook. At 100 TB this is the whole layout:
    * the corpus lives as (cell, 4 codes) — cell-partitioned storage, so a
    * probe touches one partition and reads codes only; both codebooks are
    * tiny broadcasts; nothing ever shuffles the floats. Fully oracled:
    * coarse cells, residuals, PQ training, and ADC all replay in DuckDB
    * (the residual arithmetic is float-cast-double minus rounded-double —
    * identical in both engines). */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    annIvfPqImpl(spark, sfDir, probes = 1)

  /** Multiprobe IVFPQ — the recall lever on the production layout:
    * queries visit their `probes` nearest cells, building one ADC table
    * per (query, probed cell) since residuals are cell-relative. ADC
    * distances stay comparable across probed cells (each estimates
    * ‖q − x‖² in that cell's residual frame), so one top-3 ranks the
    * union. Candidate volume ≈ probes·n/k; the corpus side is untouched. */
  def annIvfPqProbe2(spark: SparkSession, sfDir: String): DataFrame =
    annIvfPqImpl(spark, sfDir, probes = 2)

  /** The IVF-PQ index build shared by the in-memory queries and the
    * persisted-index path: coarse-quantize, encode cell-relative
    * residuals, and return (codesWithCell, centroids, codebooks) — the
    * exact state a production deployment trains once and serves from.
    * The localCheckpoint is the in-memory stand-in for that
    * materialization (the PQ trainer's per-round actions would otherwise
    * re-run the coarse assignment each time); [[annIndexWrite]] is the
    * real one. */
  private[graft] def ivfPqIndex(emb: DataFrame)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (assigned, cents) = ivfQuantize(emb)
    val centLit = array(cents.map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    val resid = assigned.select(col("vec_id"), col("cell"),
      zip_with(col("embedding"), element_at(centLit, col("cell") + 1),
        (x, c) => x.cast("double") - c).as("rv"))
      // lazy (round 21): the PQ trainer's seed collect materializes it.
      // DETERMINISM PRECONDITION (ADVICE r21): resid fans out into the
      // trainer AND the codesWithCell join below — a lazy checkpoint may
      // compute partitions more than once concurrently before the cache
      // fills, so the lineage above must stay deterministic (it is:
      // frozen centroid literals over the embeddings scan). A future
      // nondeterministic upstream requires eager=true.
      .localCheckpoint(false)
    val (codes, cb) = pqQuantize(resid, "rv")
    val codesWithCell = codes.join(resid.select(col("vec_id"), col("cell")), Seq("vec_id"))
    (codesWithCell, cents, cb)
  }

  /** Encode (vec_id, embedding) rows against a FROZEN model — the
    * "FAISS add" half of index maintenance: coarse-cell argmin, cell
    * residual, per-subspace PQ assignment, all against the resident
    * (cents, cb) literals. No training scan, no shuffle except the
    * per-vector codes fold; applied to the model's own training corpus
    * it reproduces [[ivfPqIndex]]'s codes bit-for-bit (same final-round
    * assign — spec-asserted), which is what lets the streaming add path
    * extend a persisted index without perturbing the standing rows. */
  private[graft] def ivfPqEncode(batch: DataFrame, cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val centLit = array(cents.map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    val resid = withCoarseCell(cents)(batch)
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), element_at(centLit, col("cell") + 1),
          (x, c) => x.cast("double") - c).as("rv"))
    pqAssign(resid.select(col("vec_id"), col("cell"),
        posexplode(pqSubvectorExpr("rv")).as(Seq("m", "v"))), cb)
      .groupBy(col("vec_id"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(m, code))), s -> s.code)")
        .as("codes"))
      .select(col("vec_id"), col("cell"), col("codes"))
  }

  /** Query-side IVF-PQ scoring over an already-built index (in-memory
    * or read back from the catalog): probe the `probes` nearest cells
    * (same argmin contract as annIvf), build one residual + ADC table
    * per (query, probed cell) — residuals are cell-relative — and rank
    * the candidate union. */
  private[graft] def ivfPqScore(emb: DataFrame, codesWithCell: DataFrame,
      cents: Array[Array[Double]], cb: Array[Array[Array[Double]]],
      probes: Int): DataFrame = {
    val centLit = array(cents.map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    def residual(vecCol: String) = zip_with(
      col(vecCol), element_at(centLit, col("cell") + 1),
      (x, c) => x.cast("double") - c)
    val qcell = probeCells(emb, cents, probes)
      .select(col("vec_id"), col("cell"), residual("embedding").as("rv"))
    val qt = qcell
      .select(col("vec_id"), col("cell"),
        posexplode(pqSubvectorExpr("rv")).as(Seq("m", "v")))
      .withColumn("dt", transform(
        element_at(pqCbLit(cb), col("m") + 1),
        c => aggregate(
          zip_with(col("v"), c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d)))
      .groupBy(col("vec_id"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(m, dt))), s -> s.dt)")
        .as("dtabs"))
      .select(col("vec_id").as("q_id"), col("cell"), col("dtabs"))
    graft.functions.AdcSum.register(emb.sparkSession)
    topK(codesWithCell.join(broadcast(qt), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("cell"), col("vec_id").as("neighbor_id"),
          Num.r4(expr("adc_sum(codes, dtabs)")).as("adc")),
      3, asc("adc"))
  }

  private def annIvfPqImpl(spark: SparkSession, sfDir: String,
      probes: Int): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val (codesWithCell, cents, cb) = ivfPqIndex(emb)
    ivfPqScore(emb, codesWithCell, cents, cb, probes)
  }

  /** Persist the trained IVF-PQ index as CATALOG TABLES — the
    * production posture the in-memory queries only simulate: train
    * once, write (cell, codes) + centroids + codebooks, serve lookups
    * from the saved layout without retraining. The codes table is
    * bucketed by `cell` ([[graft.sources.TableOps.resetBucketedTable]])
    * so a serving cluster reads queries' probed cells without a
    * shuffle, and the two model tables are k-row / (M·K)-row metadata.
    * Everything stored is double-precision parquet, so the round-trip
    * is exact — [[annIndexLookup]] reproduces the in-memory
    * [[annIvfPq]] bit-for-bit (spec-asserted). */
  def annIndexWrite(spark: SparkSession, sfDir: String,
      prefix: String = "ann_ivfpq"): Unit =
    annIndexWriteFrom(spark,
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
      prefix)

  /** [[annIndexWrite]] over a caller-chosen training corpus — the entry
    * point the streaming index-maintenance path uses to train the model
    * on the BASE corpus only before new vectors start arriving
    * ([[graft.streaming.StreamAnnIndex]]). */
  private[graft] def annIndexWriteFrom(spark: SparkSession, emb: DataFrame,
      prefix: String): Unit = {
    import spark.implicits._
    val (codesWithCell, cents, cb) = ivfPqIndex(emb)
    graft.sources.TableOps.resetBucketedTable(spark, s"${prefix}_codes",
      codesWithCell.select(col("vec_id"), col("cell"), col("codes")), "cell", 8)
    graft.sources.TableOps.resetTable(spark, s"${prefix}_centroids",
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid"))
    graft.sources.TableOps.resetTable(spark, s"${prefix}_codebooks",
      (for { m <- cb.indices; code <- cb(m).indices }
        yield (m, code, cb(m)(code).toSeq)).toDF("m", "code", "cvec"))
  }

  /** Per-key load memo: the map stores these cheap holders, and the
    * multi-second Spark collect behind a model load runs inside the
    * holder's OWN lazy-val initializer — synchronized per key, never
    * under the map's monitor. Concurrent servers loading the SAME
    * version still load it exactly once (lazy-val init lock), while a
    * hit on an already-resident version only touches the map monitor
    * for the O(1) lookup and returns without waiting behind another
    * version's load (the previous design ran the loader inside
    * computeIfAbsent under the synchronizedMap monitor, so one cold
    * load stalled every concurrent serve — including hits). A loader
    * that THROWS leaves the lazy val uninitialized, so the next access
    * retries the load instead of caching the failure. */
  private[graft] final class Memo[V](load: () => V) { lazy val value: V = load() }

  /** Tiny bounded LRU for resident model state: access-ordered, evicts
    * the ELDEST entry past `max` instead of clearing everything (a full
    * clear also evicted the hot entry, forcing a pointless reload on
    * the very next serve). Values are [[Memo]] holders, so the map's
    * monitor is held only for pointer-sized get/insert — see Memo for
    * the concurrency contract. */
  private def lruCache[V](max: Int): java.util.Map[String, Memo[V]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Memo[V]](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, Memo[V]]) =
          size > max
      })

  /** Loaded (centroids, codebooks) model per index VERSION — the serve
    * path's resident model state, exactly what a serving process keeps
    * in memory between queries. Keyed on the codes table's per-rebuild
    * UUID property (stamped by `TableOps.resetBucketedTable`; catalog
    * createTime alone has millisecond resolution, so a drop+recreate
    * landing in the same tick would silently reuse the stale model),
    * with createTime as the fallback for tables predating the stamp.
    * Entries are k·d + M·K·d doubles (bounded model state, never
    * corpus data), evicted oldest-first past a small bound.
    * Re-collecting the two model tables on EVERY lookup cost two extra
    * Spark jobs + scans per invocation — the round-11 `e_ann_recall`
    * clean-run drift (2.49 → 3.27 s) was mostly this serve-path
    * overhead, paid once per eval invocation. */
  private val ivfPqModelCache =
    lruCache[(Array[Array[Double]], Array[Array[Array[Double]]])](8)

  /** Serve IVF-PQ lookups from the SAVED index: read centroids and
    * codebooks back into the bounded driver-side model state (k and
    * M·K rows — the same shapes the trainers collect; memoized per
    * index version, see [[ivfPqModelCache]]), take the codes relation
    * straight from the bucketed table, and run the standard query-side
    * scoring. No training happens here — this is the serve path of the
    * train-once/persist/serve split. */
  /** The memoized model load behind every serve-path consumer (batch
    * [[annIndexLookup]] and streaming [[annServeStream]]). */
  /** Current index version: the codes table's per-rebuild UUID property
    * (createTime fallback for pre-stamp tables). One catalog metadata
    * fetch, no Spark job. */
  private def indexVersion(spark: SparkSession, prefix: String): String = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_codes"))
    meta.properties.getOrElse("graft.rebuild.id", meta.createTime.toString)
  }

  /** Codes-RELATION version: the rebuild id plus the append revision
    * [[graft.streaming.StreamAnnIndex]] stamps per add batch
    * (`graft.store.rev`). The blue-green refresh key: a moved rev means
    * new FILES under an unchanged model, so the serve loop re-lists the
    * codes relation without reloading the model (whose memo stays keyed
    * on the rebuild id alone — appends never change centroids or
    * codebooks). Same single catalog metadata fetch as
    * [[indexVersion]], no Spark job. */
  private def codesVersion(spark: SparkSession, prefix: String): String = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_codes"))
    meta.properties.getOrElse("graft.rebuild.id", meta.createTime.toString) +
      "@" + meta.properties.getOrElse("graft.store.rev", "0")
  }

  private[graft] def loadIvfPqModel(spark: SparkSession, prefix: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val version = indexVersion(spark, prefix)
    ivfPqModelCache.computeIfAbsent(s"$prefix@$version", _ => new Memo(() => {
      // A memo MISS means this session has not loaded THIS version —
      // which after a rebuild implies its relation cache may still pin
      // the DROPPED model tables' (deleted) file listings. That matters
      // on foreachBatch's CLONED session, whose relation cache is
      // independent of the session that ran the rebuild DDL: without
      // these refreshes the first cold load there dies with a
      // missing-file error (blue-green's first post-rebuild batch —
      // the restart the feature exists to avoid). Refreshing here, on
      // the miss path only, keeps the steady state (resident version)
      // at zero catalog work.
      spark.catalog.refreshTable(s"${prefix}_centroids")
      spark.catalog.refreshTable(s"${prefix}_codebooks")
      val cents = spark.table(s"${prefix}_centroids").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
      val cbRows = spark.table(s"${prefix}_codebooks").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      require(cbRows.length == PqM * PqK,
        s"saved codebook table ${prefix}_codebooks is incomplete: " +
          s"${cbRows.length} rows, expected ${PqM * PqK}")
      val cb = Array.tabulate(PqM, PqK)((m, code) => Array.empty[Double])
      cbRows.foreach { case (m, code, v) => cb(m)(code) = v }
      (cents, cb)
    })).value
  }

  /** Test hook: drop every resident model so the next serve performs a
    * genuinely COLD load (catalog resolution + collect) on whichever
    * session asks — the blue-green spec uses it to prove the stream's
    * cloned session can load a rebuilt model without pre-warming by the
    * main session (the JVM-shared memo otherwise masks cold-load bugs). */
  private[graft] def clearIvfPqModelCache(): Unit = ivfPqModelCache.clear()

  def annIndexLookup(spark: SparkSession, sfDir: String,
      prefix: String = "ann_ivfpq", probes: Int = 1): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val (cents, cb) = loadIvfPqModel(spark, prefix)
    ivfPqScore(emb, spark.table(s"${prefix}_codes"), cents, cb, probes)
  }

  /** Online ANN serving over a LIVE query stream — the missing runtime
    * half of the train-once/persist/serve split: `queries` is a
    * STREAMING DataFrame of (q_id, event_ts, embedding), and each
    * micro-batch's vectors are answered from the persisted IVF-PQ
    * index without any training or corpus scan on the hot path.
    *
    * Dataflow, all stream-legal: the resident model (centroids +
    * codebooks, [[loadIvfPqModel]] — collected once per index version,
    * never per batch) enters the plan as broadcast literals; probe-cell
    * selection, residual, and the per-subspace ADC distance table are
    * pure map-side expressions on the stream (the batch path's
    * window-based probe selection becomes an `array_sort` + `slice`
    * over (dist, cell) structs — identical tie-breaking, any `probes`
    * count, no window — and its dtab groupBy becomes a `zip_with` over
    * the subvector/codebook arrays: both shuffle-free, leaving ONE
    * stateful operator); candidates come from a STREAM-STATIC inner
    * join against the bucketed codes table on `cell`; and the top-k
    * cut is a watermarked streaming aggregation keyed on
    * (q_id, event_ts) whose state evicts `lateness` behind the event
    * clock — bounded by in-flight queries, never by stream length.
    * Emits (q_id, event_ts, topk: array<struct<adc, neighbor_id>>) in
    * append mode once the watermark closes each query's slot;
    * `array_sort` on (adc, neighbor_id) structs makes ties — and
    * therefore the cut — deterministic, bit-matching the batch serve
    * path (spec-asserted against [[annIndexLookup]] row for row at
    * probes 1 AND 2).
    *
    * Operational contract: the model is PINNED at stream start (plan
    * literals) and the codes relation resolves once — rebuilding the
    * index under a running serve stream desyncs model and codes, so a
    * rebuild is followed by a serve-stream RESTART (the restart reloads
    * via the version-keyed memo; checkpointed sinks resume exactly).
    * The same pinning applies to [[graft.streaming.StreamAnnIndex]]
    * ADDS: vectors appended after stream start surface only on
    * restart. When the fleet must absorb rebuilds or adds without
    * restarting, use [[annServeStreamBlueGreen]] — the per-batch
    * version cut-over.
    *
    * 100 TB posture: per query the work is O(d·k_cells + M·K·d) map
    * arithmetic plus `probes` bucketed-cell reads — the static side is
    * bucket-partitioned by `cell`, so a serving cluster reads only the
    * probed cells' bucket files; no shuffle of the corpus, ever. */
  def annServeStream(queries: DataFrame, k: Int = 3,
      prefix: String = "ann_ivfpq", probes: Int = 1,
      lateness: String = "10 seconds"): DataFrame = {
    val spark = queries.sparkSession
    val (cents, cb) = loadIvfPqModel(spark, prefix)
    serveScore(queries.withWatermark("event_ts", lateness),
      k, prefix, probes, cents, cb)
  }

  /** The serve-path scoring core shared by the pinned-model stream
    * ([[annServeStream]]) and the per-batch blue-green server
    * ([[annServeStreamBlueGreen]]): probe-cell selection, residual, and
    * ADC tables as map-side expressions over the RESIDENT model;
    * candidates from the bucketed codes table; per-(q_id, event_ts)
    * top-k cut. No stateful operator of its own — over a watermarked
    * stream the groupBy plans as the streaming aggregation
    * annServeStream documents; over a batch (one foreachBatch
    * micro-batch) it is a plain agg, because a query's candidates all
    * come from the static side within its own batch. */
  private def serveScore(queries: DataFrame, k: Int, prefix: String,
      probes: Int, cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val spark = queries.sparkSession
    val centLit = array(cents.map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    graft.functions.AdcSum.register(spark)
    val qcell = queries
      .withColumn("darr", array(cents.map(ivfSqDist).toIndexedSeq: _*))
      .withColumn("pc", expr(
        s"""explode(slice(array_sort(zip_with(darr,
           |  sequence(0, ${cents.length - 1}),
           |  (d, c) -> struct(d AS dist, c AS cell))), 1, $probes))""".stripMargin))
      .withColumn("cell", col("pc.cell").cast("int"))
      .withColumn("rv", zip_with(col("embedding"),
        element_at(centLit, col("cell") + 1), (x, c) => x.cast("double") - c))
      .withColumn("dtabs", zip_with(pqSubvectorExpr("rv"), pqCbLit(cb),
        (v, cbm) => transform(cbm, c => aggregate(
          zip_with(v, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, d) => a + d))))
      .select(col("q_id"), col("event_ts"), col("cell"), col("dtabs"))
    qcell.join(spark.table(s"${prefix}_codes"), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("event_ts"),
        col("vec_id").as("neighbor_id"),
        Num.r4(expr("adc_sum(codes, dtabs)")).as("adc"))
      .groupBy(col("q_id"), col("event_ts"))
      .agg(slice(array_sort(collect_list(struct(col("adc"), col("neighbor_id")))),
        1, k).as("topk"))
  }

  /** One-shot batch serve against the CURRENT index version — the body
    * a blue-green micro-batch runs, exposed package-side so the
    * cut-over spec can compute its per-version expectations through
    * the same scoring core. */
  private[graft] def serveBatch(queries: DataFrame, k: Int = 3,
      prefix: String = "ann_ivfpq", probes: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    val (cents, cb) = loadIvfPqModel(spark, prefix)
    serveScore(queries, k, prefix, probes, cents, cb)
  }

  /** BLUE-GREEN online ANN serving: like [[annServeStream]], but the
    * index version is RE-RESOLVED at every micro-batch boundary instead
    * of pinned at stream start, so an index rebuild under a running
    * serve fleet cuts over WITHOUT a restart — batches before the
    * rebuild's commit answer from version N, batches after from N+1,
    * and no in-flight query is dropped (spec-asserted: rebuild
    * mid-stream, every emitted row matches the version current at its
    * batch). Streamed ADDS are absorbed the same way: the per-batch
    * version is the composite (rebuild id, append rev) —
    * [[graft.streaming.StreamAnnIndex]] stamps the rev per add batch —
    * so new vectors become servable at the next batch boundary while
    * an unchanged-version batch still re-lists nothing. The mechanism is foreachBatch: per batch the resident
    * model is re-resolved through the version-keyed memo
    * ([[loadIvfPqModel]] — an unchanged version costs one catalog
    * metadata fetch, no Spark job) and the codes relation re-resolves
    * with it; the two reads are version-CHECKED around plan
    * construction, re-resolving once if a rebuild landed between them.
    * A rebuild racing the batch's EXECUTION surfaces as a missing-file
    * read error (the old version's files are gone — never a silent
    * old-model/new-codes mix); the batch body catches exactly that
    * error class, re-resolves version + model + codes, and re-runs the
    * sink against the new version, bounded at [[BlueGreenRaceRetries]]
    * attempts (an exception in foreachBatch otherwise TERMINATES the
    * StreamingQuery — Spark does not retry a failed batch in place, so
    * without this the race would force the external checkpointed
    * restart this entry point exists to avoid). `sink` must therefore
    * be idempotent per batchId — the same contract checkpoint recovery
    * already imposes on every foreachBatch writer. Per-batch output
    * goes to `sink` (exactly-once under a checkpoint, as with any
    * foreachBatch writer); there is no cross-batch state, so the
    * watermarked aggregation of the pinned path is unnecessary here —
    * each query is answered entirely within its arrival batch. */
  def annServeStreamBlueGreen(queries: DataFrame, k: Int = 3,
      prefix: String = "ann_ivfpq", probes: Int = 1,
      checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // The stream executes batches on a CLONED session whose relation
    // cache is independent of the session that ran the rebuild's DDL,
    // so a version roll must be followed by an explicit refreshTable
    // on the batch's own session — otherwise the codes relation keeps
    // resolving to the dropped table's files. Tracked per stream so the
    // steady state (version unchanged) re-lists nothing.
    var lastVersion: String = null
    val writer = queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        var attempts = 0
        var done = false
        while (!done) {
          // The WHOLE attempt — version fetch, model load, plan
          // construction, settle, sink — sits inside the retry shield:
          // a rebuild racing the RESOLVE phases surfaces as a missing
          // table (the drop↔recreate catalog window) or a missing model
          // file, not just as the sink's mid-read file loss, and any of
          // those outside a try would terminate the StreamingQuery —
          // forcing the checkpointed restart this entry point exists to
          // avoid.
          try {
            var out: DataFrame = null
            // composite (rebuild id, append rev): a rolled REBUILD
            // re-lists codes and reloads the model (the memo is keyed on
            // the rebuild id inside loadIvfPqModel); a moved append REV —
            // StreamAnnIndex landing new vectors under the unchanged
            // model — re-lists codes only, which is what lets a serve
            // fleet absorb streamed adds without a restart
            // (spec-asserted: an add between two serve batches is
            // retrievable in the second).
            var v = codesVersion(spark, prefix)
            var settled = false
            var settleTries = 0
            while (!settled) {
              settleTries += 1
              // bounded: continuous version churn faster than plan
              // construction must surface as an operational error, not
              // spin this batch forever (contrast the sink retry, which
              // was always bounded)
              require(settleTries <= BlueGreenSettleRetries,
                s"blue-green serve batch $batchId could not settle on an " +
                  s"index version after $BlueGreenSettleRetries attempts " +
                  "— the index is rolling faster than plans can be " +
                  "built; pause the rebuild/add churn or serve pinned")
              if (v != lastVersion) {
                spark.catalog.refreshTable(s"${prefix}_codes")
                lastVersion = v
              }
              val (cents, cb) = loadIvfPqModel(spark, prefix)
              out = serveScore(batch, k, prefix, probes, cents, cb)
              val v2 = codesVersion(spark, prefix)
              settled = v2 == v
              v = v2
            }
            sink(out, batchId); done = true
          } catch {
            // ONLY the rebuild race (resolve-phase missing table/model,
            // or mid-execution file loss after the plan resolved version
            // N and the rebuild deleted N's files). Anything else — sink
            // bugs, OOM, analysis errors, the settle bound above —
            // propagates and fails the query loudly, as it should.
            case e: Throwable
                if attempts < BlueGreenRaceRetries && isRebuildRaceError(e) =>
              attempts += 1
              log.warn(s"blue-green serve batch $batchId raced an index " +
                s"rebuild (attempt $attempts of $BlueGreenRaceRetries): " +
                "re-resolving against the new version and re-running — " +
                s"${e.getMessage}")
              lastVersion = null // force codes refresh on re-resolve
          }
        }
      }
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** Registry form of the persisted-index SERVE path: ensure the index
    * exists for `sfDir` (trains at most once per source dir — the same
    * guard [[annRecallEval]] uses), then answer from the SAVED tables
    * only. Oracle: identical to `e_ann_ivfpq` — persistence must
    * change nothing, which is spec-asserted bit-for-bit against the
    * in-memory build (ScaleToolsSpec), and the write path still runs
    * on the first ensure per source dir. This used to REBUILD the
    * index on every invocation, so the registry's "serve 30 queries
    * from a prebuilt index" entry was paying a full train+write per
    * call — fixed build cost, not serve cost (the round-12 profile
    * item). */
  def annIndexRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    annIndexEnsure(spark, sfDir)
    annIndexLookup(spark, sfDir)
  }

  /** Train-once guard for the persisted index: (re)build only when the
    * saved tables are absent or were trained from a DIFFERENT source dir
    * (recorded as a table property on the codes table — same idempotency
    * device as `PartitionedScan.eventsByDay`). Lets consumers like
    * [[annRecallEval]] SERVE the ivfpq arm instead of retraining it
    * per invocation — the train-once/serve-many split inside the eval
    * itself, which is how the index-selection loop actually runs at
    * 100 TB (the candidate indexes are built once, then every recall /
    * latency probe reads the saved layout). */
  def annIndexEnsure(spark: SparkSession, sfDir: String,
      prefix: String = "ann_ivfpq"): Unit =
    ensureFromSource(spark, s"${prefix}_codes", sfDir) {
      annIndexWrite(spark, sfDir, prefix)
    }

  /** Build-once guard shared by every persisted eval/index artifact:
    * run `build` only when `table` is absent or was built from a
    * DIFFERENT source dir (recorded as a table property — the
    * idempotency device of `PartitionedScan.eventsByDay`). */
  private[graft] def ensureFromSource(spark: SparkSession, table: String,
      sfDir: String)(build: => Unit): Unit = {
    val canonical = new java.io.File(sfDir).getCanonicalPath
    val current = spark.catalog.tableExists(table) &&
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .properties.get("graft.source.dir").contains(canonical)
    if (!current) {
      build
      // catalog API, not interpolated SQL: the canonical path is caller
      // data (a quote is legal in a directory name), and a parse failure
      // HERE lands after the build succeeded — the missing property then
      // forces a full retrain on every subsequent ensure (the same
      // hazard class TableOps.restoreGraftProps closes)
      val cat = spark.sessionState.catalog
      val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
      val meta = cat.getTableMetadata(id)
      cat.alterTable(meta.copy(
        properties = meta.properties + ("graft.source.dir" -> canonical)))
    }
  }

  private[graft] val annExactTable = "ann_exact_gt"

  /** Compute-once guard for the eval's EXACT ground truth: the cosine
    * top-3 of the shared q_id < 10 query set ([[knnPerVec]] restricted),
    * persisted as a 30-row catalog table keyed to its source dir. This
    * is how a production index-selection loop actually runs: ground
    * truth is the expensive exact pass, computed once per corpus
    * snapshot, then every candidate index's recall probe reads the
    * saved pairs — re-deriving exact top-k per probe would multiply the
    * one cost the evaluation exists to avoid paying per query. */
  def annExactEnsure(spark: SparkSession, sfDir: String): Unit =
    ensureFromSource(spark, annExactTable, sfDir) {
      graft.sources.TableOps.resetTable(spark, annExactTable,
        knnPerVec(spark, sfDir).filter(col("q_id") < 10)
          .select(col("q_id"), col("neighbor_id")))
    }

  /** OPQ-lite rotation, learned from data but restricted to the
    * permutation subgroup of the orthogonal group: rank dimensions by
    * corpus variance (rounded +1e-9 to 6 dp — the cross-engine
    * determinism contract) and snake-allocate the ranked dimensions
    * across the M subspaces, so every codebook trains on a balanced
    * share of corpus energy. This is parametric OPQ's
    * eigenvalue-allocation step (Ge et al., CVPR 2013) without the PCA
    * basis change — the restriction that keeps the whole transform
    * exactly replayable in the DuckDB oracle. O(d) driver state from a
    * single corpus scan; applying the rotation is a map-side
    * element_at shuffle-free projection. Returns perm where
    * perm(newpos) = original dim; subspace m owns slots
    * [m·PqD, (m+1)·PqD). */
  private[graft] def opqPermutation(src: DataFrame, vecCol: String): Array[Int] = {
    val ranked = rankedByVariance(src, vecCol)
    val slots = Array.fill(PqM)(List.newBuilder[Int])
    for ((dim, r) <- ranked.zipWithIndex) {
      val j = r % PqM
      val m = if ((r / PqM) % 2 == 0) j else PqM - 1 - j
      slots(m) += dim
    }
    slots.flatMap(_.result())
  }

  /** Corpus dims ranked by variance — the OPQ rotation's learned half,
    * memoized per (vecCol, CANONICALIZED source plan): d integers of
    * model state, the same resident-model posture as
    * [[ivfPqModelCache]], so repeated evals/probes over the same corpus
    * don't re-run the variance scan + collect per invocation. The
    * canonicalized plan normalizes per-instantiation expression ids
    * (`embedding#123`) while keeping the parquet path — two separately
    * constructed DataFrames over the same files produce ONE entry
    * (spec-asserted); the raw analyzed string never repeated across
    * invocations, which made the memo a no-op. The canonicalized
    * STRING alone is not enough either — it elides the scan's file
    * paths, so two different corpora would collide — hence the key
    * carries the relations' root paths explicitly plus the semantic
    * hash (which folds in LocalRelation data for in-memory test
    * sources). Evicted oldest-first past a small bound. */
  private[graft] val opqRankCache = lruCache[Array[Int]](8)

  private def rankedByVariance(src: DataFrame, vecCol: String): Array[Int] = {
    val plan = src.queryExecution.analyzed
    val paths = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.getClass.getName
        }
    }.mkString(";")
    val key =
      s"$vecCol@$paths@${plan.semanticHash()}@${plan.canonicalized.toString}"
    opqRankCache.computeIfAbsent(key,
      _ => new Memo(() => rankedByVarianceUncached(src, vecCol))).value
  }

  private def rankedByVarianceUncached(src: DataFrame, vecCol: String): Array[Int] =
    src
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(round(var_samp(col("x").cast("double")) + lit(1e-9), 6).as("vr"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy { case (dim, v) => (-v, dim) }
      .map(_._1)

  /** Permuted copy of `embedding` as a new array column (1-based
    * element_at against the broadcast permutation literal). */
  private[graft] def opqRotate(perm: Array[Int]): Column =
    transform(array(perm.map(p => lit(p)).toIndexedSeq: _*),
      p => element_at(col("embedding"), p + 1))

  /** OPQ ANN: the flat-PQ pipeline run over rotated vectors — learn the
    * variance-balancing permutation, permute corpus and queries once
    * (total distances are rotation-invariant; per-SUBSPACE distances are
    * not, which is exactly the point: balanced subspace energy lowers
    * quantization error, so ADC ranks get closer to exact ranks), then
    * train/encode/score identically to [[annPq]]. */
  def annOpq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val rot = emb.select(col("vec_id"),
      opqRotate(opqPermutation(emb, "embedding")).as("rv"))
    topK(pqAdcScoresOf(rot, "rv"), 3, asc("adc"))
  }

  /** DuckDB twin of [[annIvfPqImpl]]: the shared IVF cell chain
    * (`e`…`a3`, `c2`) + residuals + a "p"-namespaced PQ training over
    * them + one ADC table per (query, probed cell), all in one WITH.
    * `qts` here is keyed (q_id, pcell) because multiprobe residuals are
    * cell-relative; candidates join on their own cell = pcell. */
  private def ivfPqSql(probes: Int, baseOnly: Boolean = false): String = {
    // the streamed index trains PQ over the base residuals `ctr` only
    // and encodes every vector (`psv`) with the frozen codebook
    val (ctr, train) =
      if (baseOnly)
        (s"""ctr AS (SELECT vec_id, cell, rv FROM cres WHERE vec_id % 5 != 0),
            |psvt AS (
            |  ${pqSvCteSql("ctr", "rv")}),
            |""".stripMargin, "psvt")
      else ("", "psv")
    s"""WITH ${ivfCellCtesSql(baseOnly)},
       |cres AS (
       |  SELECT a.vec_id, a.cell,
       |         list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]) AS rv
       |  FROM a3 a JOIN c2 c ON c.cell = a.cell),
       |${ctr}psv AS (
       |  ${pqSvCteSql("cres", "rv")}),
       |${pqTrainCtes("p", train, encodeSv = "psv")},
       |${ivfQueryCellCte("qcell", probes)},
       |qres AS (
       |  SELECT q.vec_id, q.cell AS pcell,
       |         list_transform(list_zip(e.v, c.cv), p -> p[1] - p[2]) AS rv
       |  FROM qcell q JOIN e ON e.vec_id = q.vec_id JOIN c2 c ON c.cell = q.cell),
       |qsv AS (
       |  ${pqSvCteSql("qres", "rv", ", pcell")}),
       |${pqAdcTableCtes("qsv", s"pc$PqIters", "", probeKey = true)},
       |adcs AS (
       |  SELECT q.q_id, q.pcell AS cell, pc.vec_id AS neighbor_id,
       |         round(list_sum(list_transform(list_zip(pc.codes, q.dtabs),
       |           p -> p[2][p[1] + 1])) + 1e-9, 4) AS adc${srcSql("pc.vec_id", baseOnly)}
       |  FROM pcodes pc
       |  JOIN a3 a ON a.vec_id = pc.vec_id
       |  JOIN qts q ON q.pcell = a.cell AND pc.vec_id != q.q_id)
       |${topKSql("q_id, rank, neighbor_id, cell, adc" + (if (baseOnly) ", src" else ""),
            "adcs", 3, "adc ASC, neighbor_id ASC")}""".stripMargin
  }

  def annIvfPqSql: String = ivfPqSql(probes = 1)
  def annIvfPqProbe2Sql: String = ivfPqSql(probes = 2)

  /** DuckDB twin of the STREAMED index fold
    * ([[graft.streaming.StreamAnnIndex.annIndexStreamed]]): the coarse
    * Lloyd chain and the PQ training both run over the BASE corpus only
    * (vec_id % 5 != 0 — the standing 80%, same split as
    * [[annIvfIncremental]]), the full corpus is then ENCODED with the
    * frozen model (a3 assigns every vector against c2; pqTrainCtes'
    * encodeSv runs the final PQ assignment over the full residual
    * subvectors), and queries score the union store through the standard
    * single-probe ADC chain — each neighbor labeled base/new so the
    * result itself proves the streamed-in rows are retrievable. */
  def annIndexStreamedSql: String = ivfPqSql(probes = 1, baseOnly = true)

  private def pqAssignCte(a: String, c: String, sv: String): String =
    s"""$a AS (SELECT vec_id, m, sv, cell FROM (
       |  SELECT s.vec_id, s.m, s.sv, c.cell,
       |         row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |           list_sum(list_transform(list_zip(s.sv, c.cv),
       |             p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC, c.cell ASC) AS rn
       |  FROM $sv s JOIN $c c ON c.m = s.m) WHERE rn = 1)""".stripMargin

  private def pqUpdateCte(mm: String, a: String, prevL: String, cl: String,
      c: String): String =
    s"""$mm AS (SELECT m, cell, dim, round(avg(x) + 1e-9, 6) AS cv
       |      FROM (SELECT m, cell, CAST(generate_subscripts(sv, 1) - 1 AS INT) AS dim,
       |                   unnest(sv) AS x
       |            FROM $a) u
       |      GROUP BY m, cell, dim),
       |$cl AS (SELECT p.m, p.cell, p.dim, COALESCE($mm.cv, p.x) AS cv
       |      FROM $prevL p LEFT JOIN $mm
       |        ON $mm.m = p.m AND $mm.cell = p.cell AND $mm.dim = p.dim),
       |$c AS (SELECT m, cell, list(cv ORDER BY dim) AS cv FROM $cl GROUP BY m, cell)""".stripMargin

  /** Generic PQ training chain over a subvector CTE `sv(vec_id, m, sv)`,
    * namespaced by `px` so two trainings (flat PQ over embeddings, IVFPQ
    * over residuals) can coexist: seeds = the PqK rank-smallest vec_ids'
    * subvectors, PqIters unrolled rounds (generated from the SAME constant
    * the Spark trainer uses), final assignment + codes. Yields
    * `${px}codes(vec_id, codes)`; final codebook = `${px}c$PqIters`.
    * `encodeSv` (default: `sv` itself) is the subvector CTE the FINAL
    * assignment encodes — the frozen-model split the incremental/
    * streamed index oracles need: train on the base subvectors, encode
    * the full corpus with the resulting codebook. */
  private def pqTrainCtes(px: String, sv: String,
      encodeSv: String = ""): String = {
    val enc = if (encodeSv.isEmpty) sv else encodeSv
    val rounds = (1 to PqIters).map { k =>
      val prevL = if (k == 1) s"${px}c0l" else s"${px}c${k - 1}l2"
      val pre =
        if (k == 1) ""
        else s"${px}c${k - 1}l2 AS (SELECT m, cell, dim, cv AS x FROM ${px}c${k - 1}l),\n"
      pre + s"${pqAssignCte(s"${px}a$k", s"${px}c${k - 1}", sv)},\n" +
        pqUpdateCte(s"${px}m$k", s"${px}a$k", prevL, s"${px}c${k}l", s"${px}c$k")
    }.mkString(",\n")
    val fin = PqIters + 1
    s"""${px}c0 AS (
       |  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INT) AS cell,
       |         sv AS cv
       |  FROM $sv WHERE vec_id IN (SELECT DISTINCT vec_id FROM $sv ORDER BY vec_id LIMIT $PqK)),
       |${px}c0l AS (SELECT m, cell, CAST(generate_subscripts(cv, 1) - 1 AS INT) AS dim,
       |               unnest(cv) AS x
       |        FROM ${px}c0),
       |$rounds,
       |${pqAssignCte(s"${px}a$fin", s"${px}c$PqIters", enc)},
       |${px}codes AS (SELECT vec_id, list(cell ORDER BY m) AS codes
       |               FROM ${px}a$fin GROUP BY vec_id)""".stripMargin
  }

  /** DuckDB slice of `col` into the M subvectors, as a CTE body.
    * `extraCols` passes additional key columns through (e.g. the probe
    * cell for multiprobe IVFPQ). */
  private def pqSvCteSql(src: String, vCol: String,
      extraCols: String = ""): String = {
    val mList = (0 until PqM).mkString("[", ", ", "]")
    s"""SELECT vec_id$extraCols, m, $vCol[m * $PqD + 1 : m * $PqD + $PqD] AS sv
       |  FROM $src CROSS JOIN (SELECT unnest($mList) AS m)""".stripMargin
  }

  /** Per-query ADC lookup tables against codebook `cb`: squared distance
    * from each query subvector to each centroid, assembled into the
    * m-ordered nested list `qts(q_id[, pcell], dtabs)` — ONE definition
    * shared by the flat-PQ and IVFPQ oracles. `svSrc` must expose
    * (vec_id[, pcell], m, sv); `where` narrows to query rows (empty when
    * svSrc is query-only); `probeKey` threads the multiprobe cell through
    * as an extra grouping key. */
  private def pqAdcTableCtes(svSrc: String, cb: String, where: String,
      probeKey: Boolean = false): String = {
    val pSel = if (probeKey) ", s.pcell" else ""
    val pKey = if (probeKey) ", pcell" else ""
    s"""qd AS (
       |  SELECT s.vec_id AS q_id$pSel, s.m, c.cell,
       |         list_sum(list_transform(list_zip(s.sv, c.cv),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
       |  FROM $svSrc s JOIN $cb c ON c.m = s.m $where),
       |qt AS (SELECT q_id$pKey, m, list(d ORDER BY cell) AS dt
       |       FROM qd GROUP BY q_id$pKey, m),
       |qts AS (SELECT q_id$pKey, list(dt ORDER BY m) AS dtabs
       |        FROM qt GROUP BY q_id$pKey)""".stripMargin
  }

  private def pqCtesSql: String = {
    s"""se AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sv AS (
       |  ${pqSvCteSql("se", "v")}),
       |${pqTrainCtes("", "sv")},
       |${pqAdcTableCtes("sv", s"c$PqIters", "WHERE s.vec_id < 10")},
       |${flatAdcsSql("codes")}""".stripMargin
  }

  /** The flat ADC scores (CTE `adcs`) of every corpus code word of
    * `codes` against each query's `qts` table — the flat-PQ and OPQ
    * oracles' candidate scorer. */
  private def flatAdcsSql(codes: String): String =
    s"""adcs AS (
       |  SELECT q.q_id, c.vec_id AS neighbor_id,
       |         round(list_sum(list_transform(list_zip(c.codes, q.dtabs),
       |           p -> p[2][p[1] + 1])) + 1e-9, 4) AS adc
       |  FROM $codes c CROSS JOIN qts q WHERE c.vec_id != q.q_id)""".stripMargin

  def annPqSql: String =
    s"""WITH $pqCtesSql
       |${topKSql("q_id, rank, neighbor_id, adc", "adcs", 3, "adc ASC, neighbor_id ASC")}""".stripMargin

  def annPqRefineSql: String =
    s"""WITH $pqCtesSql,
       |short AS (
       |  ${topKSql("q_id, neighbor_id", "adcs", 16, "adc ASC, neighbor_id ASC")}),
       |${exactRerankSql("short")}""".stripMargin

  /** DuckDB twin of [[annOpq]]: replay the variance ranking (same
    * round(var_samp + 1e-9, 6) contract), the snake allocation, and the
    * within-subspace slot layout, rebuild the permuted vectors, then run
    * the IDENTICAL o-namespaced PQ training + ADC chain the flat-PQ
    * oracle uses. */
  def annOpqSql: String =
    s"""WITH se AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dvar AS (
       |  SELECT dim, round(var_samp(x) + 1e-9, 6) AS vr
       |  FROM (SELECT CAST(generate_subscripts(v, 1) - 1 AS INT) AS dim,
       |               unnest(v) AS x
       |        FROM se) u
       |  GROUP BY dim),
       |dr AS (
       |  SELECT dim,
       |         CAST(row_number() OVER (ORDER BY vr DESC, dim ASC) - 1 AS INT) AS r
       |  FROM dvar),
       |pslot AS (
       |  SELECT dim, r,
       |         CAST(m * $PqD +
       |              row_number() OVER (PARTITION BY m ORDER BY r) - 1 AS INT) AS newpos
       |  FROM (SELECT dim, r,
       |               CASE WHEN (r // $PqM) % 2 = 0 THEN r % $PqM
       |                    ELSE $PqM - 1 - (r % $PqM) END AS m
       |        FROM dr) a),
       |re AS (
       |  SELECT e.vec_id, list(e.v[p.dim + 1] ORDER BY p.newpos) AS v
       |  FROM se e CROSS JOIN pslot p GROUP BY e.vec_id),
       |osv AS (
       |  ${pqSvCteSql("re", "v")}),
       |${pqTrainCtes("o", "osv")},
       |${pqAdcTableCtes("osv", s"oc$PqIters", "WHERE s.vec_id < 10")},
       |${flatAdcsSql("ocodes")}
       |${topKSql("q_id, rank, neighbor_id, adc", "adcs", 3, "adc ASC, neighbor_id ASC")}""".stripMargin

  /** Matryoshka energy ladder (Kusupati et al., MRL) — for each vector,
    * the L2 norm of its first-{8,16,32,64} dims and the fraction of total
    * squared norm those prefixes retain. The diagnostic that sizes the
    * truncation dimension for `mrlAnn` below: an MRL-trained embedding
    * front-loads energy, so the ladder tells you how few dims the coarse
    * stage can keep. Pure per-row projection over a 4-element literal
    * explode — no shuffle, output 4× input rows of scalars. */
  def mrlEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    val sumsq = (arr: String) => expr(
      s"aggregate($arr, 0D, (a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE))")
    Tables.embeddings(spark, sfDir)
      .withColumn("prefix", explode(array(lit(8), lit(16), lit(32), lit(64))))
      .select(col("vec_id"), col("label"), col("prefix"),
        Num.r4(sqrt(sumsq("slice(embedding, 1, prefix)"))).as("norm_prefix"),
        Num.r4(sumsq("slice(embedding, 1, prefix)") / sumsq("embedding"))
          .as("energy_ratio"))
  }

  def mrlEnergySql: String =
    """SELECT vec_id, label, CAST(t.prefix AS INT) AS prefix,
      |       round(sqrt(list_sum(list_transform(list_slice(embedding, 1, t.prefix),
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) + 1e-9, 4) AS norm_prefix,
      |       round(list_sum(list_transform(list_slice(embedding, 1, t.prefix),
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |         / list_sum(list_transform(embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) + 1e-9, 4) AS energy_ratio
      |FROM embeddings, UNNEST([8, 16, 32, 64]) AS t(prefix)
      |ORDER BY vec_id, prefix""".stripMargin

  /** Matryoshka two-stage retrieval — the truncate-then-refine ANN shape
    * MRL embeddings are trained for: score the whole corpus against each
    * query on only the FIRST 32 of 64 dims (half the bytes and FLOPs of
    * the exact pass; the fixture's embeddings are not MRL-trained, so the
    * 32-dim prefix carrying ~47% energy — see mrlEnergy — is the knee),
    * keep the coarse top-20 per query, re-rank just those with the
    * full-dimensional exact cosine, emit top-3 (recall@3 = 0.67 on the
    * fixture vs 4% of the corpus exactly scored; spec-pinned ≥ 0.5). Same two-stage skeleton
    * as `annPqRefine`, but the coarse code is a plain prefix — no
    * codebook to train, decode, or keep on the driver.
    *
    * At 100 TB the win is storage layout, not arithmetic: persist the
    * d′-dim prefix as its OWN parquet column so the coarse scan reads
    * d′/d of the bytes (column pruning does the rest); only the ≤
    * 20·|Q| candidate rows ever touch the full vector. Queries broadcast;
    * the corpus is never shuffled — candidate selection is a per-query
    * top-k window over rounded coarse scores (4 dp + id tie-break, the
    * house determinism contract for ANN rankings). */
  def mrlAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = querySet(emb, 20)(qe)
    // the coarse ranking window carries ONLY (q_id, neighbor_id,
    // coarse_sim) — full vectors join back onto the ≤ 20·|Q| survivors
    // (the hammingRerank/annPqRefine shortlist shape); shipping both
    // 64-dim arrays through the per-query shuffle would move ~512 B of
    // floats per (query, corpus) pair, defeating the truncate-then-
    // refine byte cut the operator exists to demonstrate
    val cand = topK(emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          Num.r4(cosine(spark, "slice(embedding, 1, 32)", "slice(qe, 1, 32)"))
            .as("coarse_sim")),
      20, desc("coarse_sim"))
    exactRerank(spark, cand, emb, q)
  }

  def mrlAnnSql: String =
    s"""WITH coarse AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    ${r4Sql(cosineSql("list_slice(e.embedding, 1, 32)", "list_slice(q.embedding, 1, 32)"))}
       |      AS coarse_sim
       |  FROM embeddings q JOIN embeddings e ON q.vec_id < 20 AND e.vec_id != q.vec_id),
       |cand AS (
       |  ${topKSql("q_id, neighbor_id", "coarse", 20, "coarse_sim DESC, neighbor_id ASC")}),
       |${exactRerankSql("cand")}""".stripMargin
}
