package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Similarity search over the `embeddings` table (vec_id, embedding:
 * array<float>, label).
 *
 * Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
 * variant is the scale path (candidates only within matching hyperplane
 * sign-buckets — at 100 TB the brute-force cross join is quadratic and
 * infeasible, the LSH join shuffles on the bucket key only).
 *
 * All math uses built-in higher-order functions (zip_with + aggregate):
 * codegen'd, no UDF, left-to-right fold order so the DuckDB oracle (same
 * fold order, same double casts) is bit-identical.
 */
object EmbedOps {

  // deliberately NO Scans.fanOut (r7, measured): every e-query reads this
  // table 4-6 times (seeds, Lloyd agg, coded/bucket projection, query
  // side, rerank side) and each read would pay the fan-out exchange — on
  // the small vector table the added stages cost more than the serial
  // scans they parallelize (e7 0.37->0.80s, e3 0.49->0.93s).
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** dot(a, b) in double, left-to-right accumulation (shared with
    * MultimodalOps so media-cosine and embedding-cosine can never diverge).
    * Backed by the native codegen'd [[graft.functions.VecDot]] expression —
    * the zip_with + aggregate HOF shape it replaced is interpreted (lambda
    * dispatch + an intermediate product array per pair), and VecDot's
    * contract pins the IDENTICAL left-fold double arithmetic, so every
    * cosine oracle is unchanged bit-for-bit (re-verified at all SFs). */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_dot(a, b)

  /** The replaced HOF shape, kept for the parity test only. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private[graft] def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine from PRE-COMPUTED norm scalar columns, NULL for zero vectors.
    * Two reasons this shape is mandatory: (1) Spark 4 defaults ANSI mode ON,
    * where 0/0 THROWS — one all-zero embedding in a 100 TB corpus must
    * score NULL (failing every threshold/rank filter), not kill the job;
    * (2) norms computed once per VECTOR in the side frames instead of once
    * per PAIR inside the join cut the HOF passes from O(pairs) to O(rows)
    * (zip_with/aggregate are interpreted — see litDot's note). NULL ranks
    * after every real cosine (Spark default NULLS LAST on DESC). */
  private[graft] def cosineFromNorms(dotCol: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0, dotCol / (na * nb))

  /** dot(vec, literal constant vector): the constant side is a literal
    * array (computed once on the driver), folded with the same zip_with +
    * aggregate shape as `dot`. (An unrolled sum of 64 element_at terms was
    * tried and measured ~3x SLOWER — with 32 dots per row the generated
    * expression tree exceeds codegen/JIT limits and falls back to
    * interpreted eval of a 2048-node tree.) */
  private def litDot(vec: Column, comps: Array[Double]): Column =
    dot(vec, typedlit(comps.toSeq))

  /** splitmix64 — deterministic pseudo-random doubles in [-1, 1) for the
    * LSH hyperplanes, computed ONCE on the driver (no per-row hashing, no
    * RNG state; same planes on any cluster size). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** package-visible: SparkEntry embeds these exact components as literal
    * arrays in the e3 DuckDB oracle */
  private[graft] def planeComponents(table: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      (mix64(table * 1000003L + plane * 10007L + d) >>> 11) *
        (2.0 / (1L << 53)) - 1.0
    }

  private def embeddingDim(e: DataFrame): Int =
    e.select(size(col("embedding")).as("d")).head().getInt(0)

  /** Brute-force cosine top-k for a set of query vectors (default: the
    * first `nQueries` vec_ids). Output: (query_id, rank, neighbor_id,
    * cosine rounded to 6). */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 3): DataFrame = {
    val e = emb(spark, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"))
    val scored = queries
      .crossJoin(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(dot(col("qv"), col("nv")), col("nq"), col("nn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      // zero-norm vectors score NULL, which sorts last but would still be
      // rank-padded into the top-k when a query has < k real neighbors —
      // exclude them outright (no-op on the oracle data: no zero vectors)
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** All near-duplicate embedding pairs with cosine ≥ threshold —
    * embedding-based near-dup dedup. Brute force (correctness baseline):
    * the plan is an O(n²) crossJoin by DESIGN, so it refuses corpora past
    * `maxVectors` LOUDLY — pointing a 100 TB corpus at the exact baseline
    * must fail at plan-build time, not melt a cluster. [[lshNearDupPairs]]
    * (e5, sign-bucket equi-join) and [[semanticDedup]] (e6, within-cell
    * pairs) are the scale paths with the identical cosine contract; raise
    * `maxVectors` explicitly only for a deliberate exact sweep. */
  def cosineNearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.38,
                         maxVectors: Long = 20000): DataFrame = {
    val e = emb(spark, dir)
    val n = e.count()
    require(n <= maxVectors,
      s"cosineNearDupPairs is the O(n²) exact BASELINE (full crossJoin): " +
        s"$n vectors exceeds maxVectors=$maxVectors. Use lshNearDupPairs (e5) " +
        s"or semanticDedup (e6) at corpus scale, or raise maxVectors for a " +
        s"deliberate exact sweep.")
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
      norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
      norm(col("embedding")).as("nb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosineFromNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** Fixed-point scale for the Lloyd accumulation: 2^30. Components are
    * float32 (|x| bounded small), so x·2^30 fits exactly in a double and
    * the rounded BIGINT terms sum EXACTLY — integer sums are reduce-order-
    * invariant where a double sum drifts in the last ulp per partitioning.
    * That makes the refined centroids bit-reproducible on any cluster size
    * AND recomputable by the DuckDB oracle (both engines round ties away
    * from zero; the product by a power of two is exact on both). */
  private val LloydScale = 1073741824.0 // 2^30

  /** IVF (inverted-file) approximate NN — the other scale path: assign
    * every vector to its nearest of `nlist` coarse centroids (one broadcast
    * pass, no shuffle of the big side), then search a query only inside its
    * `nprobe` nearest cells.
    *
    * Centroids: a deterministic sample (vec_id < nlist) seeds ONE
    * distributed Lloyd (k-means) refinement — every vector is assigned to
    * its nearest seed by the same literal-dot argmax projection, per-cell
    * component sums are accumulated as scaled BIGINTs (see [[LloydScale]]:
    * exact, order-invariant, map-side combined; one groupBy over nlist
    * keys, never a per-dimension explode), and the nlist mean vectors come
    * back to the driver as model state (nlist rows — the same driver-sized
    * collect the seed sample already pays). Cells that attract no vectors
    * keep their seed. The plan shape (broadcast assign → cell-key equi-join
    * → windowed top-k) is unchanged and is what matters at 100 TB; more
    * Lloyd rounds would repeat the same one-agg step. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 3,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = emb(spark, dir)
    val cents = refinedCentroids(e, nlist)

    // nearest cell per vector (score = dot(emb, cent/||cent||): same cell
    // ORDER as cosine — the row's own norm is a positive common factor,
    // never computed): one native argmax projection, no shuffle
    val assigned = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("nv"), norm(col("embedding")).as("nn"),
      bestCell(col("embedding"), cents).as("cell"))

    // nprobe nearest cells per query — still projection-only, no window,
    // no shuffle
    val queryCells = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"),
        explode(topCells(col("embedding"), cents, nprobe)).as("cell"))

    // each query has nprobe distinct cells and each neighbor exactly one
    // cell, so candidate pairs are unique — no dedupe stage needed
    val cands = queryCells
      .join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(dot(col("qv"), col("nv")), col("nq"), col("nn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      // exclude NULL-cosine (zero-norm) candidates from ranking, as in
      // cosineTopK
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** The coarse-quantizer argmax / top-p over the centroid model state —
    * ONE native codegen'd call per row (functions.VecBestCell/VecTopCells)
    * instead of the per-cell literal-struct array the r4-r6 shape built
    * (nlist VecDots in one projection blow past codegen limits at a
    * production nlist — measured r7: nlist=1024 fell back to interpreted
    * eval). Exact parity with the replaced array_max / reverse(array_sort)
    * selections is the expressions' contract (same VecDot left-fold
    * scores, same (s, cell) tie ordering, null scores ordered last), with
    * two deliberate departures: a NULL embedding gets a NULL cell, and a
    * NaN score sorts last like a NULL one (see [[graft.functions.VecCells]]). */
  private def bestCell(vec: Column, cents: Array[(Int, Array[Double])]): Column =
    graft.functions.GraftFunctions.vec_best_cell(vec,
      typedlit(cents.map(_._1).toSeq), typedlit(cents.map(_._2.toSeq).toSeq))

  private def topCells(vec: Column, cents: Array[(Int, Array[Double])], p: Int): Column =
    graft.functions.GraftFunctions.vec_top_cells(vec,
      typedlit(cents.map(_._1).toSeq), typedlit(cents.map(_._2.toSeq).toSeq), lit(p))

  /** The e4/e6 coarse quantizer: a deterministic seed sample (vec_id <
    * nlist) refined by ONE distributed Lloyd step with exact fixed-point
    * accumulation — shared by ivfTopK and semanticDedup so the two ops can
    * never disagree on cell geometry. See [[LloydScale]] for why the sums
    * are reduce-order-invariant and oracle-recomputable. */
  private[graft] def refinedCentroids(e: DataFrame, nlist: Int): Array[(Int, Array[Double])] = {
    // The coarse quantizer is model state, driver-sized by definition
    // (nlist vectors); baking it into the projection as literals makes cell
    // assignment a shuffle-free, codegen'd map over the big side instead of
    // the old crossJoin(broadcast)×nlist + groupBy/max_by (which shuffled
    // every embedding once).
    val seeds: Array[(Int, Array[Double])] = e.filter(col("vec_id") < nlist)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        // an all-zero sampled centroid stays zero (its cell just never wins
        // the argmax) instead of dividing into NaNs that poison every score.
        // True division, not multiply-by-reciprocal: the e4 oracle divides
        // per element and x/n vs x*(1/n) differ in the last ulp.
        (r.getLong(0).toInt, if (n > 0) v.map(_ / n) else v)
      }.sortBy(_._1)
    require(seeds.nonEmpty,
      s"ivfTopK needs at least one seed vector with vec_id < nlist=$nlist")
    val dim0 = seeds.head._2.length

    // one Lloyd step: native argmax over the seed model state, then
    // nlist×dim exact fixed-point sums in a single groupBy(cell)
    // try_element_at: a ragged (shorter) embedding contributes NULL to the
    // missing dimensions, which sum() skips — Spark's ANSI element_at would
    // kill the whole job on one truncated row, and DuckDB list indexing
    // returns NULL out-of-bounds, so this is also the oracle-parity choice
    val sumCols = (0 until dim0).map(i => sum(expr(
      s"cast(round(cast(try_element_at(embedding, ${i + 1}) as double) * $LloydScale) as bigint)"
    )).as(s"s$i"))
    val cellRows = e
      .select(col("embedding"), bestCell(col("embedding"), seeds).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sumCols: _*)
      .collect()
      .map(r => r.getInt(0) -> r).toMap
    seeds.map { case (cid, seedCv) =>
      cellRows.get(cid) match {
        case Some(r) =>
          val n = r.getLong(1).toDouble
          // mean then normalize, every double op mirrored 1:1 in the oracle
          val m = Array.tabulate(dim0)(i => r.getLong(2 + i).toDouble / (n * LloydScale))
          val nrm = math.sqrt(m.map(x => x * x).sum)
          (cid, if (nrm > 0) m.map(_ / nrm) else seedCv)
        case None => (cid, seedCv) // empty cell keeps its seed
      }
    }
  }

  /** e6 — SemDeDup (Abbas et al. 2023): semantic dedup via cluster-bucketed
    * cosine. Every vector is assigned to its nearest coarse centroid (the
    * SAME refined quantizer as e4 — shuffle-free literal argmax), candidate
    * pairs exist only WITHIN a cell (equi-join on the cell key — never
    * all-pairs), and a vector is removed when some lower-id vector in its
    * cell sits above the cosine threshold (the repo-wide keep-first rule).
    * Output: (vec_id, cell, kept 1/0) for every vector.
    *
    * Scale shape: the within-cell self-join moves (vec_id, cell) scalars
    * only, vectors join back by id afterwards (the e5 pattern); within-cell
    * candidate volume is Σ|cell|², so nlist must grow with the corpus —
    * SemDeDup runs k-means with ~10⁵ clusters at web scale, and `nlist` is
    * exactly that knob. The assignment frame feeds both the pair join and
    * the final keep-join, so it is persisted. */
  def semanticDedup(spark: SparkSession, dir: String, threshold: Double = 0.38,
                    nlist: Int = 16): DataFrame = {
    val e = emb(spark, dir)
    val cents = refinedCentroids(e, nlist)
    val assigned = e.select(col("vec_id"),
        bestCell(col("embedding"), cents).as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = assigned.toDF("vec_a", "cell")
      .join(assigned.toDF("vec_b", "cell"), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
    val pairs = candIds
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        norm(col("embedding")).as("na")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        norm(col("embedding")).as("nb")), Seq("vec_b"))
      .withColumn("cosine", cosineFromNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
    // zero-norm vectors score NULL, fail the threshold, and are never
    // removed — same contract as every other cosine path
    val removed = pairs.select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dup", lit(1L))
    assigned
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
      .orderBy("vec_id")
  }

  /** (vec_id, bucket) sign-bucket rows for nTables hash tables — shared by
    * lshTopK and lshNearDupPairs. Hyperplanes are nTables×nPlanes literal
    * arrays, computed once on the driver (splitmix64-seeded, reproducible
    * on any cluster). The exploded bucket rows carry two scalar columns
    * ONLY — bucket shuffles never move the embedding arrays. */
  private def signBuckets(e: DataFrame, dim: Int, nPlanes: Int, nTables: Int): DataFrame =
    signBucketsFor(e, "vec_id", "embedding", dim, nPlanes, nTables)

  /** Generalized sign-bucketing over any (id, vector) frame — the shared
    * machinery behind lshTopK/lshNearDupPairs and the media-feature near-dup
    * path (MultimodalOps.featureNearDup): any float-vector column buckets
    * the same way. Output: (idCol, bucket) — two scalars, never the vector. */
  private[graft] def signBucketsFor(df: DataFrame, idCol: String, vecCol: String,
                                    dim: Int, nPlanes: Int, nTables: Int): DataFrame = {
    def bucketKey(table: Int): Column = {
      val signs = (0 until nPlanes).map { p =>
        when(litDot(col(vecCol), planeComponents(table, p, dim)) >= 0, lit(1))
          .otherwise(lit(0)).cast("string")
      }
      concat(lit(s"t$table:") +: signs: _*)
    }
    df.select(col(idCol), explode(array((0 until nTables).map(bucketKey): _*)).as("bucket"))
  }

  /** LSH-bucketed near-duplicate pairs — the scale path for the brute-force
    * cosineNearDupPairs: candidate pairs share a sign-bucket in ≥1 of the
    * nTables hash tables (equi-join on the bucket key — never all-pairs),
    * then verified with the exact cosine. Output is a subset of the brute
    * baseline with identical cosines; recall rises with nTables and falls
    * with nPlanes (measured in OpsSpec against the exact pair set).
    *
    * Sizing at corpus scale: candidate volume is Σ|bucket|² per table, so
    * nPlanes must grow with corpus size — 2^nPlanes buckets/table.
    * nPlanes=4 fits the low test threshold (0.38: per-table collision
    * (1-θ/π)^4 ≈ 0.15); a production near-dup threshold (≥0.9, θ ≤ 26°)
    * keeps per-table collision ≈ 0.86^nPlanes, so 16-24 planes preserve
    * recall while cutting each table into 10^5-10^7 buckets. The skew
    * backstop for degenerate buckets (all-zero embeddings, boilerplate
    * vectors) is AQE skew-join splitting on the bucket key, same as the
    * shingle joins. */
  def lshNearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.38,
                      nPlanes: Int = 4, nTables: Int = 8): DataFrame = {
    val e = emb(spark, dir)
    val dim = embeddingDim(e)
    // persisted: BOTH sides of the candidate self-join consume the full
    // bucket set — unpersisted, the 32-dot bucket projection runs twice
    val buckets = signBuckets(e, dim, nPlanes, nTables)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = buckets.toDF("vec_a", "bucket")
      .join(buckets.toDF("vec_b", "bucket"), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    candIds
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        norm(col("embedding")).as("na")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        norm(col("embedding")).as("nb")), Seq("vec_b"))
      .withColumn("cosine", cosineFromNorms(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** e7 — int8 scalar-quantized NN scan with exact rerank (the faiss
    * SQ8-flat pattern): every vector is quantized to integer codes in
    * [-127, 127] with a per-vector scale (max|component| / 127), candidates
    * are ranked by the cosine of the CODE vectors (4x less memory traffic
    * per candidate at 100 TB — the scan reads 64 bytes of codes instead of
    * 256 bytes of float32), and the top `k * overfetch` per query are
    * re-ranked by the exact float cosine.
    *
    * Every arithmetic step is oracle-exact: the scale is one double
    * division, the codes are round-half-away-from-zero (Spark HALF_UP ==
    * DuckDB/C round — the Lloyd fixed-point path already relies on this),
    * and the code-cosine numerator/denominator are integer-valued doubles
    * (|code| <= 127, dim 64 -> |dot| <= 127^2*64 ~ 1.03e6, exact in a
    * double in any summation order). The final exact-cosine rerank is the
    * e1/e3 machinery unchanged.
    *
    * Scale shape: the coded frame feeds both the query side and the
    * neighbor side of the scan, so it is persisted; the scan itself is a
    * broadcast of nQueries code rows against the coded corpus (never
    * corpus x corpus); at production scale the quantized scan composes
    * with the e4 cell restriction (scan only the probed cells). */
  def sqTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 3,
             overfetch: Int = 4): DataFrame = {
    val e = emb(spark, dir)
    val coded = e
      .select(col("vec_id"), col("embedding"),
        (array_max(transform(col("embedding"), x => abs(x.cast("double")))) / lit(127.0))
          .as("scale"))
      .withColumn("codes",
        when(col("scale") > 0,
          transform(col("embedding"), x => round(x.cast("double") / col("scale"))))
          .otherwise(transform(col("embedding"), _ => lit(0.0))))
      .select(col("vec_id"), col("codes"), sqrt(dot(col("codes"), col("codes"))).as("qn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val qCodes = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"), col("qn").as("qnq"))
    val scan = broadcast(qCodes)
      .crossJoin(coded.select(col("vec_id").as("neighbor_id"), col("codes").as("nc"),
        col("qn").as("qnn")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", cosineFromNorms(dot(col("qc"), col("nc")), col("qnq"), col("qnn")))
      .filter(col("qcos").isNotNull)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = scan
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= k * overfetch)
      .select("query_id", "neighbor_id")

    // exact rerank — the e3 candidate-join machinery
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"))
    val rer = cands
      .join(broadcast(qv), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn")), Seq("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(dot(col("qv"), col("nv")), col("nq"), col("nn")))
      .filter(col("cosine").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    rer
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** e8 — IVF×SQ composed ANN (the faiss IVFx,SQ8 production shape): the
    * e4 coarse quantizer restricts each query's scan to its `nprobe`
    * nearest cells, the scan inside those cells ranks candidates by the
    * cosine of e7's int8 codes (4× less traffic per candidate), and the
    * winners re-rank by the exact float cosine. This is the composition
    * e7's doc comment promises — both restrictions multiply: a 100 TB scan
    * touches nprobe/nlist of the corpus AND reads codes, not floats.
    *
    * ONE corpus projection computes codes + cell assignment (persisted: it
    * feeds the query side and the scan); the scan is a broadcast of the
    * nQueries×nprobe probe rows against the coded corpus on the CELL key —
    * never corpus × corpus (PlanShapeSpec pins no-cartesian). Every
    * arithmetic step is the already-oracle-proven e4/e7 machinery, so the
    * whole composition sits under a DuckDB hash; OpsSpec pins recall@5
    * against the exact e1 baseline. */
  def ivfSqTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 3,
                nlist: Int = 16, nprobe: Int = 4, overfetch: Int = 4): DataFrame = {
    val e = emb(spark, dir)
    val cents = refinedCentroids(e, nlist)
    val coded = e
      .select(col("vec_id"),
        bestCell(col("embedding"), cents).as("cell"),
        (array_max(transform(col("embedding"), x => abs(x.cast("double")))) / lit(127.0))
          .as("scale"),
        col("embedding"))
      .withColumn("codes",
        when(col("scale") > 0,
          transform(col("embedding"), x => round(x.cast("double") / col("scale"))))
          .otherwise(transform(col("embedding"), _ => lit(0.0))))
      .select(col("vec_id"), col("cell"), col("codes"),
        sqrt(dot(col("codes"), col("codes"))).as("cn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // nprobe nearest cells per query (e4's projection-only probe), joined
    // to the query's own codes — nQueries×nprobe rows, broadcast-sized
    val qSide = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(topCells(col("embedding"), cents, nprobe)).as("cell"))
      .join(coded.select(col("vec_id").as("query_id"), col("codes").as("qc"),
        col("cn").as("qnq")), Seq("query_id"))

    // cell-restricted code scan: each query reads only its probed cells
    val scan = coded.toDF("neighbor_id", "cell", "nc", "nn")
      .join(broadcast(qSide), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", cosineFromNorms(dot(col("qc"), col("nc")), col("qnq"), col("nn")))
      .filter(col("qcos").isNotNull)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = scan
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= k * overfetch)
      .select("query_id", "neighbor_id")

    // exact rerank — the e3/e7 candidate-join machinery unchanged
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"))
    val rer = cands
      .join(broadcast(qv), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn")), Seq("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(dot(col("qv"), col("nv")), col("nq"), col("nn")))
      .filter(col("cosine").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    rer
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed approximate NN (scale path, verified in tests against the
    * brute-force baseline): `nPlanes` deterministic pseudo-random
    * hyperplanes (seeded per (plane, dim) — no RNG state, reproducible on
    * any cluster) give a sign-bucket key; candidate pairs share a bucket;
    * top-k among candidates. Recall is tunable via nTables × nPlanes. */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 3,
              nPlanes: Int = 4, nTables: Int = 8): DataFrame = {
    val e = emb(spark, dir)
    val dim = embeddingDim(e)
    val buckets = signBuckets(e, dim, nPlanes, nTables)

    val queries = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    // dedupe candidate PAIRS as bare ids, then join the vectors back:
    // the old plan ran distinct() over rows carrying both full embeddings
    val candIds = queries
      .join(buckets.select(col("vec_id").as("neighbor_id"), col("bucket")), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"))
    val cands = candIds
      .join(broadcast(qv), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn")), Seq("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(dot(col("qv"), col("nv")), col("nq"), col("nn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      // exclude NULL-cosine (zero-norm) candidates from ranking, as in
      // cosineTopK
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }
}
