package graft.queries

import graft.functions.VectorExpressions.{dot_i64, md5H60}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Engine-exactness: vectors are quantized to integers (round(x·1000)) so
  * dot products and squared norms are exact 64-bit arithmetic in both Spark
  * and DuckDB; rankings order by integer distance (or a double derived from
  * the same integers via one sqrt+div, bit-identical across engines), and
  * reported cosine values are floor(cos·10^6) — no rounding-mode hazards.
  *
  * All dot products run through the codegen'd `dot_i64`
  * ([[graft.functions.VectorExpressions.dotI64]], ~64 multiply-adds) instead of interpreted `zip_with`/`aggregate` HOFs
  * (~430 µs/pair measured at round 1 — the single largest cost in the
  * round-1 bench).
  *
  * Scale shapes:
  *   - brute-force top-k: the query set broadcasts against the corpus scan
  *     (the correct baseline at any corpus size when |queries| is small);
  *   - IVF: vectors are pre-assigned to their nearest centroid (one narrow
  *     pass vs a broadcast centroid table); queries probe the 2 nearest
  *     centroid partitions only — the candidate scan prunes to ~2/8 of the
  *     corpus, which is the 100 TB path;
  *   - near-dup pairs: the EXACT query is a blocked all-pairs verify (the
  *     test-scale contract; at a cosine threshold as low as 0.45 no
  *     locality-sensitive scheme has certain recall — see
  *     [[dedupEmbeddingCosineLsh]] for the honest approximate scale path
  *     with its deterministic, oracle-matched candidate generation).
  */
object Similarity {

  /** Quantized vector + squared norm — both codegen'd one-pass kernels
    * (the `transform` HOF this replaces interpreted a lambda per element;
    * quantize_i64 reproduces round()'s HALF_UP ties exactly, parity-tested
    * against the HOF on the real table and random floats).
    */
  /** `spreadInput` (round 6): the embeddings table is one small parquet
    * file → a 1-partition scan; queries whose dot-product volume is large
    * (the two near-dup pair queries) redistribute it first so the kernel
    * uses the whole core budget. The cheap top-k/bucket queries keep the
    * plain scan — for them the extra exchange costs more than the 1-task
    * compute it parallelizes (measured: ann_lsh_buckets 0.22 s plain vs
    * 0.48 s spread).
    */
  private def quantized(spark: SparkSession, dir: String,
      spreadInput: Boolean = false): DataFrame = {
    val t = if (spreadInput) Tables.spread(spark, dir, "embeddings", "vec_id")
      else Tables(spark, dir, "embeddings")
    t.select(col("vec_id"),
        graft.functions.VectorExpressions.quantize_i64(col("embedding")).as("q"))
      .withColumn("nrm", dot_i64(col("q"), col("q")))
  }

  /** Brute-force cosine top-5 for query vectors vec_id < 10. */
  def knnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // query + corpus sides both derive from the quantized scan — share it
    val v = quantized(spark, dir).localCheckpoint(eager = false)
    val queries = v.select(col("vec_id").as("query_id"), col("q").as("qa"), col("nrm").as("na"))
      .where(col("query_id") < 10)
    val corpus = v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nrm").as("nb"))
    val scored = broadcast(queries).crossJoin(corpus)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot_i64(col("qa"), col("qb")))
      .withColumn("cos", expr("cast(dot as double) / sqrt(cast(na as double) * cast(nb as double))"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        expr("cast(floor(cos * 1000000) as bigint)").as("cos_x1e6"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF top-3: centroids = vec_id 0..7; assignment by integer squared
    * distance (na + nc − 2·dot), queries probe 2 nearest centroids.
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // centroid, assignment, and probe branches all read the quantized scan
    val v = quantized(spark, dir).localCheckpoint(eager = false)
    val centroids = v.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("q").as("qb"), col("nrm").as("nb"))

    def d2: Column = col("na") + col("nb") - lit(2L) * dot_i64(col("qa"), col("qb"))

    // assignment: every vector → nearest centroid (broadcast centroids)
    val byC = Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)
    val assigned = v.select(col("vec_id"), col("q").as("qa"), col("nrm").as("na"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(byC))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("qa"), col("na"), col("cid").as("assigned_cid"))

    // queries probe their 2 nearest centroids
    val byQ = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("cid").asc)
    val probes = v.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nrm").as("na"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(byQ))
      .where(col("rn") <= 2)
      .select(col("query_id"), col("qa").as("qq"), col("na").as("nq"), col("cid").as("probe_cid"))

    // candidate search restricted to probed partitions; the probe set is
    // tiny (|queries|×2) → broadcast it so the corpus side never shuffles
    val byRank = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id").asc)
    broadcast(probes).join(assigned, col("probe_cid") === col("assigned_cid"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("d2", col("nq") + col("na") - lit(2L) * dot_i64(col("qq"), col("qa")))
      .withColumn("rank", row_number().over(byRank))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("d2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding near-dup pairs: cosine ≥ 0.45 (exact integer compare:
    * dot ≥ 0 and dot² · 10^4 ≥ na·nb · 0.45²·10^4 = na·nb·2025).
    * NB dot ≤ 64·530² ⇒ dot² ≤ ~3.2e14, na·nb·2025 ≤ ~6.5e17 — no overflow.
    *
    * Exactness vs scale (why this stays all-pairs): the qualifying pairs in
    * this corpus sit at cosine 0.450–0.60, i.e. AT the threshold — at that
    * angle (63°) sign-LSH collides with p≈0.65 per plane, so no table/band
    * configuration yields certain recall, and any prefix/triangle-inequality
    * bound degenerates on dense near-orthogonal vectors. An exact θ=0.45
    * similarity join is therefore inherently Ω(n²) dot products; the scale
    * treatment is (a) a sub-µs codegen'd integer dot (this plan), (b) even
    * task-sized tiling of the pair space (the cross join partitions the
    * streamed side, so no task skew), and (c) at 10^9+ rows you run the
    * LSH variant below and accept its measured recall.
    */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    val a = quantizedA(spark, dir)
    val b = quantizedB(spark, dir)
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("dot", dot_i64(col("qa"), col("qb")))
      .where(col("dot") > 0 && col("dot") * col("dot") * 10000 >= col("na") * col("nb") * lit(2025))
      .select(col("id_a"), col("id_b"),
        expr("cast(floor(cast(dot as double) / sqrt(cast(na as double) * cast(nb as double)) * 1000000) as bigint)").as("cos_x1e6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // keep the two pair sides' norm columns distinctly named for the cross join
  private implicit class QuantizedOps(df: DataFrame) {
    def asSide(idName: String, qName: String, nName: String): DataFrame =
      df.select(col("vec_id").as(idName), col("q").as(qName), col("nrm").as(nName))
  }
  private def quantizedA(spark: SparkSession, dir: String) =
    quantized(spark, dir, spreadInput = true).asSide("id_a", "qa", "na")
  private def quantizedB(spark: SparkSession, dir: String) =
    quantized(spark, dir, spreadInput = true).asSide("id_b", "qb", "nb")

  /** Deterministic md5-derived hyperplane components, identical to the SQL
    * `conv(substring(md5('hp<p>-<d>'),1,15),16,10) % 1001 − 500`. Computed
    * once on the driver and embedded as array literals — round 1 evaluated
    * the md5s per ROW (768 digests/vector).
    */
  private[graft] def hyperplane(p: Int, dims: Int): Array[Long] =
    Array.tabulate(dims) { d =>
      val key = s"hp$p-$d".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md5H60(key, 0, key.length) % 1001L - 500L
    }

  /** Sign-random-hyperplane LSH buckets: 12 deterministic hyperplanes —
    * sign of ⟨q, h⟩ per plane packs into a 12-bit bucket id. The hyperplanes
    * are literals; the per-row work is 12 codegen'd dots. All integer
    * arithmetic, so the DuckDB oracle matches exactly.
    */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val v = quantized(spark, dir)
    val bucket = (0 until 12).map { p =>
      when(dot_i64(col("q"), lit(hyperplane(p, 64))) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    v.withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("bucket"))
  }

  /** LSH table/band parameters for the approximate near-dup path: 8 tables
    * of 3 planes each (24 hyperplanes hp0..hp23, the first 12 shared with
    * [[annLshBuckets]]).
    *
    * Honest recall math at the contract threshold τ=0.45 (angle 63.3°,
    * per-plane collision p = 1 − θ/π ≈ 0.6485): per-table hit p³ ≈ 0.273,
    * miss across 8 tables (1−p³)^8 ≈ 0.078 → ~92% expected recall — and
    * that is the physics of sign-LSH at a threshold this low, not a tuning
    * failure (at τ=0.9 the same config misses < 0.1%). The DuckDB oracle
    * computes the SAME deterministic candidates, so correctness is exact by
    * construction while recall vs the exact query is measurable (both are
    * contract queries; diff them).
    */
  private val LshTables = 8
  private val LshBandPlanes = 3

  /** Approximate near-dup pairs — the 10^9-row scale path: candidates from
    * multi-table sign-LSH bucket collisions (equi-join on (table, bucket) —
    * shuffle on the bucket key, never O(n²)), verified by the exact integer
    * cosine predicate. Candidate generation shuffles only (vec_id, bucket)
    * pairs; vectors join back in for the verify (broadcast under the
    * threshold, shuffled-hash beyond).
    */
  def dedupEmbeddingCosineLsh(spark: SparkSession, dir: String): DataFrame = {
    // the quantized frame feeds THREE plan branches (bucket explode + both
    // verify sides) — lazily localCheckpoint it so the scan+quantize runs
    // once, not 3× (blocks are cleaned when the RDD is GC'd; at cluster
    // scale use .persist() + unpersist for executor-loss tolerance)
    val v = quantized(spark, dir, spreadInput = true).localCheckpoint(eager = false)
    val buckets = (0 until LshTables).map { t =>
      (0 until LshBandPlanes).map { j =>
        val p = t * LshBandPlanes + j
        when(dot_i64(col("q"), lit(hyperplane(p, 64))) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val exploded = v
      .select(col("vec_id"), posexplode(array(buckets: _*)).as(Seq("t", "bucket")))
    val candA = exploded.select(col("vec_id").as("id_a"), col("t"), col("bucket"))
    val candB = exploded.select(col("vec_id").as("id_b"), col("t"), col("bucket"))
    val candidates = candA.join(candB, Seq("t", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    candidates
      .join(v.asSide("id_a", "qa", "na"), Seq("id_a"))
      .join(v.asSide("id_b", "qb", "nb"), Seq("id_b"))
      .withColumn("dot", dot_i64(col("qa"), col("qb")))
      .where(col("dot") > 0 && col("dot") * col("dot") * 10000 >= col("na") * col("nb") * lit(2025))
      .select(col("id_a"), col("id_b"),
        expr("cast(floor(cast(dot as double) / sqrt(cast(na as double) * cast(nb as double)) * 1000000) as bigint)").as("cos_x1e6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_bruteforce" -> (knnBruteforce _),
    "knn_ivf" -> (knnIvf _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_embedding_cosine_lsh" -> (dedupEmbeddingCosineLsh _),
    "ann_lsh_buckets" -> (annLshBuckets _)
  )

  private val QSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  private val VSql =
    s"""SELECT vec_id, $QSql AS q,
        list_sum(list_transform($QSql, x -> x * x)) AS nrm
        FROM embeddings"""
  private val DotSql =
    "list_sum([qa[i] * qb[i] for i in generate_series(1, len(qa))])"

  /** ⟨q, hyperplane p⟩ in DuckDB — same md5 derivation as [[hyperplane]]. */
  private def hSql(p: Int): String =
    s"""list_sum([q[d + 1] * (CAST(concat('0x', substr(md5(concat('hp$p-', d)), 1, 15)) AS BIGINT) % 1001 - 500)
         for d in generate_series(0, len(q) - 1)])"""

  val oracle: Map[String, String] = Map(
    "knn_bruteforce" ->
      s"""WITH v AS ($VSql),
          s AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              CAST($DotSql AS BIGINT) AS dot,
              CAST(a.nrm AS BIGINT) AS na, CAST(b.nrm AS BIGINT) AS nb
            FROM (SELECT vec_id, q AS qa, nrm FROM v WHERE vec_id < 10) a,
                 (SELECT vec_id, q AS qb, nrm FROM v) b
            WHERE a.vec_id <> b.vec_id),
          r AS (
            SELECT query_id, neighbor_id,
              CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) DESC,
                         neighbor_id ASC) AS rank
            FROM s)
          SELECT query_id, rank, neighbor_id,
            CAST(floor(cos * 1000000) AS BIGINT) AS cos_x1e6
          FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "knn_ivf" ->
      s"""WITH v AS ($VSql),
          c AS (SELECT vec_id AS cid, q AS qb, nrm AS nb FROM v WHERE vec_id < 8),
          asg0 AS (
            SELECT a.vec_id, a.q AS qa, a.nrm AS na, c.cid,
              CAST(a.nrm + c.nb - 2 * list_sum([a.q[i] * c.qb[i] for i in generate_series(1, len(a.q))]) AS BIGINT) AS d2,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY CAST(a.nrm + c.nb - 2 * list_sum([a.q[i] * c.qb[i] for i in generate_series(1, len(a.q))]) AS BIGINT) ASC, c.cid ASC) AS rn
            FROM v a, c),
          assigned AS (SELECT vec_id, qa, na, cid AS assigned_cid FROM asg0 WHERE rn = 1),
          probes AS (
            SELECT vec_id AS query_id, qa AS qq, na AS nq, cid AS probe_cid
            FROM asg0 WHERE vec_id < 10 AND rn <= 2),
          cand AS (
            SELECT p.query_id, a.vec_id,
              CAST(p.nq + a.na - 2 * list_sum([p.qq[i] * a.qa[i] for i in generate_series(1, len(p.qq))]) AS BIGINT) AS d2
            FROM probes p JOIN assigned a ON p.probe_cid = a.assigned_cid
            WHERE p.query_id <> a.vec_id),
          r AS (
            SELECT query_id, vec_id AS neighbor_id, d2,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, vec_id ASC) AS rank
            FROM cand)
          SELECT query_id, rank, neighbor_id, d2
          FROM r WHERE rank <= 3 ORDER BY query_id, rank""",
    "ann_lsh_buckets" -> {
      val bits = (0 until 12).map(p =>
        s"(CASE WHEN ${hSql(p)} >= 0 THEN (1 << $p) ELSE 0 END)").mkString(" + ")
      s"""WITH v AS ($VSql),
          b AS (SELECT vec_id, CAST($bits AS BIGINT) AS bucket FROM v)
          SELECT bucket, COUNT(*) AS n_vectors, min(vec_id) AS min_vec
          FROM b GROUP BY bucket ORDER BY bucket"""
    },
    "dedup_embedding_cosine" ->
      s"""WITH v AS ($VSql),
          p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              CAST($DotSql AS BIGINT) AS dot,
              CAST(a.nrm AS BIGINT) AS na, CAST(b.nrm AS BIGINT) AS nb
            FROM (SELECT vec_id, q AS qa, nrm FROM v) a,
                 (SELECT vec_id, q AS qb, nrm FROM v) b
            WHERE a.vec_id < b.vec_id)
          SELECT id_a, id_b,
            CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000) AS BIGINT) AS cos_x1e6
          FROM p
          WHERE dot > 0 AND dot * dot * 10000 >= na * nb * 2025
          ORDER BY id_a, id_b""",
    "dedup_embedding_cosine_lsh" -> {
      // per-table bucket = 3-bit sign pattern of planes t*3 .. t*3+2
      val tableSelects = (0 until LshTables).map { t =>
        val bits = (0 until LshBandPlanes).map { j =>
          s"(CASE WHEN ${hSql(t * LshBandPlanes + j)} >= 0 THEN (1 << $j) ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, $t AS t, CAST($bits AS BIGINT) AS bucket FROM v"
      }.mkString(" UNION ALL ")
      s"""WITH v AS ($VSql),
          buckets AS ($tableSelects),
          cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
            WHERE a.vec_id < b.vec_id),
          p AS (
            SELECT c.id_a, c.id_b,
              CAST(list_sum([va.q[i] * vb.q[i] for i in generate_series(1, len(va.q))]) AS BIGINT) AS dot,
              CAST(va.nrm AS BIGINT) AS na, CAST(vb.nrm AS BIGINT) AS nb
            FROM cand c
            JOIN v va ON va.vec_id = c.id_a
            JOIN v vb ON vb.vec_id = c.id_b)
          SELECT id_a, id_b,
            CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000) AS BIGINT) AS cos_x1e6
          FROM p
          WHERE dot > 0 AND dot * dot * 10000 >= na * nb * 2025
          ORDER BY id_a, id_b"""
    }
  )
}
