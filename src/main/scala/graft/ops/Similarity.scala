package graft.ops

import graft.core.Caches.TrackedDataset
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane-LSH bucketed variant as the scale path.
  *
  * Numeric discipline: floats are cast to double once, dot products fold
  * elements IN ARRAY ORDER (`aggregate` over `zip_with`), and reported
  * cosines round to 6 dp — this makes results bit-comparable with the
  * DuckDB oracle, which evaluates the same sequential fold.
  *
  * Scale design: brute force is O(n²·d) — fine for a broadcast-sized probe
  * set against a large corpus (broadcast the probes, stream the corpus),
  * wrong for corpus×corpus. The LSH variant buckets vectors by the sign
  * pattern of [[Planes]] fixed random hyperplanes so candidate pairs meet
  * only inside buckets: shuffle volume drops from n² to Σ_b |b|², and
  * the hyperplanes are derived from md5 so every engine (and every round)
  * agrees on them. An IVF variant would replace the hash bucketing with
  * learned centroids; the plumbing is identical.
  */
object Similarity {

  private val K = 5
  private val Planes = 6
  private val Dim = 64
  private val NearDupCosine = 0.4

  /** ±1.0 hyperplane weights, deterministically derived: weight(p, j) =
    * +1 iff the low bit of the first hex digit of md5("p:j") is set.
    * Computed driver-side (plan literals); the oracle re-derives them in
    * SQL from the same md5 — no RNG, no state. */
  private[graft] def planeWeights(p: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to Dim).map { j =>
      val hex = md.digest(s"$p:$j".getBytes("UTF-8"))
      // first hex digit = high nibble of byte 0
      if ((((hex(0) >> 4) & 0xf) & 1) == 1) 1.0 else -1.0
    }.toArray
  }

  /** Fused-loop native dot product (see [[graft.functions.DotProduct]]);
    * same element-order fold as `aggregate(zip_with(...))`, ~10× cheaper
    * at n² pair volume. */
  private def dot(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.DotRawName, a, b)

  /** vec_id, v (double[]), n2 (squared norm). */
  /** `spread = true` for the O(n²·d) all-pairs kernels ONLY: the
    * embeddings fixture is one parquet row group = one scan partition,
    * which would run the whole dot-product sweep (the stream side of a
    * broadcast nested-loop) on ONE core — [[graft.core.Spread]] is a
    * no-op when the scan is already split. The bucketed LSH/IVF paths
    * keep the raw scan: they re-run `vecs` across several small actions
    * (seeding, assignment, probe), where re-paying a shuffle per action
    * costs more than their map stages ever would (measured: +0.6 s on
    * q_sim_ann_lsh, +1.3 s on q_sim_ann_ivf). */
  private def vecs(spark: SparkSession, dir: String,
                   spread: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val base = Tables.embeddings(spark, dir).select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    (if (spread) graft.core.Spread(base) else base)
      .withColumn("n2", dot(col("v"), col("v")))
  }

  private def cosine(): Column =
    dot(col("a.v"), col("b.v")) / sqrt(col("a.n2") * col("b.n2"))

  private def topK(pairs: DataFrame, k: Int = K): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"),
              round(col("cos"), 6).as("cosine"), col("rank"))
  }

  // ------------------------------------------------------------ brute force
  /** Exact cosine top-K neighbors for every vector (self excluded). */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val n = vecs(spark, dir, spread = true)
    val pairs = n.as("a").join(n.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
              cosine().as("cos"))
    topK(pairs)
  }

  /** Generic entry: exact cosine top-`k` over ANY (id, vector) frame —
    * the hook downstream feature pipelines (e.g. [[Multimodal]] embedding
    * extraction) plug into without re-deriving norms or tiebreaks. */
  def bruteForceTopKOf(vectors: DataFrame, idCol: String, vecCol: String,
                       k: Int = K): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vectors.sparkSession)
    val n = graft.core.Spread(vectors.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v")))
      .withColumn("n2", dot(col("v"), col("v")))
    topK(n.as("a").join(n.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
              cosine().as("cos")), k)
  }

  /** Hard-negative mining for contrastive training: for every vector,
    * the top-K most cosine-similar vectors with a DIFFERENT label — the
    * near-boundary examples a metric-learning objective needs. This is
    * the exact (oracle-checkable) kernel; at corpus scale the same
    * label-filtered top-k runs over [[ivfTopK]]'s candidate lists
    * instead of all pairs (the filter composes with any candidate
    * generator — it lives in the pair stream, not the index). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // label comes out of the SAME scan as the vector — joining a second
    // embeddings read on vec_id would add a shuffle in front of the
    // all-pairs kernel and undo the Spread layout (measured at sf0.1:
    // 6.5 s with the join, 0.85 s isolated min-of-5 without)
    val n = graft.core.Spread(Tables.embeddings(spark, dir).select(
        col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")))
      .withColumn("n2", dot(col("v"), col("v")))
    val pairs = n.as("a").join(n.as("b"),
        col("a.vec_id") =!= col("b.vec_id") &&
          col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
              col("b.vec_id").as("neighbor_id"),
              col("b.label").as("neighbor_label"),
              cosine().as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("vec_id"), col("label"), col("neighbor_id"),
              col("neighbor_label"), round(col("cos"), 6).as("cosine"),
              col("rank"))
  }

  private val vecsCte: String =
    """n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS n2
      |  FROM embeddings)""".stripMargin

  private val dotSql: String =
    s"list_sum(list_transform(generate_series(1, $Dim), i -> a.v[i] * b.v[i]))"

  val bruteForceOracle: String =
    s"""WITH $vecsCte,
       |p AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |         $dotSql / sqrt(a.n2 * b.n2) AS cos
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM p)
       |SELECT vec_id, neighbor_id, round(cos, 6) AS cosine, CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= $K
       |""".stripMargin

  val hardNegativesOracle: String =
    s"""WITH n AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |         list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS n2
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id, a.label, b.vec_id AS neighbor_id,
       |         b.label AS neighbor_label,
       |         $dotSql / sqrt(a.n2 * b.n2) AS cos
       |  FROM n a JOIN n b
       |    ON a.vec_id <> b.vec_id AND a.label <> b.label),
       |r AS (
       |  SELECT vec_id, label, neighbor_id, neighbor_label, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM p)
       |SELECT vec_id, label, neighbor_id, neighbor_label,
       |       round(cos, 6) AS cosine, CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= $K
       |""".stripMargin

  /** LABEL-NOISE AUDIT (kNN disagreement): for every vector, how many of
    * its [[KnnLabelK]] exact nearest neighbors carry a DIFFERENT label —
    * the standard mislabeled-sample miner (confident-learning shape): a
    * point whose neighborhood votes against its own label is flagged
    * `suspect` for relabel/review before training. Disagreement is
    * integer ppm; `suspect` = strict neighbor majority. This is the
    * exact oracle-checkable kernel; at corpus scale the identical
    * groupBy composes over [[ivfTopK]]'s candidate lists (the filter
    * and vote live in the pair stream, not the index — same
    * composition note as [[hardNegatives]]). */
  private val KnnLabelK = 10

  def labelNoise(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    labelNoiseOf(graft.core.Spread(Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))), KnnLabelK)
  }

  /** [[labelNoise]] core over any `(vec_id, label, v)` frame — exposed
    * so specs can drive planted-mislabel fixtures. */
  def labelNoiseOf(vectors: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vectors.sparkSession)
    val n = vectors.withColumn("n2", dot(col("v"), col("v")))
    val pairs = n.as("a").join(n.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("neighbor_id"),
        col("b.label").as("neighbor_label"), cosine().as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("neighbor_label") =!= col("label"), 1L).otherwise(0L))
          .as("n_disagree"))
      .withColumn("disagree_ppm",
        expr("n_disagree * 1000000 div n_neighbors"))
      .withColumn("suspect", col("n_disagree") * 2 > col("n_neighbors"))
  }

  val labelNoiseOracle: String =
    s"""WITH n AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |         list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS n2
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id, a.label, b.label AS neighbor_label, b.vec_id AS neighbor_id,
       |         $dotSql / sqrt(a.n2 * b.n2) AS cos
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT vec_id, label, neighbor_label,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM p),
       |g AS (
       |  SELECT vec_id, label,
       |         CAST(count(*) AS BIGINT) AS n_neighbors,
       |         CAST(sum(CASE WHEN neighbor_label <> label THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
       |  FROM r WHERE rn <= $KnnLabelK GROUP BY 1, 2)
       |SELECT vec_id, label, n_neighbors, n_disagree,
       |       CAST(n_disagree * 1000000 // n_neighbors AS BIGINT) AS disagree_ppm,
       |       n_disagree * 2 > n_neighbors AS suspect
       |FROM g
       |""".stripMargin

  // -------------------------------------------------------------- LSH (ANN)
  /** Sign-pattern bucket id of a vector against the fixed hyperplanes. */
  private def bucket(v: Column): Column =
    (0 until Planes).map { p =>
      when(dot(v, typedLit(planeWeights(p))) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Approximate top-K: candidates are restricted to the same LSH bucket.
    * Vectors in sparse buckets may return fewer than K neighbors — that is
    * the ANN recall trade-off, measured against [[bruteForceTopK]]. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    // bucket signatures (6 dot products/row) feed both self-join sides;
    // no exchange reuse across aliases — persist the bucketed table
    val n = vecs(spark, dir).withColumn("bucket", bucket(col("v")))
      .trackPersist()
    val pairs = n.as("a").join(n.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
              cosine().as("cos"))
    topK(pairs)
  }

  val lshOracle: String = {
    // The weight table re-derives the same md5-based ±1 hyperplanes in SQL.
    s"""WITH $vecsCte,
       |wt AS (
       |  SELECT p, i,
       |         CASE WHEN (CAST(('0x' || substr(md5(p || ':' || i), 1, 1)) AS INT) & 1) = 1
       |              THEN 1.0 ELSE -1.0 END AS w
       |  FROM unnest(generate_series(0, ${Planes - 1})) t1(p),
       |       unnest(generate_series(1, $Dim)) t2(i)),
       |sig AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN s >= 0 THEN pw ELSE 0 END) AS INT) AS bucket
       |  FROM (
       |    SELECT n.vec_id, (1 << wt.p) AS pw, sum(n.v[wt.i] * wt.w) AS s
       |    FROM n, wt
       |    GROUP BY 1, 2) sb
       |  GROUP BY 1),
       |p AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |         $dotSql / sqrt(a.n2 * b.n2) AS cos
       |  FROM (SELECT n.*, sig.bucket FROM n JOIN sig USING (vec_id)) a
       |  JOIN (SELECT n.*, sig.bucket FROM n JOIN sig USING (vec_id)) b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM p)
       |SELECT vec_id, neighbor_id, round(cos, 6) AS cosine, CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= $K
       |""".stripMargin
  }

  // --------------------------------------------------------------- IVF (ANN)

  /** IVF parameter derivations — ONE place, mirrored exactly (integer
    * ceil-division, IEEE sqrt) by the SQL oracle so both engines train
    * the identical index whatever the corpus size:
    *   cents  = max(4, ⌈√n⌉)        — the standard IVF-flat list count
    *                                   (list size ≈ probe cost ≈ √n);
    *   probes = ⌈2·cents/5⌉ default — the probe budget the sf0.1 recall
    *                                   audit measured at recall ≥ 0.7
    *                                   (sweep rows: lo=⌈c/8⌉, mid=⌈c/4⌉).
    * Hardcoded Cents=8/NProbe=2 (recall 0.462) are gone: a fixed list
    * count stops partitioning anything at 10⁹ vectors, and a fixed probe
    * count has no recall target. */
  private[graft] def defaultCents(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
  private[graft] def probeLo(cents: Int): Int = (cents + 7) / 8
  private[graft] def probeMid(cents: Int): Int = (cents + 3) / 4
  private[graft] def probeHi(cents: Int): Int = (2 * cents + 4) / 5

  /** IVF-flat index build: vectors partitioned into `cents` inverted
    * lists by nearest centroid, each vector RANKED against the trained
    * centroids with `crank ≤ maxProbe` retained (crank 1 = home list =
    * the index; crank ≤ p = the lists a probe budget of `p` searches).
    *
    * Centroid training is deterministic seeding — the `cents` vectors
    * with the smallest md5(vec_id) — followed by ONE Lloyd re-centering
    * sweep (cosine-home members, reduction-order-free decimal means — the
    * identical update derivation the k-means oracle pins bit-exactly), so
    * lists adapt to the data instead of to `cents` arbitrary corpus
    * vectors. The SQL oracle performs the same count → seed → mean →
    * reassign derivation, so results stay engine-independent.
    *
    * Scale: the centroid table is cents-sized and BROADCAST, so seeding
    * assignment, the re-centering aggregate (cents × dims cells), and
    * final assignment are all map-only or hash-agg passes over the corpus
    * (cents dot products per row, no corpus shuffle); the corpus count
    * that sizes the index is one action on the persisted vector frame. */
  private def ivfRanked(spark: SparkSession, dir: String,
                        maxProbe: Int => Int): (DataFrame, Int) = {
    import spark.implicits._
    val n = vecs(spark, dir)
      .trackPersist()
    val cents = defaultCents(n.count())
    // deterministic seeding: TakeOrdered over (md5(vec_id), vec_id) — a
    // cents-row driver action (IVF training is inherently driver-coordinated)
    val seeds = n.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(cents)
      .select(col("vec_id"), col("v"), col("n2")).collect()
    val seedDf = broadcast(
      seeds.zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Double](1), r.getDouble(2))
      }.toSeq.toDF("centroid_id", "cv", "cn2"))
    def rank(cent: DataFrame, keep: Int): DataFrame = n.crossJoin(cent)
      .withColumn("ccos", dot(col("v"), col("cv")) / sqrt(col("n2") * col("cn2")))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("centroid_id"))))
      .filter(col("crank") <= keep)
      .select(col("vec_id"), col("v"), col("n2"), col("centroid_id"), col("crank"))
    // one Lloyd sweep: exact decimal per-dim means of each list's HOME
    // members (same update as Embeddings.kmeansCore — bit-exact vs SQL)
    val cent1 = rank(seedDf, 1)
      .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("centroid_id"), col("dim"))
      .agg((sum(col("x").cast("decimal(25,10)")).cast("double") /
            count(lit(1))).as("m"))
      .groupBy(col("centroid_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
    (rank(broadcast(cent1), maxProbe(cents)).trackPersist(), cents)
  }

  /** Candidate generation + exact re-rank for one probe budget over a
    * built index: probe side = `crank ≤ nprobe`, index side = home lists
    * (crank 1). The candidate join shuffles by centroid_id —
    * Σ_c |probe_c|·|list_c| pair volume instead of n². */
  private def ivfTopKFrom(ranked: DataFrame, nprobe: Int): DataFrame = {
    val index = ranked.filter(col("crank") === 1) // each vector lives in ONE list
    // no dedup needed: the index side carries exactly ONE row per vector
    // (its home list), and the probe side one row per (vec_id, centroid),
    // so a (query, neighbor) pair matches the equi-join at most once —
    // the old `.distinct()` here was a full candidate-volume exchange +
    // aggregate that removed nothing (round-14 opt; the SQL oracle keeps
    // its DISTINCT spelling, values identical by construction)
    val pairs = ranked.filter(col("crank") <= nprobe).as("a").join(index.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
              cosine().as("cos"))
    topK(pairs)
  }

  /** IVF-flat approximate top-K at the default (recall-targeted) probe
    * budget; parameters derive from the corpus size ([[defaultCents]] /
    * [[probeHi]]). Recall is a GATED number via [[annRecall]] — the
    * probe-budget sweep rows document the recall/cost curve. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, cents) = ivfRanked(spark, dir, probeHi)
    ivfTopKFrom(ranked, probeHi(cents))
  }

  /** Persist a built IVF index as a parquet artifact, PARTITIONED BY
    * `centroid_id` — the real ANN serving layout: the index is built
    * once (nightly) and probed by separate jobs, and a probe that
    * filters to its candidate lists prunes to exactly those partitions
    * at the scan. The corpus-derived `cents` rides along as a column so
    * the loaded index is self-describing. */
  def saveIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val (ranked, cents) = ivfRanked(spark, dir, probeHi)
    ranked.withColumn("cents", lit(cents))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
  }

  /** Top-K at the default probe budget served from a SAVED index — no
    * rebuild, bit-identical to [[ivfTopK]] on the same corpus
    * (spec-gated equivalence). */
  def ivfTopKFromSaved(spark: SparkSession, path: String): DataFrame = {
    val loaded = Tables.readParquet(spark, path)
    val cents = loaded.select(max(col("cents"))).head().getInt(0)
    ivfTopKFrom(loaded.drop("cents"), probeHi(cents))
  }

  // ------------------------------------------------------------- IVF-PQ

  /** PQ serving-codebook shape: 8 subspaces × 16 codes = 8 one-byte
    * codes per vector (a 64× memory cut vs the 64-double raster) —
    * finer than the 4×8 distortion-audit codebook [[Embeddings.PqM]]
    * pins, because the serving path is judged on RECALL, not on
    * exercising the Lloyd machinery. */
  private val PqServeM = 8
  private val PqServeK = 16

  /** Exact-re-rank shortlist size: ⌈n/5⌉ (floor 4·K) PQ-nominated
    * candidates per query get exact re-scoring. Derived from the corpus
    * size like `cents`, because the probed-candidate pool grows with
    * the corpus and a FIXED shortlist would shrink recall as n grows;
    * n/5 keeps the exact work a constant fraction of one probe's
    * candidate volume (≪ n² always) — deep on THIS fixture because its
    * random vectors give PQ codes little structure to nominate with
    * (documented in BASELINE); structured real embeddings take a far
    * shallower shortlist. */
  private def rerankR(n: Long): Int =
    math.max(4 * K, math.ceil(n / 5.0).toInt)

  /** IVF-PQ composed serving path — the memory shape that makes
    * billion-vector ANN feasible: the probed inverted lists hold PQ
    * CODES ([[Embeddings.pqModel]] at the [[PqServeM]]×[[PqServeK]]
    * serving shape: 8 one-byte codes/vector, a 64× memory cut vs the
    * 64-double raster), candidates are scored with
    * the ASYMMETRIC approximate cosine against the code reconstruction
    * (dot(q, x̂) — identical to the classic per-subspace ADC lookup sum,
    * since dot distributes over the concatenated subspaces), and only
    * the top-[[rerankR]] shortlist per query is re-scored exactly from
    * the full vectors. Scale: the codebook is 32 rows and broadcast;
    * reconstruction is a map over the code column; the exact re-rank
    * join is shortlist-sized (R·n rows), never list-sized. Recall at
    * equal probe budget is a GATED number beside IVF-flat in
    * [[annRecall]] (spec gates the gap ≤ 0.05). */
  def ivfpqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, cents) = ivfRanked(spark, dir, probeHi)
    ivfpqTopKFrom(ranked, probeHi(cents))
  }

  private def ivfpqTopKFrom(ranked: DataFrame, nprobe: Int): DataFrame = {
    val spark = ranked.sparkSession
    // every vector has a crank-1 (home) row: that's the full corpus
    val base = ranked.filter(col("crank") === 1)
      .select(col("vec_id"), col("v"), col("n2"))
    val shortR = rerankR(base.count()) // ranked is persisted: cheap action
    val (codes, codebook) =
      Embeddings.pqModel(base.select("vec_id", "v"), PqServeM, PqServeK)
    // reconstruct x̂ from codes via the broadcast 32-row codebook; vn2
    // in the same element-order fold both engines
    val recon = codes.select(col("vec_id"), col("sub"), col("code"))
      .join(broadcast(codebook), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cv")))),
        s => s.getField("cv"))).as("vhat"))
      .withColumn("vn2", dot(col("vhat"), col("vhat")))
    val index = ranked.filter(col("crank") === 1)
      .select(col("vec_id"), col("centroid_id"))
      .join(recon, Seq("vec_id"))
    val cand = ranked.filter(col("crank") <= nprobe)
      .select(col("vec_id"), col("v"), col("n2"), col("centroid_id")).as("a")
      .join(index.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        (dot(col("a.v"), col("b.vhat")) /
          sqrt(col("a.n2") * col("b.vn2"))).as("acos"))
      // no `.distinct()`: one index row per neighbor (home list) × one
      // probe row per (vec_id, centroid) ⇒ pairs are unique by
      // construction (same argument as [[ivfTopKFrom]], round-14 opt)
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("acos").desc, col("neighbor_id"))
    val shortlist = cand.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortR)
      .select(col("vec_id"), col("neighbor_id"))
    // exact re-rank of the shortlist only
    val pairs = shortlist
      .join(base.select(col("vec_id"), col("v").as("av"), col("n2").as("an2")),
        Seq("vec_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("v").as("bv"),
        col("n2").as("bn2")), Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("av"), col("bv")) / sqrt(col("an2") * col("bn2"))).as("cos"))
    topK(pairs)
  }

  /** The PQ codebook/codes/reconstruction pipeline as SQL CTEs (suffix
    * names with nothing — used once per oracle): mirrors
    * [[Embeddings.pqModel]] + the reconstruction join bit-for-bit. */
  private def pqReconCte: String = {
    val m = PqServeM; val sd = Dim / PqServeM; val k = PqServeK
    s"""ms AS (SELECT CAST(unnest(generate_series(0, ${m - 1})) AS INT) AS sub),
       |sn AS (
       |  SELECT vec_id, sub,
       |         list_slice(v, sub * $sd + 1, sub * $sd + $sd) AS sv,
       |         list_sum(list_transform(
       |           list_slice(v, sub * $sd + 1, sub * $sd + $sd),
       |           x -> x * x)) AS sn2
       |  FROM n CROSS JOIN ms),
       |seedv AS (
       |  SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM n),
       |seedn AS (
       |  SELECT sub, CAST(rn - 1 AS INT) AS code,
       |         list_slice(v, sub * $sd + 1, sub * $sd + $sd) AS cv,
       |         list_sum(list_transform(
       |           list_slice(v, sub * $sd + 1, sub * $sd + $sd),
       |           x -> x * x)) AS cn2
       |  FROM seedv CROSS JOIN ms WHERE rn <= $k),
       |pscored0 AS (
       |  SELECT s.vec_id, s.sub, s.sv, c.code,
       |         s.sn2 - 2 * list_sum(list_transform(generate_series(1, $sd),
       |           i -> s.sv[i] * c.cv[i])) + c.cn2 AS d2
       |  FROM sn s JOIN seedn c ON s.sub = c.sub),
       |pa0 AS (
       |  SELECT vec_id, sub, sv, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |                                 ORDER BY d2 ASC, code) AS r
       |    FROM pscored0) WHERE r = 1),
       |pm1 AS (
       |  SELECT sub, code, i AS dim,
       |         CAST(sum(CAST(sv[i] AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS m
       |  FROM pa0, unnest(generate_series(1, $sd)) t(i)
       |  GROUP BY 1, 2, 3),
       |pc1 AS (SELECT sub, code, list(m ORDER BY dim) AS cv FROM pm1 GROUP BY 1, 2),
       |pc1n AS (
       |  SELECT sub, code, cv,
       |         list_sum(list_transform(cv, x -> x * x)) AS cn2 FROM pc1),
       |pscored1 AS (
       |  SELECT s.vec_id, s.sub, c.code,
       |         s.sn2 - 2 * list_sum(list_transform(generate_series(1, $sd),
       |           i -> s.sv[i] * c.cv[i])) + c.cn2 AS d2
       |  FROM sn s JOIN pc1n c ON s.sub = c.sub),
       |pcodes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |                                 ORDER BY d2 ASC, code) AS r
       |    FROM pscored1) WHERE r = 1),
       |recon AS (
       |  SELECT r.vec_id, r.vhat,
       |         list_sum(list_transform(r.vhat, x -> x * x)) AS vn2 FROM (
       |    SELECT p.vec_id, flatten(list(c.cv ORDER BY p.sub)) AS vhat
       |    FROM pcodes p JOIN pc1n c ON p.sub = c.sub AND p.code = c.code
       |    GROUP BY p.vec_id) r)""".stripMargin
  }

  /** IVF-PQ pipeline as SQL at an injected probe budget: IVF CTEs
    * (identical to [[ivfOracleAt]] through `assigned`) + PQ CTEs +
    * shortlist + exact re-rank. */
  private def ivfpqOracleAt(npSql: String): String =
    s"""WITH $vecsCte,
       |par AS (
       |  SELECT GREATEST(4, CAST(ceil(sqrt(count(*))) AS INT)) AS cents FROM n),
       |np AS (SELECT ($npSql) AS np FROM par),
       |cent0 AS (
       |  SELECT centroid_id, v AS cv, n2 AS cn2 FROM (
       |    SELECT vec_id, v, n2,
       |           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS centroid_id
       |    FROM n) WHERE centroid_id < (SELECT cents FROM par)),
       |scored0 AS (
       |  SELECT n.vec_id, n.v, c.centroid_id,
       |         list_sum(list_transform(generate_series(1, $Dim), i -> n.v[i] * c.cv[i]))
       |           / sqrt(n.n2 * c.cn2) AS ccos
       |  FROM n, cent0 c),
       |home0 AS (
       |  SELECT vec_id, v, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY ccos DESC, centroid_id) AS r
       |    FROM scored0) WHERE r = 1),
       |m1 AS (
       |  SELECT centroid_id, i AS dim,
       |         CAST(sum(CAST(v[i] AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS m
       |  FROM home0, unnest(generate_series(1, $Dim)) t(i)
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT centroid_id, cv,
       |         list_sum(list_transform(cv, x -> x * x)) AS cn2 FROM (
       |    SELECT centroid_id, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1)),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.n2, c.centroid_id,
       |         list_sum(list_transform(generate_series(1, $Dim), i -> n.v[i] * c.cv[i]))
       |           / sqrt(n.n2 * c.cn2) AS ccos
       |  FROM n, cent c),
       |assigned AS (
       |  SELECT vec_id, v, n2, centroid_id,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY ccos DESC, centroid_id) AS crank
       |  FROM scored),
       |${pqReconCte},
       |probe AS (SELECT * FROM assigned WHERE crank <= (SELECT np FROM np)),
       |idx AS (
       |  SELECT a.vec_id, a.centroid_id, r.vhat, r.vn2
       |  FROM assigned a JOIN recon r ON a.vec_id = r.vec_id
       |  WHERE a.crank = 1),
       |cand AS (
       |  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id,
       |         list_sum(list_transform(generate_series(1, $Dim),
       |           i -> a.v[i] * b.vhat[i])) / sqrt(a.n2 * b.vn2) AS acos
       |  FROM probe a JOIN idx b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
       |rpar AS (
       |  SELECT GREATEST(${4 * K}, CAST(ceil(count(*) / 5.0) AS INT)) AS r FROM n),
       |short AS (
       |  SELECT vec_id, neighbor_id FROM (
       |    SELECT vec_id, neighbor_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY acos DESC, neighbor_id) AS srank
       |    FROM cand) WHERE srank <= (SELECT r FROM rpar)),
       |p AS (
       |  SELECT s.vec_id, s.neighbor_id,
       |         list_sum(list_transform(generate_series(1, $Dim),
       |           i -> a.v[i] * b.v[i])) / sqrt(a.n2 * b.n2) AS cos
       |  FROM short s
       |  JOIN n a ON a.vec_id = s.vec_id
       |  JOIN n b ON b.vec_id = s.neighbor_id),
       |r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM p)
       |SELECT vec_id, neighbor_id, round(cos, 6) AS cosine, CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= $K
       |""".stripMargin

  val ivfpqOracle: String = ivfpqOracleAt("(2 * cents + 4) // 5")

  /** The shared IVF pipeline as SQL, with the probe budget expression
    * injected — `npSql` sees `cents` (the derived list count) in scope. */
  private def ivfOracleAt(npSql: String): String =
    s"""WITH $vecsCte,
       |par AS (
       |  SELECT GREATEST(4, CAST(ceil(sqrt(count(*))) AS INT)) AS cents FROM n),
       |np AS (SELECT ($npSql) AS np FROM par),
       |cent0 AS (
       |  SELECT centroid_id, v AS cv, n2 AS cn2 FROM (
       |    SELECT vec_id, v, n2,
       |           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS centroid_id
       |    FROM n) WHERE centroid_id < (SELECT cents FROM par)),
       |scored0 AS (
       |  SELECT n.vec_id, n.v, c.centroid_id,
       |         list_sum(list_transform(generate_series(1, $Dim), i -> n.v[i] * c.cv[i]))
       |           / sqrt(n.n2 * c.cn2) AS ccos
       |  FROM n, cent0 c),
       |home0 AS (
       |  SELECT vec_id, v, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY ccos DESC, centroid_id) AS r
       |    FROM scored0) WHERE r = 1),
       |m1 AS (
       |  SELECT centroid_id, i AS dim,
       |         CAST(sum(CAST(v[i] AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS m
       |  FROM home0, unnest(generate_series(1, $Dim)) t(i)
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT centroid_id, cv,
       |         list_sum(list_transform(cv, x -> x * x)) AS cn2 FROM (
       |    SELECT centroid_id, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1)),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.n2, c.centroid_id,
       |         list_sum(list_transform(generate_series(1, $Dim), i -> n.v[i] * c.cv[i]))
       |           / sqrt(n.n2 * c.cn2) AS ccos
       |  FROM n, cent c),
       |assigned AS (
       |  SELECT vec_id, v, n2, centroid_id,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY ccos DESC, centroid_id) AS crank
       |  FROM scored),
       |probe AS (SELECT * FROM assigned WHERE crank <= (SELECT np FROM np)),
       |idx AS (SELECT * FROM assigned WHERE crank = 1),
       |p AS (
       |  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id,
       |         $dotSql / sqrt(a.n2 * b.n2) AS cos
       |  FROM probe a JOIN idx b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM p)
       |SELECT vec_id, neighbor_id, round(cos, 6) AS cosine, CAST(rn AS INT) AS rank
       |FROM r WHERE rn <= $K
       |""".stripMargin

  // integer ceil-divisions, identical in Scala (/ on positive Int) and
  // DuckDB (// on positive INT): the same three budgets as probeLo/Mid/Hi
  private val NpLoSql = "(cents + 7) // 8"
  private val NpMidSql = "(cents + 3) // 4"
  private val NpHiSql = "(2 * cents + 4) // 5"

  val ivfOracle: String = ivfOracleAt(NpHiSql)

  // ----------------------------------------------------------- ANN recall
  private val ProbeMod = 5

  /** Recall of each ANN variant against the exact brute-force top-K, as
    * an oracle-checkable query: one row per method with truth/matched
    * pair counts and micro-averaged recall — including an IVF
    * PROBE-BUDGET SWEEP (`ivf_lo` = ⌈cents/8⌉, `ivf_mid` = ⌈cents/4⌉,
    * `ivf` = the ⌈2·cents/5⌉ default [[ivfTopK]] serves), so the
    * recall/cost curve is a gated artifact, not a tuning anecdote.
    * Deterministic because the hyperplanes and IVF seeding are fixed
    * derivations — the accuracy trade-off becomes a GATED number instead
    * of a spec assertion. The sweep shares ONE index build (the ranked
    * frame is persisted; each budget is a filter over it).
    *
    * Scale: the truth side is the exact O(n²) baseline, so recall is
    * measured over a PROBE SAMPLE (`vec_id % `[[ProbeMod]]` = 0`, 20%)
    * — per-vector top-K is independent across vectors, so sampling
    * probes changes nothing but the denominator, and the probe filter
    * pushes below the window to the pair join's left side (verified:
    * the n² side shrinks by the sample rate). This is exactly how the
    * audit runs on a full corpus: exact truth for a few thousand
    * probes, never all-pairs. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Caches.TrackedDataset
    import spark.implicits._
    val probe = col("vec_id") % ProbeMod === 0
    val bf = bruteForceTopK(spark, dir).filter(probe)
      .select("vec_id", "neighbor_id")
      .trackPersist() // truth count + the shared matched aggregate
    val (ranked, cents) = ivfRanked(spark, dir, probeHi)
    // A shared single candidate join at the widest budget (persist +
    // per-budget pcrank cuts) was measured and REJECTED this round: the
    // candidate-volume cache write + reads cost what the two smaller
    // joins save (isolated min-of-5 samples overlap the flap band both
    // ways), and a candidate-volume persist is the wrong shape at scale
    // — the streamed join→window pipeline never materializes Σ|probe_c|·
    // |list_c| rows. Each arm keeps its own join over the persisted
    // `ranked` index.
    val arms: Seq[(String, DataFrame)] = Seq(
      "lsh" -> lshTopK(spark, dir),
      "ivf_lo" -> ivfTopKFrom(ranked, probeLo(cents)),
      "ivf_mid" -> ivfTopKFrom(ranked, probeMid(cents)),
      "ivf" -> ivfTopKFrom(ranked, probeHi(cents)),
      // IVF-PQ at the SAME probe budget as ivf: the sweep row that
      // prices the 64× index-memory cut in recall (spec gates ≤ 0.05)
      "ivfpq" -> ivfpqTopKFrom(ranked, probeHi(cents)))
    // ONE matched aggregate for all five arms (round-15 opt): tag each
    // arm's probe-sample pairs, inner-join the union against the cached
    // truth once, count per method — replaces five per-arm left-join
    // aggregates over the same truth table. Equal by construction:
    // every arm emits unique (vec_id, neighbor_id) pairs (row_number
    // top-K), so |truth ⋈ arm| = the old sum-of-hits, and truth_pairs
    // was the same |bf| in every row.
    val tagged = arms.map { case (m, df) =>
      df.filter(probe)
        .select(lit(m).as("method"), col("vec_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val matched = tagged.join(bf, Seq("vec_id", "neighbor_id"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("m"))
    val truthPairs = bf.count() // tiny persisted probe-sample truth
    arms.map(_._1).toDF("method")
      .join(matched, Seq("method"), "left")
      .select(col("method"), lit(truthPairs).as("truth_pairs"),
        coalesce(col("m"), lit(0L)).cast("long").as("matched_pairs"))
      .withColumn("recall",
        round(col("matched_pairs").cast("double") / col("truth_pairs"), 6))
  }

  val annRecallOracle: String =
    s"""WITH bf AS (SELECT vec_id, neighbor_id FROM ($bruteForceOracle)
       |           WHERE vec_id % $ProbeMod = 0),
       |lsh AS (SELECT vec_id, neighbor_id FROM ($lshOracle)
       |        WHERE vec_id % $ProbeMod = 0),
       |ivf_lo AS (SELECT vec_id, neighbor_id FROM (${ivfOracleAt(NpLoSql)})
       |        WHERE vec_id % $ProbeMod = 0),
       |ivf_mid AS (SELECT vec_id, neighbor_id FROM (${ivfOracleAt(NpMidSql)})
       |        WHERE vec_id % $ProbeMod = 0),
       |ivf AS (SELECT vec_id, neighbor_id FROM (${ivfOracleAt(NpHiSql)})
       |        WHERE vec_id % $ProbeMod = 0),
       |ivfpq AS (SELECT vec_id, neighbor_id FROM (${ivfpqOracleAt(NpHiSql)})
       |        WHERE vec_id % $ProbeMod = 0),
       |st AS (
       |  SELECT 'lsh' AS method,
       |         (SELECT count(*) FROM bf) AS t,
       |         (SELECT count(*) FROM bf JOIN lsh USING (vec_id, neighbor_id)) AS m
       |  UNION ALL
       |  SELECT 'ivf_lo',
       |         (SELECT count(*) FROM bf),
       |         (SELECT count(*) FROM bf JOIN ivf_lo USING (vec_id, neighbor_id))
       |  UNION ALL
       |  SELECT 'ivf_mid',
       |         (SELECT count(*) FROM bf),
       |         (SELECT count(*) FROM bf JOIN ivf_mid USING (vec_id, neighbor_id))
       |  UNION ALL
       |  SELECT 'ivf',
       |         (SELECT count(*) FROM bf),
       |         (SELECT count(*) FROM bf JOIN ivf USING (vec_id, neighbor_id))
       |  UNION ALL
       |  SELECT 'ivfpq',
       |         (SELECT count(*) FROM bf),
       |         (SELECT count(*) FROM bf JOIN ivfpq USING (vec_id, neighbor_id)))
       |SELECT method, CAST(t AS BIGINT) AS truth_pairs,
       |       CAST(m AS BIGINT) AS matched_pairs,
       |       round(CAST(m AS DOUBLE) / t, 6) AS recall
       |FROM st
       |""".stripMargin

  // ------------------------------------------------- embedding near-dup
  /** Embedding-cosine near-duplicate pairs (exact, thresholded). At real
    * scale near-dups sit at cosine ≥ 0.99 and hyperplane LSH concentrates
    * them into shared buckets; this corpus is near-random so the
    * threshold is calibrated low to exercise the operator. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val n = vecs(spark, dir, spread = true)
    n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
              round(cosine(), 6).as("cosine"))
      .filter(col("cosine") >= NearDupCosine)
  }

  val nearDupOracle: String =
    s"""WITH $vecsCte
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       round($dotSql / sqrt(a.n2 * b.n2), 6) AS cosine
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE round($dotSql / sqrt(a.n2 * b.n2), 6) >= $NearDupCosine
       |""".stripMargin
}
