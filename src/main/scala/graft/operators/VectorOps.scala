package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64).
  *
  * Cross-engine float discipline: the dot product is a sequential
  * left-fold in index order on BOTH engines (the codegen
  * [[graft.functions.DotProduct]] loop and DuckDB `list_dot_product` both
  * accumulate left-to-right in double), so cosine values are bit-identical;
  * outputs are still rounded at 1e-6 so a future engine change cannot flip
  * the hash. Ordering ties break on vec_id, never on raw doubles.
  *
  * Scale posture: brute force is the correctness baseline (O(Q·N·d) — fine
  * while Q is a small query set); the LSH sign-random-projection variant is
  * the 100 TB path: bucket on md5-derived ±1 hyperplane signs across L
  * independent tables (an equi-join key), verify only within-bucket —
  * candidate generation is a shuffle-by-bucket, never all-pairs. The q81
  * contract measures recall@k of both approximate indexes against the
  * brute-force truth, so index quality is gated, not assumed.
  */
object VectorOps {

  private[operators] def roundSafe6(c: Column): Column = round(c * 1e6, 0) / 1e6 + 0.0

  /** embeddings with exact float→double cast, per-row L2 norm, renamed for
    * self-join (`<p>id`, `<p>v`, `<p>nrm`, `<p>label`).
    */
  private def vecs(spark: SparkSession, dir: String, p: String): DataFrame = {
    VectorExpressions.register(spark)
    Tables.embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", sqrt(VectorExpressions.dot(col("v"), col("v"))))
      .select(col("vec_id").as(s"${p}id"), col("v").as(s"${p}v"),
        col("nrm").as(s"${p}nrm"), col("label").as(s"${p}label"))
  }

  private[operators] def cosine(av: String, bv: String, an: String, bn: String): Column =
    VectorExpressions.dot(col(av), col(bv)) / (col(an) * col(bn))

  private[operators] val SqlVecs =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
      |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)""".stripMargin

  // ------------------------------------------------------------------
  // q47 — embedding-cosine near-dup: brute-force pairs at cos ≥ 0.4
  // (the corpus has no planted near-identical vectors; 0.4 captures the
  // intra-cluster tail). All-pairs BY DESIGN — this is the correctness
  // baseline the approximate paths are measured against; q89 is the
  // LSH-bucketed scale path for the same contract, with its pair recall
  // vs this truth gated in q81/AnnRecallSpec.
  // ------------------------------------------------------------------
  def q47EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    val a = vecs(spark, dir, "a_")
    val b = vecs(spark, dir, "b_")
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("sim", cosine("a_v", "b_v", "a_nrm", "b_nrm"))
      .filter(col("sim") >= 0.4)
      .select(col("a_id"), col("b_id"), roundSafe6(col("sim")).as("sim6"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q47Sql: String =
    s"""WITH $SqlVecs
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round((list_dot_product(a.v, b.v)/(a.nrm*b.nrm))*1e6)/1e6 + 0.0 AS sim6
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------------------------
  // q48 — brute-force cosine top-k: 10-NN for the vec_id%50=0 query set,
  // rank by rounded sim desc then vec_id (never raw-double order).
  // ------------------------------------------------------------------
  def q48KnnCosine(spark: SparkSession, dir: String): DataFrame = {
    val q = vecs(spark, dir, "q_").filter(col("q_id") % 50 === 0)
    val b = vecs(spark, dir, "b_")
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim6").desc, col("b_id"))
    q.join(b, col("q_id") =!= col("b_id"))
      .withColumn("sim6", roundSafe6(cosine("q_v", "b_v", "q_nrm", "b_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("b_id"), col("rank").cast("int").as("rank"), col("sim6"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q48Sql: String =
    s"""WITH $SqlVecs,
       |sims AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS b_id,
       |    round((list_dot_product(a.v, b.v)/(a.nrm*b.nrm))*1e6)/1e6 + 0.0 AS sim6
       |  FROM v a JOIN v b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, b_id) AS rank
       |  FROM sims)
       |SELECT q_id, b_id, CAST(rank AS INT) AS rank, sim6
       |FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // q49 — LSH-bucketed ANN (the scale path): multi-table multi-probe
  // sign-random-projection LSH. The INDEX is L=6 tables of B=8
  // hyperplane-sign bits — L rows per vector, partitioned by (table,
  // bucket). Each QUERY probes, per table, its own bucket plus the B
  // buckets at hamming distance 1 (flip one bit) — multi-probe buys the
  // recall of many more tables while only the tiny query side fans out
  // (L·(B+1) = 54 lookup keys per query; the billion-row side stays at L
  // rows each). Candidates are DISTINCT bucket-mates across all probes;
  // exact-cosine verify; top-3. Parameters picked by a measured sweep:
  // a single 8-bit table scored recall 0 on the q81 contract; B=8/L=6/
  // probe≤1 scores ~0.63 at a 24% candidate fraction on this corpus
  // (moderately-similar neighbors are sign-LSH's hard case). B is NOT
  // fixed: [[lshBitsFor]] grows it with log N so buckets stay ≈
  // TargetBucket as the corpus scales (the PLANS §sf1 rule, now code).
  // Hyperplane signs derive from md5 high-nibbles of "t|j|i" (identical
  // constants in both engines, no RNG).
  // ------------------------------------------------------------------
  private[operators] val LshTables = 6
  /** Floor (and every-test-scale value) of the B(N) rule. */
  val DefaultLshBits = 8
  /** Per-table bucket-size target the B(N) rule holds: bucket ≈ N/2^B. */
  private val TargetBucket = 32
  private val Dim = 64

  /** B(N) = max(8, ⌈log2(N / TargetBucket)⌉) — the rule PLANS §sf1
    * measured (fixed B=8 left q89 at 1.5× of brute at 10× data because
    * buckets grew linearly with N) made executable: the bit width grows
    * with log N so per-table buckets stay ≈TargetBucket and the
    * (t, bucket) equi-join's per-key work is flat as the corpus scales.
    * N=500→8 (floor), 50k→11, 100M→22. Every verify/bench corpus
    * (500–5,000 vectors) resolves to the floor, which is what lets the
    * static DuckDB oracles pin B=8; AnnRecallSpec asserts that resolution
    * and gates recall at both the rule's value and an oversharded one.
    */
  def lshBitsFor(n: Long): Int =
    math.max(DefaultLshBits,
      math.ceil(math.log(math.max(1.0, n.toDouble / TargetBucket)) / math.log(2.0)).toInt)

  /** ±1 hyperplane signs: table t, plane j, component i = high bit of the
    * first md5 nibble of "t|j|i" — MessageDigest here, inline md5() in
    * the DuckDB oracle. The seed string does not involve B, so the B=12
    * planes extend the B=8 planes (prefix property: changing B re-shards
    * buckets without re-drawing the geometry).
    */
  private val planesCache =
    new java.util.concurrent.ConcurrentHashMap[Int, IndexedSeq[IndexedSeq[Seq[Double]]]]()
  private def planes(bits: Int): IndexedSeq[IndexedSeq[Seq[Double]]] =
    planesCache.computeIfAbsent(bits, { b =>
      val mdt = java.security.MessageDigest.getInstance("MD5")
      (0 until LshTables).map { t =>
        (0 until b).map { j =>
          (0 until Dim).map { i =>
            val h = mdt.digest(s"$t|$j|$i".getBytes("UTF-8"))
            if (((h(0) >> 4) & 0xF) >= 8) 1.0 else -1.0
          }
        }
      }
    })

  private[graft] def bucketExprSpark(t: Int, bits: Int): Column =
    (0 until bits).map { j =>
      when(VectorExpressions.dot(col("v"), typedLit(planes(bits)(t)(j))) >= 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  private[operators] def bucketExprSqlDuck(t: Int, bits: Int): String = {
    val terms = (0 until bits).map { j =>
      val fold = s"list_sum(list_transform(generate_series(0, ${Dim - 1}), " +
        s"i -> v[i + 1] * (CASE WHEN instr('89abcdef', substring(md5('$t|$j|' || CAST(i AS VARCHAR)), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END)))"
      s"(CASE WHEN $fold >= 0 THEN ${1L << j}::BIGINT ELSE 0::BIGINT END)"
    }
    terms.mkString(" + ")
  }

  /** One row per (vector, table) with that table's `bits`-wide bucket —
    * the inverted index; at scale this is the partition key of the index
    * table, with `bits` chosen by [[lshBitsFor]] so buckets stay bounded.
    * Vectors ride the index rows and the verify dot runs INLINE in the
    * bucket join — a slim-index/rejoin variant (candidates deduped first,
    * vectors joined back by id) was built and MEASURED SLOWER at both
    * sf0.1 (q49 1.65→4.0 s) and sf1 (q89 21→34 s): with L=6 rows per
    * vector the payload fan is bounded, while the rejoin ships every
    * candidate row through two more exchanges and re-reads the corpus.
    */
  private def lshIndex(spark: SparkSession, dir: String, bits: Int): DataFrame = {
    VectorExpressions.register(spark)
    Tables.embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", sqrt(VectorExpressions.dot(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(graft.functions.LshSignBuckets.buckets(
          col("v"), LshTables, bits)).as(Seq("t", "bucket")))
  }

  /** Corpus size for the B(N) rule — one metadata-cheap count per call. */
  private def embeddingCount(spark: SparkSession, dir: String): Long =
    Tables.embeddings(spark, dir).count()

  def q49AnnLsh(spark: SparkSession, dir: String): DataFrame =
    q49AnnLshAt(spark, dir, lshBitsFor(embeddingCount(spark, dir)))

  private[graft] def q49AnnLshAt(spark: SparkSession, dir: String, bits: Int): DataFrame = {
    val exploded = lshIndex(spark, dir, bits)
    // multi-probe: the query side additionally fans out to every bucket at
    // hamming distance 1 (own bucket + B single-bit flips per table)
    val probeCols = Seq(col("bucket")) ++
      (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val q = exploded.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_nrm"), col("t"),
        explode(array(probeCols: _*)).as("bucket"))
    val c = exploded.select(col("vec_id").as("b_id"), col("v").as("b_v"),
      col("nrm").as("b_nrm"), col("t"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim6").desc, col("b_id"))
    q.join(c, Seq("t", "bucket")).filter(col("q_id") =!= col("b_id"))
      .withColumn("sim6", roundSafe6(cosine("q_v", "b_v", "q_nrm", "b_nrm")))
      .select(col("q_id"), col("b_id"), col("sim6")).distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("b_id"),
        col("rank").cast("int").as("rank"), col("sim6"))
      .orderBy(col("q_id"), col("rank"))
  }

  // oracle pins B = DefaultLshBits: lshBitsFor(N) resolves to the floor at
  // every verify scale (AnnRecallSpec asserts the resolution)
  val q49Sql: String = {
    val tables = (0 until LshTables).map { t =>
      s"SELECT vec_id, v, nrm, $t AS t, ${bucketExprSqlDuck(t, DefaultLshBits)} AS bucket FROM v"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $SqlVecs,
       |bucketed AS (
       |  $tables),
       |probes AS (
       |  SELECT vec_id, v, nrm, t,
       |    unnest(list_concat([bucket], list_transform(generate_series(0, ${DefaultLshBits - 1}),
       |      j -> xor(bucket, CAST(1 << j AS BIGINT))))) AS bucket
       |  FROM bucketed WHERE vec_id % 50 = 0),
       |sims AS (
       |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS b_id,
       |    round((list_dot_product(a.v, b.v)/(a.nrm*b.nrm))*1e6)/1e6 + 0.0 AS sim6
       |  FROM probes a JOIN bucketed b ON a.t = b.t AND a.bucket = b.bucket
       |    AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, b_id) AS rank
       |  FROM sims)
       |SELECT q_id, b_id, CAST(rank AS INT) AS rank, sim6
       |FROM ranked WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // q50 — kNN label classification: majority label of the 5 nearest
  // neighbors per query (ties: higher count first, then smaller label).
  // ------------------------------------------------------------------
  def q50KnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val q = vecs(spark, dir, "q_").filter(col("q_id") % 25 === 0)
    val b = vecs(spark, dir, "b_")
    val wK = Window.partitionBy(col("q_id")).orderBy(col("sim6").desc, col("b_id"))
    val top5 = q.join(b, col("q_id") =!= col("b_id"))
      .withColumn("sim6", roundSafe6(cosine("q_v", "b_v", "q_nrm", "b_nrm")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= 5)
    val wV = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("b_label"))
    top5.groupBy(col("q_id"), col("q_label"), col("b_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wV))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("q_label").as("true_label"),
        col("b_label").as("predicted_label"), col("votes"))
      .orderBy(col("q_id"))
  }

  val q50Sql: String =
    s"""WITH $SqlVecs,
       |sims AS (
       |  SELECT a.vec_id AS q_id, a.label AS q_label, b.vec_id AS b_id, b.label AS b_label,
       |    round((list_dot_product(a.v, b.v)/(a.nrm*b.nrm))*1e6)/1e6 + 0.0 AS sim6
       |  FROM v a JOIN v b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       |top5 AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, b_id) AS rank
       |    FROM sims) WHERE rank <= 5),
       |votes AS (
       |  SELECT q_id, q_label, b_label, COUNT(*) AS votes FROM top5
       |  GROUP BY q_id, q_label, b_label),
       |winner AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, b_label) AS vr
       |  FROM votes)
       |SELECT q_id, q_label AS true_label, b_label AS predicted_label,
       |  CAST(votes AS BIGINT) AS votes
       |FROM winner WHERE vr = 1
       |ORDER BY q_id""".stripMargin

  // ------------------------------------------------------------------
  // q57 — IVF-style ANN: coarse quantizer with LEARNED centroids
  // (deterministic seeded k-means), nprobe=2. Init = every stride-th
  // vector (the md5-free deterministic seed; stride = max(100, ⌈√N⌉) —
  // see [[seedStride]], the K ≈ √N regime rule); then IvfIters rounds of
  // assign-to-nearest + recompute-mean move the centroids onto the
  // corpus's actual cluster structure. A DuckDB sweep over T=0..4 at
  // sf{0.001,0.01,0.1} measured recall@5 0.70→0.80, 0.90→0.84,
  // 0.615→0.575 at T=3 with candidate fraction unchanged — noise-level
  // on THIS corpus because the every-100th sample already covers its
  // label clusters; training is kept because a production corpus gives
  // no such guarantee, and q81 gates whatever the centroids yield.
  // Each vector is assigned to its nearest centroid (argmax rounded
  // cosine, c_id tie-break) — the inverted-file partition key; queries
  // search only
  // the two nearest cells. At scale the assignment is a broadcast join +
  // partitioned table (train on a hash-sample, assign the full corpus);
  // search cost drops from O(N) to O(N·nprobe/cells) per query.
  //
  // Cross-engine determinism of the training loop: the mean is computed
  // over FLOOR(x·1e6) BIGINT quantizations — integer sums are exact and
  // order-free, so both engines derive bit-identical centroids, and the
  // division sequence (SUM→DOUBLE ÷ COUNT→DOUBLE ÷ 1e6) is two IEEE
  // double divisions in the same order. An emptied cell drops out in
  // both engines alike.
  // ------------------------------------------------------------------
  private val IvfIters = 3

  /** Centroid seed stride — the K-growth regime rule (r7). The original
    * fixed every-100th seed makes K track N linearly, so each k-means
    * assignment pass is O(N·K) = O(N²/100): the sf10 replica measured
    * the q135 train at 30 min for a 180k-vector standing set (K=1800).
    * IVF practice wants K ≈ √N, so the executable rule is
    * stride = max(100, ⌈√N⌉): every gate-scale corpus (N ≤ 2000 — the
    * driver's sf0.001/0.01/0.1 embeddings) keeps the historical
    * stride-100 seed and byte-identical oracle output, while past
    * N = 10 000 the stride grows as ⌈√N⌉ and caps K near √N (sf10:
    * stride 425 → K ≈ 423, 4× less assignment work per pass, train
    * O(N^1.5) instead of O(N²)). Mirrored in the oracle SQL as
    * `GREATEST(100, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))` over the
    * SAME training population; ⌈√N⌉ is the identical IEEE double in
    * both engines at these magnitudes. Same pattern as `lshBitsFor` and
    * the q125 edge-count branch: the regime pick is executable, not
    * prose. The count is one scalar driver action, paid once per
    * memoized train.
    */
  private def seedStride(base: DataFrame): Long =
    math.max(100L, math.ceil(math.sqrt(base.count().toDouble)).toLong)

  /** Slim per-vector similarity frame: `(id, c_id, c_sim)` ONLY — the
    * 64-dim vectors are read once in the broadcast-join stage and dropped
    * before any exchange. Measured at sf1: carrying `v` through the
    * argmax shuffle made each assignment pass ~4× the cost of its math
    * (4M rows × 512B of payload per pass); this projection is the
    * never-ship-payload-through-a-rank-shuffle rule.
    */
  private def centSims(base: DataFrame, cents: DataFrame): DataFrame =
    base.crossJoin(broadcast(cents))
      .withColumn("c_sim", roundSafe6(
        VectorExpressions.dot(col("v"), col("c_v")) / (col("nrm") * col("c_nrm"))))
      .select(col("id"), col("c_id"), col("c_sim"))

  /** Nearest cell per vector (argmax c_sim, ties → min c_id) as two
    * map-side-combinable aggregates — max-sim then min-id among equals —
    * instead of a row_number window: no sort, no payload columns, and
    * partial aggregation does the heavy lifting before the exchange.
    */
  private def nearestCell(base: DataFrame, cents: DataFrame): DataFrame = {
    val sims = centSims(base, cents)
    val mx = sims.groupBy(col("id")).agg(max(col("c_sim")).as("ms"))
    sims.join(mx, Seq("id")).filter(col("c_sim") === col("ms"))
      .groupBy(col("id")).agg(min(col("c_id")).as("cell"))
  }

  /** Trained centroids memoized per corpus dir: training is an OFFLINE
    * index build (at production scale it runs once per index version and
    * persists), so a suite run pays it once — q81's recall scoring and
    * bench reps reuse the checkpointed result instead of re-training.
    * Cache-validity assumptions, stated: the corpus at `dir` is immutable
    * for the JVM's life (true for the driver's generated testdata; a
    * regenerated corpus needs [[clear]]), and the cached frame is used on
    * the SparkContext that built it. [[clear]] — wired into Verify/Bench
    * teardown — releases the checkpointed blocks, not just the map.
    *
    * The memo is the HOT layer of a two-level index: beneath it the
    * trained artifact persists as parquet ([[loadOrBuild]]), so a fresh
    * JVM — the nightly-run shape — LOADS the index instead of
    * retraining (~390 s at sf10 for the q135 standing set).
    */
  private val centsCache = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private val assignCache = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  def clear(): Unit = {
    centsCache.values().forEach(graft.util.Checkpoints.release(_))
    centsCache.clear()
    assignCache.values().forEach(graft.util.Checkpoints.release(_))
    assignCache.clear()
  }

  /** Train passes actually executed this JVM (spec observable: a
    * load-from-disk path must NOT bump this). */
  private[graft] val trainPasses = new java.util.concurrent.atomic.AtomicLong
  /** Index artifacts read from parquet instead of rebuilt. */
  private[graft] val indexLoads = new java.util.concurrent.atomic.AtomicLong

  /** Corpus identity stamp for index keying: md5 over the corpus dir
    * plus (name, length, mtime) of every embeddings part file. A
    * regenerated corpus — even content-identical — changes mtimes, so a
    * stale index can never be served against new data (the r6 mid-round
    * corpus regeneration is exactly the hazard this guards); the cost is
    * only a harmless retrain. One RPC-cheap listStatus, no data scan.
    */
  private def corpusStamp(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(path)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "|" + parts.mkString(",")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** On-disk IVF index store (VERDICT-r7 #2). Artifacts live under
    * `spark.graft.ivf.indexDir` (default `<java.io.tmpdir>/graft_ivf_index`)
    * at `<root>/<corpusStamp>-<name>`, landed once
    * ([[graft.util.Generations.landOnce]]: parquet `_SUCCESS` commits).
    * The returned frame is localCheckpointed but deliberately NOT
    * [[graft.util.Checkpoints.track]]ed — callers memoize it across
    * queries and the harness sweep releases tracked frames between
    * queries (a swept localCheckpoint is unrecomputable); [[clear]]
    * releases it at teardown via the memo values. Parquet round-trips
    * the centroid doubles bit-exactly, so load-vs-train output is
    * byte-identical (pinned in IvfIndexPersistSpec).
    */
  private def loadOrBuild(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val root = spark.conf.getOption("spark.graft.ivf.indexDir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_ivf_index")
    val path = s"$root/${corpusStamp(spark, dir)}-$name"
    var wrote = false
    graft.util.Generations.landOnce(spark, path) {
      val built = build
      built.write.mode("overwrite").parquet(path)
      graft.util.Checkpoints.release(built)
      wrote = true
    }
    if (!wrote) indexLoads.incrementAndGet()
    spark.read.parquet(path).localCheckpoint(true)
  }

  // keyed by (SparkContext application, dir), not dir alone: the cached
  // frame is localCheckpointed, so its blocks belong to the context that
  // built it — a second context in the same JVM handed the first's frame
  // would fail at runtime (or worse, plan against a stopped context)
  private def kmeansCents(dir: String, base: DataFrame): DataFrame =
    centsCache.computeIfAbsent(
      (base.sparkSession.sparkContext.applicationId, dir),
      _ => loadOrBuild(base.sparkSession, dir, "full-cents")(trainCents(base)))

  /** The standing corpus's (id, cell) assignment — a pure function of
    * (corpus, centroids), so it persists WITH the index under the same
    * stamp: without it every fresh JVM re-paid the O(N·K) argmax over
    * the whole corpus just to serve a query panel (q57 measured 131 s
    * at sf10 with centroids loaded but assignments recomputed — the
    * assignment pass, not the probe, was the whole bill).
    */
  private def corpusCells(dir: String, base: DataFrame, cents: DataFrame): DataFrame =
    assignCache.computeIfAbsent(
      (base.sparkSession.sparkContext.applicationId, dir),
      _ => loadOrBuild(base.sparkSession, dir, "full-assign")(nearestCell(base, cents)))

  /** q135's persisted incremental-index artifacts (centroids trained on
    * the standing set + its per-cell counts), memoized like the full
    * index — shared between the query and [[prewarmIvfIndex]] so the
    * prewarm can never drift from the keys the query actually uses. */
  private def incCents(spark: SparkSession, dir: String, old: DataFrame): DataFrame =
    centsCache.computeIfAbsent(
      (spark.sparkContext.applicationId, dir + "|inc"),
      _ => loadOrBuild(spark, dir, "inc-cents")(trainCents(old)))

  private def incCellCounts(spark: SparkSession, dir: String,
      old: DataFrame, cents: DataFrame): DataFrame =
    centsCache.computeIfAbsent(
      (spark.sparkContext.applicationId, dir + "|inc|nold"), _ =>
        loadOrBuild(spark, dir, "inc-cellcounts")(
          nearestCell(old, cents)
            .groupBy(col("cell")).agg(count(lit(1)).as("n_old"))))

  /** Bench prewarm (r12 verdict #1): materialize the four DURABLE IVF
    * index artifacts (q57's full-corpus centroids + assignment, q135's
    * incremental centroids + standing cell counts) so a cold /tmp index
    * pays its one-time train under its own priced key instead of inside
    * the first consumer's timed rep — q57 read 5.4 s in BENCH_r12 vs
    * 1.0 in r11 and the artifact could not say why. When the index is
    * already on disk this is four parquet loads, ~0 s.
    *
    * The two index families are INDEPENDENT artifact chains (q57's
    * full index never reads q135's and vice versa; memo keys are
    * disjoint and loadOrBuild paths distinct), and each chain's
    * k-means rounds are driver-serialized small jobs that leave most
    * cores idle — so the chains build CONCURRENTLY inside this one
    * priced window (the cold window is their MAX, not their sum;
    * measured 8.7 s serial → see OPTIMIZATION_r16.md). Failures on
    * either thread rethrow here. */
  def prewarmIvfIndex(spark: SparkSession, dir: String): Unit = {
    val base = vecs(spark, dir, "")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def chain(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errs.add(e) },
        s"ivf-prewarm-$name")
      t.setDaemon(true); t.start(); t
    }
    val full = chain("full") {
      val cents = kmeansCents(dir, base)
      corpusCells(dir, base, cents).count(); ()
    }
    val inc = chain("inc") {
      val old = base.filter(col("id") % 10 =!= 7)
      incCellCounts(spark, dir, old, incCents(spark, dir, old)).count(); ()
    }
    full.join(); inc.join()
    if (!errs.isEmpty) throw errs.peek()
  }

  /** IvfIters rounds of deterministic spherical k-means over `base`
    * (`id`, `v`, `nrm`); returns (`c_id`, `c_v`, `c_nrm`). Each round is
    * one slim broadcast-assignment pass + one posexplode/groupBy mean;
    * per-round centroids are localCheckpointed so the iteration's lineage
    * doesn't stack, and each superseded round's blocks are released as
    * soon as the next round materializes (the GraphOps leak lesson).
    */
  private def trainCents(base: DataFrame): DataFrame = {
    trainPasses.incrementAndGet()
    var cents = base.filter(col("id") % seedStride(base) === 0)
      .select(col("id").as("c_id"), col("v").as("c_v"), col("nrm").as("c_nrm"))
    for (_ <- 1 to IvfIters) {
      // vectors rejoin by id AFTER the slim argmax (N small rows, one
      // hash join) — never through the assignment aggregation itself
      val assigned = nearestCell(base, cents)
        .join(base.select(col("id"), col("v")), Seq("id"))
      val next = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg((sum(floor(col("x") * 1e6).cast("long")).cast("double") /
              count(lit(1)).cast("double") / 1e6).as("m"))
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("i"), col("m"))).as("pairs"))
        .select(col("cell").as("c_id"),
          expr("transform(array_sort(pairs), e -> e.m)").as("c_v"))
        .withColumn("c_nrm", sqrt(VectorExpressions.dot(col("c_v"), col("c_v"))))
        .localCheckpoint()
      graft.util.Checkpoints.release(cents) // no-op for the round-0 plan
      cents = next
    }
    cents
  }

  def q57AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir, "")
    val cents = kmeansCents(dir, base)
    // corpus side: the persisted (id, cell) assignment, vectors rejoined
    // by id — the O(N·K) argmax is paid once per corpus, not per process
    val assigned = corpusCells(dir, base, cents).join(base, Seq("id"))
      .select(col("id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_nrm"),
        col("cell"))
    // query side: the top-2 probe cells need a rank, but only over the
    // query panel (N/50 × cells slim rows) — filter BEFORE the window
    val wAssign = Window.partitionBy(col("id")).orderBy(col("c_sim").desc, col("c_id"))
    val probes = centSims(base.filter(col("id") % 50 === 0), cents)
      .withColumn("c_rank", row_number().over(wAssign))
      .filter(col("c_rank") <= 2)
      .join(base, Seq("id"))
      .select(col("id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"),
        col("c_id").as("cell"))
    val wK = Window.partitionBy(col("q_id")).orderBy(col("sim6").desc, col("b_id"))
    probes.join(assigned, Seq("cell")).filter(col("q_id") =!= col("b_id"))
      .withColumn("sim6", roundSafe6(cosine("q_v", "b_v", "q_nrm", "b_nrm")))
      .select(col("q_id"), col("b_id"), col("sim6")).distinct()
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("b_id"), col("rank").cast("int").as("rank"), col("sim6"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q57Sql: String = {
    // the k-means training chain, one assigned_k/cents_k CTE pair per
    // round — the same quantized-mean arithmetic as kmeansCents
    // slim sims → max-sim → min-c_id-among-max: the argmax-without-a-sort
    // shape the Spark side uses (nearestCell)
    def argmaxAssign(simsName: String, prev: String): String =
      s"""$simsName AS (
         |  SELECT a.vec_id AS id, c.c_id,
         |    round((list_dot_product(a.v, c.c_v)/(a.nrm*c.c_nrm))*1e6)/1e6 + 0.0 AS c_sim
         |  FROM v a CROSS JOIN $prev c),
         |${simsName}_mx AS (SELECT id, max(c_sim) AS ms FROM $simsName GROUP BY id),
         |${simsName}_cell AS (
         |  SELECT s.id, min(s.c_id) AS cell
         |  FROM $simsName s JOIN ${simsName}_mx m ON s.id = m.id AND s.c_sim = m.ms
         |  GROUP BY s.id)""".stripMargin
    val kmeans = (1 to IvfIters).map { it =>
      val prev = s"cents${it - 1}"
      s"""${argmaxAssign(s"sims$it", prev)},
         |assigned$it AS (
         |  SELECT a.id, b.v, a.cell FROM sims${it}_cell a JOIN v b ON a.id = b.vec_id),
         |cents$it AS (
         |  SELECT c_id, c_v, sqrt(list_dot_product(c_v, c_v)) AS c_nrm FROM (
         |    SELECT cell AS c_id, list(m ORDER BY i) AS c_v FROM (
         |      SELECT cell, i,
         |        CAST(SUM(CAST(FLOOR(x*1e6) AS BIGINT)) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)/1e6 AS m
         |      FROM (SELECT cell, unnest(v) AS x, unnest(generate_series(1, $Dim)) AS i FROM assigned$it)
         |      GROUP BY cell, i)
         |    GROUP BY cell))""".stripMargin
    }.mkString(",\n")
    s"""WITH $SqlVecs,
       |cents0 AS (SELECT vec_id AS c_id, v AS c_v, nrm AS c_nrm FROM v
       |  WHERE vec_id % (SELECT GREATEST(100, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM v) = 0),
       |$kmeans,
       |cents AS (SELECT * FROM cents$IvfIters),
       |${argmaxAssign("fsims", "cents")},
       |assigned AS (
       |  SELECT b.vec_id AS b_id, b.v AS b_v, b.nrm AS b_nrm, a.cell
       |  FROM fsims_cell a JOIN v b ON a.id = b.vec_id),
       |probes AS (
       |  SELECT b.vec_id AS q_id, b.v AS q_v, b.nrm AS q_nrm, r.c_id AS cell
       |  FROM (
       |    SELECT id, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY c_sim DESC, c_id) AS c_rank
       |    FROM fsims WHERE id % 50 = 0) r
       |  JOIN v b ON r.id = b.vec_id
       |  WHERE r.c_rank <= 2),
       |sims AS (
       |  SELECT DISTINCT q_id, b_id,
       |    round((list_dot_product(q_v, b_v)/(q_nrm*b_nrm))*1e6)/1e6 + 0.0 AS sim6
       |  FROM probes JOIN assigned USING (cell)
       |  WHERE q_id <> b_id),
       |topk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, b_id) AS rank
       |  FROM sims)
       |SELECT q_id, b_id, CAST(rank AS INT) AS rank, sim6
       |FROM topk WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // q135 — incremental IVF index maintenance: the nightly-index question
  // "a new embedding batch arrived — where does it land?" answered
  // WITHOUT retraining. Centroids are trained (same deterministic
  // k-means) on the standing corpus only (id % 10 ≠ 7, memoized under
  // its own cache key); the incoming batch (id % 10 = 7) is assigned to
  // its nearest existing centroid by the same slim argmax pass. The
  // report — per cell: standing size, batch additions, dilution
  // fraction — is what decides when drift has degraded the index enough
  // to warrant a retrain (the q81 recall gate is the other half of that
  // decision). At 100 TB this is the index's steady-state write path:
  // assignment is a broadcast of ~N/100 centroids against only the
  // batch, O(batch) work per batch, retrain amortized across many.
  // ------------------------------------------------------------------
  def q135IvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir, "")
    val old = all.filter(col("id") % 10 =!= 7)
    val batch = all.filter(col("id") % 10 === 7)
    val cents = incCents(spark, dir, old)
    // standing-set per-cell counts are part of the persisted index —
    // written to disk ONCE with the centroids ([[loadOrBuild]]) and
    // loaded on every nightly run, including from a fresh JVM. Without
    // them each run re-assigned the whole standing corpus just to
    // report dilution (measured 101.6 s of the sf10 warm path,
    // 180k × 423 dot products); with them the warm path prices only the
    // batch assignment, O(batch × K) — the incremental contract the
    // operator exists for. Values are identical either way (the store
    // persists the same aggregation), so the oracle is untouched.
    val nOld = incCellCounts(spark, dir, old, cents)
    val nNew = nearestCell(batch, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_added"))
    nOld.join(nNew, Seq("cell"), "full")
      .select(col("cell").as("c_id"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_added"), lit(0L)).as("n_added"))
      .withColumn("frac_added6", roundSafe6(
        col("n_added").cast("double") / (col("n_old") + col("n_added"))))
      .orderBy(col("c_id"))
  }

  val q135Sql: String = {
    // the q57Sql k-means/argmax generators, parameterized by base table
    // (q57Sql's own strings stay byte-stable for its hash gate)
    def argmaxAssign(simsName: String, base: String, prev: String): String =
      s"""$simsName AS (
         |  SELECT a.vec_id AS id, c.c_id,
         |    round((list_dot_product(a.v, c.c_v)/(a.nrm*c.c_nrm))*1e6)/1e6 + 0.0 AS c_sim
         |  FROM $base a CROSS JOIN $prev c),
         |${simsName}_mx AS (SELECT id, max(c_sim) AS ms FROM $simsName GROUP BY id),
         |${simsName}_cell AS (
         |  SELECT s.id, min(s.c_id) AS cell
         |  FROM $simsName s JOIN ${simsName}_mx m ON s.id = m.id AND s.c_sim = m.ms
         |  GROUP BY s.id)""".stripMargin
    val kmeans = (1 to IvfIters).map { it =>
      val prev = s"cents${it - 1}"
      s"""${argmaxAssign(s"sims$it", "vold", prev)},
         |assigned$it AS (
         |  SELECT a.id, b.v, a.cell FROM sims${it}_cell a JOIN vold b ON a.id = b.vec_id),
         |cents$it AS (
         |  SELECT c_id, c_v, sqrt(list_dot_product(c_v, c_v)) AS c_nrm FROM (
         |    SELECT cell AS c_id, list(m ORDER BY i) AS c_v FROM (
         |      SELECT cell, i,
         |        CAST(SUM(CAST(FLOOR(x*1e6) AS BIGINT)) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE)/1e6 AS m
         |      FROM (SELECT cell, unnest(v) AS x, unnest(generate_series(1, $Dim)) AS i FROM assigned$it)
         |      GROUP BY cell, i)
         |    GROUP BY cell))""".stripMargin
    }.mkString(",\n")
    s"""WITH $SqlVecs,
       |vold AS (SELECT * FROM v WHERE vec_id % 10 <> 7),
       |vnew AS (SELECT * FROM v WHERE vec_id % 10 = 7),
       |cents0 AS (SELECT vec_id AS c_id, v AS c_v, nrm AS c_nrm FROM vold
       |  WHERE vec_id % (SELECT GREATEST(100, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM vold) = 0),
       |$kmeans,
       |cents AS (SELECT * FROM cents$IvfIters),
       |${argmaxAssign("osims", "vold", "cents")},
       |${argmaxAssign("nsims", "vnew", "cents")},
       |oc AS (SELECT cell, COUNT(*) AS n_old FROM osims_cell GROUP BY 1),
       |nc AS (SELECT cell, COUNT(*) AS n_added FROM nsims_cell GROUP BY 1)
       |SELECT COALESCE(o.cell, n.cell) AS c_id,
       |  CAST(COALESCE(o.n_old, 0) AS BIGINT) AS n_old,
       |  CAST(COALESCE(n.n_added, 0) AS BIGINT) AS n_added,
       |  round(CAST(COALESCE(n.n_added, 0) AS DOUBLE)
       |    / (COALESCE(o.n_old, 0) + COALESCE(n.n_added, 0)) * 1e6) / 1e6 + 0.0 AS frac_added6
       |FROM oc o FULL JOIN nc n ON o.cell = n.cell
       |ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q89 — LSH-bucketed embedding near-dup: the scale path for q47. Same
  // contract (pairs at cos ≥ 0.4) but candidates come from the q49 LSH
  // index instead of the all-pairs product: one side of the pair fans to
  // its own bucket plus the B hamming-1 flips per table (9 keys/row ×
  // L tables), the other side stays at L index rows, and the join is
  // equi on (t, bucket) — a shuffle-by-bucket whose per-key size is
  // ~N/2^B per table (raise B with N). Multi-probe is what makes recall
  // usable at the corpus's moderate similarities (cos 0.4–0.6): a pair is
  // caught when any table's buckets differ by ≤ 1 bit. Exact-cosine
  // verify + DISTINCT dedups multi-table collisions. Recall vs the q47
  // truth is measured and gated in q81/AnnRecallSpec — approximation is a
  // measured contract, not an assumption. A pathologically HOT bucket (a
  // dense near-identical cluster) is real data for dedup — it must not be
  // dropped; at scale the (t, bucket) equi-join's skew is the runtime's
  // problem, and AQE's skew-split handles it without a plan change
  // (AqeSkewSpec demonstrates the mechanism on exactly this join shape).
  // ------------------------------------------------------------------
  def q89NeardupLsh(spark: SparkSession, dir: String): DataFrame =
    q89NeardupLshAt(spark, dir, lshBitsFor(embeddingCount(spark, dir)))

  private[graft] def q89NeardupLshAt(spark: SparkSession, dir: String, bits: Int): DataFrame = {
    val idx = lshIndex(spark, dir, bits)
    val probeCols = Seq(col("bucket")) ++
      (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val a = idx.select(col("vec_id").as("a_id"), col("v").as("a_v"),
      col("nrm").as("a_nrm"), col("t"),
      explode(array(probeCols: _*)).as("bucket"))
    val b = idx.select(col("vec_id").as("b_id"), col("v").as("b_v"),
      col("nrm").as("b_nrm"), col("t"), col("bucket"))
    a.join(b, Seq("t", "bucket")).filter(col("a_id") < col("b_id"))
      .withColumn("sim", cosine("a_v", "b_v", "a_nrm", "b_nrm"))
      .filter(col("sim") >= 0.4)
      .select(col("a_id"), col("b_id"), roundSafe6(col("sim")).as("sim6"))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  val q89Sql: String = {
    val tables = (0 until LshTables).map { t =>
      s"SELECT vec_id, v, nrm, $t AS t, ${bucketExprSqlDuck(t, DefaultLshBits)} AS bucket FROM v"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $SqlVecs,
       |bucketed AS (
       |  $tables),
       |probes AS (
       |  SELECT vec_id, v, nrm, t,
       |    unnest(list_concat([bucket], list_transform(generate_series(0, ${DefaultLshBits - 1}),
       |      j -> xor(bucket, CAST(1 << j AS BIGINT))))) AS bucket
       |  FROM bucketed)
       |SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round((list_dot_product(a.v, b.v)/(a.nrm*b.nrm))*1e6)/1e6 + 0.0 AS sim6
       |FROM probes a JOIN bucketed b ON a.t = b.t AND a.bucket = b.bucket
       |  AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q81 — ANN quality contract: recall@k of the two approximate indexes
  // against the brute-force truth (q48). Hash-determinism alone would let
  // an index with recall 0.2 pass the gate; this measures it. recall@k =
  // |approx top-k ∩ exact top-k| summed over the shared query set,
  // divided by queries·k (missing candidates — e.g. an underfull LSH
  // bucket — count against recall, as they should). AnnRecallSpec pins
  // the floor each index must clear.
  // ------------------------------------------------------------------
  def q81AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    // both truth frames are referenced 2-3× below (per-method hit joins +
    // the denominator counts); localCheckpoint materializes each O(N²)
    // scan ONCE instead of recomputing it per reference
    val truth = graft.util.Checkpoints.track(
      q48KnnCosine(spark, dir).select(col("q_id"), col("b_id"), col("rank"))
        .localCheckpoint())
    val n = truth.agg(countDistinct(col("q_id")).as("n"))
    def recallOf(method: DataFrame, k: Int, name: String): DataFrame =
      method.select(col("q_id"), col("b_id"))
        .join(truth.filter(col("rank") <= k), Seq("q_id", "b_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(n)
        .select(lit(name).as("method"), col("hits"),
          (col("n") * k).as("possible"),
          (round(col("hits").cast("double") / (col("n") * k) * 1e4, 0) / 1e4 + 0.0)
            .as("recall4"))
    // pair recall of the LSH near-dup path vs the brute-force q47 truth:
    // same (method, hits, possible, recall4) shape, possible = |truth|
    val truthPairs = graft.util.Checkpoints.track(
      q47EmbeddingNeardup(spark, dir).select(col("a_id"), col("b_id"))
        .localCheckpoint())
    val neardup = q89NeardupLshAt(spark, dir, DefaultLshBits)
      .select(col("a_id"), col("b_id"))
      .join(truthPairs, Seq("a_id", "b_id"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(truthPairs.agg(count(lit(1)).as("possible")))
      .select(lit("neardup").as("method"), col("hits"), col("possible"),
        (round(col("hits").cast("double") / col("possible") * 1e4, 0) / 1e4 + 0.0)
          .as("recall4"))
    recallOf(q57AnnIvf(spark, dir), 5, "ivf")
      .union(recallOf(q49AnnLshAt(spark, dir, DefaultLshBits), 3, "lsh"))
      .union(neardup)
      .orderBy(col("method"))
  }

  val q81Sql: String =
    s"""WITH truth AS (SELECT q_id, b_id, rank FROM ($q48Sql)),
       |lsh AS (SELECT q_id, b_id FROM ($q49Sql)),
       |ivf AS (SELECT q_id, b_id FROM ($q57Sql)),
       |truthp AS (SELECT a_id, b_id FROM ($q47Sql)),
       |nd AS (SELECT a_id, b_id FROM ($q89Sql)),
       |nq AS (SELECT COUNT(DISTINCT q_id) AS n FROM truth),
       |np AS (SELECT COUNT(*) AS possible FROM truthp),
       |lh AS (SELECT COUNT(*) AS hits FROM lsh JOIN truth USING (q_id, b_id) WHERE rank <= 3),
       |ih AS (SELECT COUNT(*) AS hits FROM ivf JOIN truth USING (q_id, b_id) WHERE rank <= 5),
       |nh AS (SELECT COUNT(*) AS hits FROM nd JOIN truthp USING (a_id, b_id))
       |SELECT * FROM (
       |  SELECT 'ivf' AS method, hits, n * 5 AS possible,
       |    round(CAST(hits AS DOUBLE)/(n*5)*1e4)/1e4 + 0.0 AS recall4 FROM ih, nq
       |  UNION ALL
       |  SELECT 'lsh', hits, n * 3, round(CAST(hits AS DOUBLE)/(n*3)*1e4)/1e4 + 0.0 FROM lh, nq
       |  UNION ALL
       |  SELECT 'neardup', hits, possible,
       |    round(CAST(hits AS DOUBLE)/possible*1e4)/1e4 + 0.0 FROM nh, np)
       |ORDER BY method""".stripMargin

  // ------------------------------------------------------------------
  // q104 — per-label centroids, long format: the class-prototype /
  // cluster-summary aggregate (label → mean vector) behind nearest-
  // centroid classification and embedding-drift monitors. Same integer
  // discipline as the IVF trainer: per-dimension means over FLOOR(x·1e6)
  // BIGINT sums (exact, order-independent), one double division, then a
  // scale-0 round (where both engines agree) back to 1e-6 precision.
  // posexplode → groupBy(label, dim) moves only N·Dim slim rows and
  // partial-aggregates map-side; no vector payload crosses the shuffle.
  // ------------------------------------------------------------------
  def q104VectorCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + lit(1)).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        (round(sum(floor(col("x") * 1e6).cast("long")).cast("double") /
          count(lit(1)), 0) / 1e6 + 0.0).as("centroid"))
      .orderBy(col("label"), col("dim"))

  val q104Sql: String =
    s"""WITH e AS (
       |  SELECT label, unnest(embedding) AS x,
       |         unnest(generate_series(1, $Dim)) AS dim
       |  FROM embeddings)
       |SELECT label, CAST(dim AS BIGINT) AS dim,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  round(CAST(SUM(CAST(FLOOR(x*1e6) AS BIGINT)) AS DOUBLE)/COUNT(*))/1e6 + 0.0 AS centroid
       |FROM e GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q47_embedding_neardup" -> (q47EmbeddingNeardup _),
    "q48_knn_cosine"        -> (q48KnnCosine _),
    // q49/q89 pin B=DefaultLshBits here: their DuckDB oracles are static
    // SQL at that width, so the adaptive q49AnnLsh/q89NeardupLsh on a
    // corpus where lshBitsFor(N) > 8 would read as a phantom engine bug.
    // The B(N) path stays the public op (ScaleUp + AnnRecallSpec exercise
    // it); at every shipped verify/bench scale the two are identical.
    "q49_ann_lsh"           -> ((s: SparkSession, d: String) => q49AnnLshAt(s, d, DefaultLshBits)),
    "q50_knn_classify"      -> (q50KnnClassify _),
    "q57_ann_ivf"           -> (q57AnnIvf _),
    "q81_ann_recall"        -> (q81AnnRecall _),
    "q89_neardup_lsh"       -> ((s: SparkSession, d: String) => q89NeardupLshAt(s, d, DefaultLshBits)),
    "q104_vector_centroids" -> (q104VectorCentroids _),
    "q135_ivf_incremental"  -> (q135IvfIncremental _),
  )

  val oracleSql: Map[String, String] = Map(
    "q47_embedding_neardup" -> q47Sql,
    "q48_knn_cosine"        -> q48Sql,
    "q49_ann_lsh"           -> q49Sql,
    "q50_knn_classify"      -> q50Sql,
    "q57_ann_ivf"           -> q57Sql,
    "q81_ann_recall"        -> q81Sql,
    "q89_neardup_lsh"       -> q89Sql,
    "q104_vector_centroids" -> q104Sql,
    "q135_ivf_incremental"  -> q135Sql,
  )
}
