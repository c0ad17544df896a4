package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-layout and table-diagnostics operators — the maintenance surface a
  * 100 TB lake needs around the query engine (the reference gets the same
  * effects from Postgres physics: composite B-tree indexes
  * `sql/schema.sql:295-305` make point/range lookups cheap regardless of
  * heap order, and autovacuum keeps the heap compact; a Parquet lake has
  * neither, so layout IS the index):
  *
  *   - q99 Z-ORDER clustering: interleave the bits of two quantized
  *     dimensions so range-partitioning on the single z-value gives
  *     locality on BOTH dimensions at once — files then carry tight
  *     min/max footer stats on both columns and either predicate prunes
  *     (the multi-dimensional analogue of partition-by-date, and the
  *     standard lakehouse answer to "which secondary index"). The oracled
  *     query materializes the bucket→bounds map itself, so the skipping
  *     bound the layout promises is the thing the hash gate checks;
  *     [[Layout.clusterByZ]] applies the same z-value as a physical
  *     `repartitionByRange` write (ZorderSpec measures the extents).
  *   - q100 single-scan profiling: nulls / distincts / min / max for a
  *     column set in ONE pass over the table (Catalyst Expand), long-format
  *     output — the stats-collection pass that feeds CBO and data-quality
  *     monitors; per-column scan loops are exactly what a 100 TB table
  *     cannot afford.
  *   - q102 heavy-hitter diagnostics: top-k join keys with individual and
  *     cumulative frequency share — the skew profile that decides between
  *     a plain shuffle join, AQE skew splitting, and the salted join
  *     (`functions/SkewJoin`). Two-phase: per-key counts (map-side
  *     partialable), then a 20-row windowed cumsum on the driver-sized
  *     top slice.
  *
  * Cross-engine determinism follows the Relational rules: integer/bitwise
  * arithmetic everywhere (bit-spreading is exact by construction), single
  * divisions of exact integers for ratios, decimal-cast renderings for
  * profile strings.
  */
object Layout {

  // ---- q99: Z-order ---------------------------------------------------

  /** Spread the low 16 bits of `v` to even bit positions (0,2,4,…,30) —
    * the classic mask-shift Morton ladder; exact on BIGINT in both
    * engines. */
  private def spread16(v: Column): Column = {
    val a = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 16-bit quantization of `x` onto [0, 65535] over [lo, hi]. The
    * products stay < 2^53 so the double arithmetic is exact; `floor` of
    * an IEEE quotient is engine-identical. A degenerate range (constant
    * column: hi == lo) quantizes to 0 instead of NaN-poisoning the
    * Morton code — [[clusterByZ]] then degrades to clustering on the
    * other dimension alone. */
  private def quant16(x: Column, lo: Column, hi: Column): Column =
    when(hi > lo, floor((x - lo) * 65535.0 / (hi - lo)))
      .otherwise(lit(0)).cast("long")

  /** 32-bit Morton code of two 16-bit quantized dimensions. */
  def zValue(x: Column, y: Column, xlo: Column, xhi: Column,
      ylo: Column, yhi: Column): Column =
    spread16(quant16(x, xlo, xhi))
      .bitwiseOR(shiftleft(spread16(quant16(y, ylo, yhi)), 1))

  /** Physically cluster `df` into `nParts` files by the Morton code of
    * (xCol, yCol). Bounds are computed distributively and broadcast — no
    * driver collect. The projection after the sort keeps intra-partition
    * order, so each written file covers a contiguous z-range and its
    * footer min/max on BOTH columns is tight (ZorderSpec asserts the
    * extents; at cluster scale this is what makes either-column
    * predicates skip files). */
  def clusterByZ(df: DataFrame, xCol: String, yCol: String, nParts: Int): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).as("__xlo"), max(col(xCol)).as("__xhi"),
      min(col(yCol)).as("__ylo"), max(col(yCol)).as("__yhi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", zValue(col(xCol), col(yCol),
        col("__xlo"), col("__xhi"), col("__ylo"), col("__yhi")))
      .repartitionByRange(nParts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__xlo", "__xhi", "__ylo", "__yhi")
  }

  /** Physically partition `df` so every output partition (→ written
    * file) holds rows of EXACTLY ONE distinct combination of `keys` —
    * the purity the grouped metadata serve
    * ([[graft.plans.ZoneAggServe]]) needs: a file single-valued on
    * every key folds its aggregates per composite group with zero
    * tasks. Hash or range repartitioning cannot guarantee this (hash
    * collides groups into one partition; range straddles boundaries),
    * so this is the one justified RDD drop-down: an EXACT partitioner
    * over the driver-collected distinct group list (O(groups) driver
    * memory — days × types, never rows) in a single shuffle.
    *
    * The `nFiles` budget splits each group into k = max(1, nFiles /
    * groups) contiguous ranges of `rangeCol` (same purity): the k − 1
    * cut points are taken from the sorted distinct non-null values of
    * `rangeCol` (one driver collect, O(distinct values)) and shared by
    * every group, nulls going to the first range. Each file then
    * carries a disjoint `rangeCol` interval inside its group, so a
    * predicate on that column prunes within the group. */
  def partitionPureBy(df: DataFrame, keys: Seq[String],
      rangeCol: String, nFiles: Int): DataFrame = {
    val spark = df.sparkSession
    val groups: Map[Seq[Any], Int] = df.select(keys.map(col): _*)
      .distinct().collect().map(_.toSeq).zipWithIndex.toMap
    if (groups.isEmpty) return df.repartition(1)
    val k = math.max(1, nFiles / groups.size)
    val cuts: Seq[Any] = if (k == 1) Nil else {
      val c = col(rangeCol)
      val vs = df.select(c).filter(c.isNotNull).distinct().orderBy(c)
        .collect().map(_.get(0))
      (1 until k).map(i => i * vs.length / k).filter(_ > 0).distinct
        .map(vs(_))
    }
    // the range index: how many cut points the row's value reaches
    val withRange = df.withColumn("__range", cuts.foldLeft(lit(0))((b, v) =>
      b + when(col(rangeCol) >= lit(v), 1).otherwise(0)))
    val schema = withRange.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val rangeIdx = schema.fieldIndex("__range")
    val n = groups.size * k
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val rdd = withRange.rdd
      .map(r => (groups(keyIdx.map(r.get)) * k + r.getInt(rangeIdx), r))
      .partitionBy(part).values
    spark.createDataFrame(rdd, schema).drop("__range")
  }

  /** q99 — the z-order bucket→bounds map over lineitem (l_partkey ×
    * l_orderkey): top-6-bit z-buckets (an 8×8 grid) with each bucket's
    * min/max on both source dimensions and the extent fraction of the
    * global range they span. Tight fractions on BOTH dims are the
    * file-skipping guarantee the clustering exists for. Two scans: a
    * 4-scalar bounds aggregate (broadcast) + the bucketed aggregate. */
  def q99ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val bounds = li.agg(
      min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
      min(col("l_orderkey")).as("olo"), max(col("l_orderkey")).as("ohi"))
    li.crossJoin(broadcast(bounds))
      .withColumn("zbucket", shiftright(
        zValue(col("l_partkey"), col("l_orderkey"),
          col("plo"), col("phi"), col("olo"), col("ohi")), 26))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_orderkey")).as("min_order"), max(col("l_orderkey")).as("max_order"))
      .crossJoin(broadcast(bounds))
      .select(col("zbucket"), col("n_rows"),
        col("min_part"), col("max_part"), col("min_order"), col("max_order"),
        ((col("max_part") - col("min_part")).cast("double") / (col("phi") - col("plo")))
          .as("part_extent"),
        ((col("max_order") - col("min_order")).cast("double") / (col("ohi") - col("olo")))
          .as("order_extent"))
      .orderBy(col("zbucket"))
  }

  val q99Sql: String =
    """WITH b AS (
      |  SELECT MIN(l_partkey) AS plo, MAX(l_partkey) AS phi,
      |         MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi
      |  FROM lineitem),
      |q AS (
      |  SELECT l_partkey, l_orderkey,
      |    CAST(CASE WHEN phi > plo
      |      THEN floor((l_partkey - plo) * 65535.0 / (phi - plo)) ELSE 0 END AS BIGINT) AS xq,
      |    CAST(CASE WHEN ohi > olo
      |      THEN floor((l_orderkey - olo) * 65535.0 / (ohi - olo)) ELSE 0 END AS BIGINT) AS yq
      |  FROM lineitem, b),
      |s1 AS (SELECT l_partkey, l_orderkey,
      |  (xq | (xq << 8)) & 16711935 AS x, (yq | (yq << 8)) & 16711935 AS y FROM q),
      |s2 AS (SELECT l_partkey, l_orderkey,
      |  (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y FROM s1),
      |s3 AS (SELECT l_partkey, l_orderkey,
      |  (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y FROM s2),
      |s4 AS (SELECT l_partkey, l_orderkey,
      |  (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y FROM s3),
      |z AS (SELECT l_partkey, l_orderkey, (x | (y << 1)) >> 26 AS zbucket FROM s4)
      |SELECT zbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
      |  MIN(l_orderkey) AS min_order, MAX(l_orderkey) AS max_order,
      |  CAST(MAX(l_partkey) - MIN(l_partkey) AS DOUBLE) / (phi - plo) AS part_extent,
      |  CAST(MAX(l_orderkey) - MIN(l_orderkey) AS DOUBLE) / (ohi - olo) AS order_extent
      |FROM z, b
      |GROUP BY zbucket, phi, plo, ohi, olo
      |ORDER BY zbucket""".stripMargin

  // ---- q100: single-scan profile -------------------------------------

  /** q100 — column profiling: nulls/distincts/min/max for the numeric and
    * date columns in ONE hash-aggregated scan (Catalyst plans the exact
    * `count(distinct …)`s through an Expand — row replication, still one
    * pass over the table), plus a dedicated TINY pass for the string
    * column. The split is deliberate: a string min/max buffer is not
    * hash-aggregate-mutable, so mixing it into the Expand demotes the
    * whole multi-distinct pipeline to SortAggregate — a sort of the
    * expanded table (measured 4.4 s vs 1.6 s at sf0.1, worse at scale).
    * The string pass groups BY the value instead (string keys hash fine)
    * and reduces the resulting handful of groups. Long-format output with
    * decimal/date string renderings (exact cross-engine). At 100 TB swap
    * exact distincts for `approx_count_distinct` to drop the Expand —
    * the structure (scans that hash-aggregate, long output) is the point. */
  def q100Profile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = li.agg(
      count(lit(1)).as("n_rows"),
      count(col("l_quantity")).as("nn_q"), countDistinct(col("l_quantity")).as("nd_q"),
      min(col("l_quantity")).as("mn_q"), max(col("l_quantity")).as("mx_q"),
      count(col("l_returnflag")).as("nn_f"),
      count(col("l_shipdate")).as("nn_d"), countDistinct(col("l_shipdate")).as("nd_d"),
      min(col("l_shipdate")).as("mn_d"), max(col("l_shipdate")).as("mx_d"))
    val flags = li.select(col("l_returnflag")).distinct()
      // count the KEY, not the row: a null key must not inflate the
      // distinct count (COUNT(DISTINCT x) ignores NULLs)
      .agg(count(col("l_returnflag")).as("nd_f"),
        min(col("l_returnflag")).as("mn_f"), max(col("l_returnflag")).as("mx_f"))
    a.crossJoin(broadcast(flags)).selectExpr(
      """stack(3,
        |  'l_quantity', n_rows - nn_q, nd_q,
        |    CAST(CAST(mn_q AS DECIMAL(18,2)) AS STRING),
        |    CAST(CAST(mx_q AS DECIMAL(18,2)) AS STRING),
        |  'l_returnflag', n_rows - nn_f, nd_f, mn_f, mx_f,
        |  'l_shipdate', n_rows - nn_d, nd_d,
        |    date_format(mn_d, 'yyyy-MM-dd'), date_format(mx_d, 'yyyy-MM-dd')
        |) AS (col_name, n_nulls, n_distinct, min_val, max_val)""".stripMargin,
      "n_rows")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy(col("col_name"))
  }

  val q100Sql: String =
    """SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
      |  COUNT(*) - COUNT(l_quantity) AS n_nulls,
      |  CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
      |  CAST(CAST(MIN(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS min_val,
      |  CAST(CAST(MAX(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS max_val
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
      |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
      |  MIN(l_returnflag), MAX(l_returnflag)
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
      |  CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
      |  strftime(MIN(l_shipdate), '%Y-%m-%d'), strftime(MAX(l_shipdate), '%Y-%m-%d')
      |FROM lineitem
      |ORDER BY col_name""".stripMargin

  // ---- q102: heavy hitters --------------------------------------------

  /** q102 — join-key skew diagnostics: the 20 hottest l_partkey values
    * with per-key and cumulative share of the table. The aggregate is
    * map-side partialable; the window runs on the 20-row top slice only.
    * Shares are single divisions of exact integers (IEEE-identical).
    * This is the measurement that chooses between plain shuffle, AQE
    * skew split, and `SkewJoin.salted` at 100 TB. */
  def q102HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val total = li.agg(count(lit(1)).as("total"))
    val top = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col("l_partkey")).limit(20)
    val w = Window.orderBy(col("n_rows").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.withColumn("cum_n", sum(col("n_rows")).over(w))
      .crossJoin(broadcast(total))
      .select(col("l_partkey"), col("n_rows"),
        (col("n_rows").cast("double") / col("total")).as("share"),
        (col("cum_n").cast("double") / col("total")).as("cum_share"))
      .orderBy(col("n_rows").desc, col("l_partkey"))
  }

  val q102Sql: String =
    """WITH t AS (SELECT COUNT(*) AS total FROM lineitem),
      |top AS (
      |  SELECT l_partkey, COUNT(*) AS n_rows FROM lineitem
      |  GROUP BY l_partkey ORDER BY n_rows DESC, l_partkey LIMIT 20)
      |SELECT l_partkey, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_rows AS DOUBLE) / total AS share,
      |  CAST(SUM(n_rows) OVER (ORDER BY n_rows DESC, l_partkey
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / total AS cum_share
      |FROM top, t
      |ORDER BY n_rows DESC, l_partkey""".stripMargin

  // ---- q107: equi-width histogram -------------------------------------

  /** q107 — 20-bucket equi-width histogram of l_extendedprice: the
    * distribution profile that pairs with q100's scalar stats (CBO
    * selectivity, drift monitors, outlier triage). Bucketing is a pure
    * row-local floor over broadcast bounds (one scalar-bounds pass + one
    * map-side-combinable aggregate); the top boundary value clamps into
    * the last bucket, matching the closed upper interval convention.
    * Bucket bounds are re-derived arithmetically so the output is
    * self-describing. */
  def q107Histogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val bounds = li.agg(min(col("l_extendedprice")).as("lo"),
      max(col("l_extendedprice")).as("hi"))
    val nb = 20
    li.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") > col("lo"),
          least(floor((col("l_extendedprice") - col("lo")) * nb / (col("hi") - col("lo"))),
            lit(nb - 1))).otherwise(lit(0)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .crossJoin(broadcast(bounds))
      .select(col("bucket"), col("n_rows"), col("min_price"), col("max_price"),
        graft.weather.WeatherPipeline.roundSafe(
          col("lo") + col("bucket") * (col("hi") - col("lo")) / nb, 4).as("bucket_lo"),
        graft.weather.WeatherPipeline.roundSafe(
          col("lo") + (col("bucket") + 1) * (col("hi") - col("lo")) / nb, 4).as("bucket_hi"))
      .orderBy(col("bucket"))
  }

  val q107Sql: String =
    """WITH b AS (
      |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem),
      |h AS (
      |  SELECT CASE WHEN hi > lo
      |    THEN least(floor((l_extendedprice - lo) * 20 / (hi - lo)), 19) ELSE 0 END AS bucket,
      |         l_extendedprice
      |  FROM lineitem, b)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
      |  round(round((lo + bucket * (hi - lo) / 20)*1e8)/1e4)/1e4 + 0.0 AS bucket_lo,
      |  round(round((lo + (bucket + 1) * (hi - lo) / 20)*1e8)/1e4)/1e4 + 0.0 AS bucket_hi
      |FROM h, b
      |GROUP BY bucket, lo, hi
      |ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------------
  // q113 — dense global sequence ids (the zipWithIndex problem): assign
  // 0..N-1 in doc_id order WITHOUT the single-partition sort that
  // `ROW_NUMBER() OVER (ORDER BY doc_id)` plans — the classic scale
  // trap for "give every training example a contiguous id". Structure:
  // a bucket that is a pure MONOTONIC function of the key
  // (floor(doc_id / W) — order-preserving by construction, no sampling,
  // no repartitionByRange nondeterminism), per-bucket row_number (the
  // only wide shuffle, and its sort is per-bucket parallel), a
  // bucket-count cumsum over the tiny bucket table (driver-scale rows),
  // and a broadcast join adding the offsets. At 100 TB, W is the knob:
  // pick W so max per-bucket rows fits an executor's sort buffer; the
  // fat table is shuffled exactly once, and nothing ever funnels through
  // one task. seq_id is a pure function of the key set — rerun-stable.
  // ------------------------------------------------------------------
  private val IdBucketWidth = 100L

  def q113DenseIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .withColumn("__b", floor(col("doc_id") / IdBucketWidth))
    val offsets = docs.groupBy(col("__b")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    docs.withColumn("__rn", row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("doc_id"))))
      .join(broadcast(offsets), "__b")
      .select(col("doc_id"), col("source"),
        (col("__rn") - 1 + col("__off")).as("seq_id"))
      .orderBy(col("doc_id"))
  }

  val q113Sql: String =
    """SELECT doc_id, source,
      |  ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS seq_id
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q118 — correlation matrix via sufficient statistics: Pearson r for
  // each measure pair from ONE kind of pass — map-side-combinable exact
  // sums (n, Σx, Σy, Σxy, Σx², Σy², all decimal — both engines add
  // exactly), converted to double only at the closed-form step. This is
  // how a profiler computes correlations at 100 TB: never a centered
  // second pass, never per-row doubles into a float sum (non-associative
  // across partitionings). The final arithmetic is an identical
  // fixed-shape expression tree in both engines (every IEEE op correctly
  // rounded, same order), rounded to 1e-6 by the shared convention.
  // ------------------------------------------------------------------
  def q118Correlation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def dec(c: Column): Column = c.cast("decimal(18,2)")
    def d(c: Column): Column = c.cast("double")
    def pair(name: String, xc: String, yc: String): DataFrame = {
      val x = dec(col(xc)); val y = dec(col(yc))
      li.agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"))
        .select(lit(name).as("pair"), col("n"),
          graft.weather.WeatherPipeline.roundSafe(
            (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
              / (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
                * sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))),
            6).as("corr"))
    }
    pair("quantity_price", "l_quantity", "l_extendedprice")
      .unionByName(pair("quantity_discount", "l_quantity", "l_discount"))
      .unionByName(pair("price_discount", "l_extendedprice", "l_discount"))
      .orderBy(col("pair"))
  }

  private def corrSql(name: String, xc: String, yc: String): String =
    s"""SELECT '$name' AS pair, CAST(n AS BIGINT) AS n,
       |  round(round(
       |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |    * 1e8) / 1e2) / 1e6 + 0.0 AS corr
       |FROM (SELECT COUNT(*) AS n,
       |  SUM(CAST($xc AS DECIMAL(18,2))) AS sx,
       |  SUM(CAST($yc AS DECIMAL(18,2))) AS sy,
       |  SUM(CAST($xc AS DECIMAL(18,2)) * CAST($yc AS DECIMAL(18,2))) AS sxy,
       |  SUM(CAST($xc AS DECIMAL(18,2)) * CAST($xc AS DECIMAL(18,2))) AS sxx,
       |  SUM(CAST($yc AS DECIMAL(18,2)) * CAST($yc AS DECIMAL(18,2))) AS syy
       |  FROM lineitem)""".stripMargin

  val q118Sql: String =
    Seq(corrSql("quantity_price", "l_quantity", "l_extendedprice"),
      corrSql("quantity_discount", "l_quantity", "l_discount"),
      corrSql("price_discount", "l_extendedprice", "l_discount"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY pair")

  // ------------------------------------------------------------------
  // q139 — KMV (k-minimum-values) distinct sketch: per-event-type
  // approximate COUNT DISTINCT users from the k = 64 smallest distinct
  // md5 values, DV̂ = (k−1)/u_k with u_k the k-th smallest hash mapped
  // to (0,1). This is the mergeable cardinality sketch a 100 TB profiler
  // keeps per partition/day and unions instead of re-scanning (min-k of
  // a union = min-k of the merged min-k sets); unlike HLL it is
  // DETERMINISTIC cross-engine — both engines take the identical md5
  // bottom-k, and the estimator is one division of exactly-represented
  // doubles (48 hash bits < 2^53; 16^12 a power of two), so the gate can
  // hash-compare an *approximate* operator exactly. Saturation rule:
  // under k distinct values the sketch IS the exact count.
  //
  // The scale shape is a TRUE partial aggregate ([[graft.functions
  // .KmvSketch]], a TypedImperativeAggregate): each task keeps only the
  // k smallest distinct hashes as a live object buffer, the exchange
  // carries ONE serialized O(k) sketch per (task, type) — never the
  // distinct set — and merge takes the k smallest of the union (min-k
  // of a union == min-k of merged min-k sets). KmvSketchPlanSpec pins
  // the shuffled-record bound; KmvSpec pins merge associativity and
  // partition-count invariance. The exact n_distinct column rides its
  // own count_distinct shuffle on purpose: it is the gate's exactness
  // anchor, the very cost the sketch path exists to avoid. The oracle
  // keeps the naive window — same rows, driver-scale corpus.
  // ------------------------------------------------------------------
  private val KmvK = 64L

  /** THE KMV estimator, shared by every Scala call site (anchored and
    * anchors-off branches of q139/q146/q148/q151/q157, q150): exact
    * `saturated` below k kept hashes, else (k−1)/u_k with u_k the
    * zero-guarded 48-bit prefix of the k-th smallest hash mapped to
    * (0, 1]. One definition so a guard/tweak lands ONCE — this round's
    * zero-prefix guard had to be hand-applied to eight copies. (The
    * SQL oracles still repeat the formula per query by design: each
    * oracle is a self-contained dialect text the driver runs verbatim.)
    */
  private[graft] def kmvEstimate(
      nKept: Column, hk: Column, k: Long, saturated: Column): Column =
    when(nKept < k, saturated)
      .otherwise(lit((k - 1).toDouble) /
        (greatest(conv(substring(hk, 1, 12), 16, 10).cast("long"), lit(1L))
          .cast("double") / lit(281474976710656.0))) // 16^12

  /** The gate's exact-anchor columns (count_distinct / self-join /
    * key-join re-passes) exist so DuckDB can hash-verify the sketch
    * estimates — they are ALSO the very cost the sketch layer exists to
    * avoid at 100 TB. `spark.graft.sketch.anchors=false` switches
    * q139/q146/q148/q151/q152/q157 to their PRODUCTION shape: the
    * sketch path alone, no exact anchors, no rel_err columns (the
    * saturation rule falls back to n_kept, which below saturation IS
    * the exact count because the kept set is complete). The driver
    * gate never sets the conf, so the anchored oracle queries are
    * unchanged; RunOne rides the conf in as an arg for the side-by-side
    * cost measurement (PLANS §r10), and SketchAnchorsSpec pins that the
    * anchors-off rolling/maintenance/algebra queries never scan the
    * events feed at all when the sketch table is fresh.
    */
  private[graft] def anchorsOn(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.sketch.anchors").forall(_.toBoolean)

  def q139KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"))
    val sk = ev.select(col("event_type"),
        md5(col("user_id").cast("string")).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvSketchAgg.kmv(spark, col("h"), KmvK.toInt).as("s"))
      .select(col("event_type"),
        col("s.n_kept").cast("long").as("n_kept"), col("s.hk").as("hk"))
    if (!anchorsOn(spark)) {
      // production shape: ONE corpus pass (the sketch partial aggregate),
      // estimate straight off the sketch — no count_distinct re-pass
      return sk.withColumn("kmv_estimate",
          kmvEstimate(col("n_kept"), col("hk"), KmvK, col("n_kept").cast("double")))
        .select(col("event_type"), col("n_kept"), lit(KmvK).as("kmv_k"),
          col("kmv_estimate"))
        .orderBy(col("event_type"))
    }
    val exact = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("user_id")).as("n_distinct"))
    exact.join(broadcast(sk), "event_type")
      .withColumn("kmv_estimate",
        kmvEstimate(col("n_kept"), col("hk"), KmvK, col("n_distinct").cast("double")))
      .select(col("event_type"), col("n_rows"), col("n_distinct"),
        lit(KmvK).as("kmv_k"), col("kmv_estimate"),
        ((col("kmv_estimate") - col("n_distinct").cast("double"))
          / col("n_distinct").cast("double")).as("rel_err"))
      .orderBy(col("event_type"))
  }

  val q139Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL),
      |d AS (
      |  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
      |  FROM e),
      |r AS (
      |  SELECT event_type, h,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM d),
      |sk AS (
      |  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS hk
      |  FROM r WHERE rn <= 64 GROUP BY 1),
      |x AS (
      |  SELECT event_type, COUNT(*) AS n_rows,
      |    COUNT(DISTINCT user_id) AS n_distinct
      |  FROM e GROUP BY 1),
      |j AS (
      |  SELECT x.event_type, x.n_rows, x.n_distinct,
      |    CASE WHEN sk.n_kept < 64 THEN CAST(x.n_distinct AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS kmv_estimate
      |  FROM x JOIN sk ON x.event_type = sk.event_type)
      |SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  CAST(64 AS BIGINT) AS kmv_k, kmv_estimate,
      |  (kmv_estimate - CAST(n_distinct AS DOUBLE))
      |    / CAST(n_distinct AS DOUBLE) AS rel_err
      |FROM j ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q146 — rolling 7-day distinct users from MERGED daily KMV sketches:
  // the query that exercises the sketch's whole reason to exist. The
  // raw feed is touched exactly once (the daily-sketch aggregation, a
  // [[graft.functions.KmvSketch]] partial aggregate in storage form —
  // the full kept set per (type, day)); every rolling window is then
  // answered from the KB-sized sketch table by union-and-resketch
  // (min-k of a union == min-k over the union of kept sets), never by
  // rescanning events. At 100 TB this is the difference between one
  // pass + tiny sketch algebra and a 7× fan-out re-scan per window —
  // which is exactly what the exact-anchor columns (n_exact, rel_err)
  // pay here so the gate can hash-verify the estimate cross-engine.
  // Saturation rule: a window whose merged sketch holds < k hashes has
  // ALL its distinct hashes, so the estimate IS exact there.
  // ------------------------------------------------------------------
  def q146KmvRolling(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        md5(col("user_id").cast("string")).as("h"))
    // the daily sketch table is the q151 MAINTAINED artifact (durable,
    // incremental, per-file consumed tracking): fresh JVMs load it
    // instead of re-sketching the corpus, and an appended feed pays
    // only the new files — the r9 refactor that makes the "one pass
    // EVER" posture literal rather than per-session
    val daily = KmvTable.kmvView(spark, dir)
    // rolling merge over the sketch TABLE (tiny): 7-day union, re-sketch
    val target = daily.select(col("event_type"), col("d"))
    val merged = target.as("t")
      .join(daily.as("s"),
        col("t.event_type") === col("s.event_type") &&
        col("s.d").between(date_sub(col("t.d"), 6), col("t.d")))
      .select(col("t.event_type").as("event_type"), col("t.d").as("d"),
        col("s.d").as("src_d"), explode(col("s.ks")).as("h"))
    val sk = merged.groupBy(col("event_type"), col("d"))
      .agg(count_distinct(col("src_d")).as("n_days"),
        graft.functions.KmvSketchAgg.kmv(spark, col("h"), KmvK.toInt).as("s"))
      .select(col("event_type"), col("d"), col("n_days"),
        col("s.n_kept").cast("long").as("n_kept"), col("s.hk").as("hk"))
    if (!anchorsOn(spark)) {
      // production shape: every rolling window answered from the
      // KB-sized maintained table — the events feed does not appear in
      // this plan at all when the table is fresh (SketchAnchorsSpec
      // pins the scan set)
      return sk.withColumn("kmv_estimate",
          kmvEstimate(col("n_kept"), col("hk"), KmvK, col("n_kept").cast("double")))
        .select(col("event_type"), col("d"), col("n_days"), col("n_kept"),
          col("kmv_estimate"))
        .orderBy(col("event_type"), col("d"))
    }
    // exact anchor: the 7× fan-out re-scan the sketch path avoids
    val dh = ev.distinct()
    val exact = dh.select(col("event_type"), col("d")).distinct().as("t")
      .join(dh.as("s"),
        col("t.event_type") === col("s.event_type") &&
        col("s.d").between(date_sub(col("t.d"), 6), col("t.d")))
      .groupBy(col("t.event_type").as("event_type"), col("t.d").as("d"))
      .agg(count_distinct(col("s.h")).as("n_exact"))
    sk.join(exact, Seq("event_type", "d"))
      .withColumn("kmv_estimate",
        kmvEstimate(col("n_kept"), col("hk"), KmvK, col("n_kept").cast("double")))
      .select(col("event_type"), col("d"), col("n_days"), col("n_exact"),
        col("kmv_estimate"),
        ((col("kmv_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
      .orderBy(col("event_type"), col("d"))
  }

  val q146Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    md5(CAST(user_id AS VARCHAR)) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |dh AS (SELECT DISTINCT event_type, d, h FROM e),
      |daily AS (
      |  SELECT event_type, d, h FROM (
      |    SELECT event_type, d, h, ROW_NUMBER() OVER (
      |      PARTITION BY event_type, d ORDER BY h) AS rn FROM dh)
      |  WHERE rn <= 64),
      |win AS (
      |  SELECT t.event_type, t.d, s.d AS src_d, s.h
      |  FROM (SELECT DISTINCT event_type, d FROM daily) t
      |    JOIN daily s ON s.event_type = t.event_type
      |      AND s.d BETWEEN t.d - 6 AND t.d),
      |nd AS (SELECT event_type, d, COUNT(DISTINCT src_d) AS n_days
      |  FROM win GROUP BY 1, 2),
      |wsk AS (
      |  SELECT event_type, d, h, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, d ORDER BY h) AS rn
      |  FROM (SELECT DISTINCT event_type, d, h FROM win)),
      |sk AS (SELECT event_type, d, COUNT(*) AS n_kept, MAX(h) AS hk
      |  FROM wsk WHERE rn <= 64 GROUP BY 1, 2),
      |ex AS (
      |  SELECT t.event_type, t.d, COUNT(DISTINCT s.h) AS n_exact
      |  FROM (SELECT DISTINCT event_type, d FROM dh) t
      |    JOIN dh s ON s.event_type = t.event_type
      |      AND s.d BETWEEN t.d - 6 AND t.d
      |  GROUP BY 1, 2)
      |SELECT sk.event_type, sk.d, CAST(nd.n_days AS BIGINT) AS n_days,
      |  CAST(ex.n_exact AS BIGINT) AS n_exact,
      |  CASE WHEN sk.n_kept < 64 THEN CAST(sk.n_kept AS DOUBLE)
      |    ELSE 63.0 /
      |      (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk, 1, 12)) AS UBIGINT)
      |         AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS kmv_estimate,
      |  (CASE WHEN sk.n_kept < 64 THEN CAST(sk.n_kept AS DOUBLE)
      |    ELSE 63.0 /
      |      (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk, 1, 12)) AS UBIGINT)
      |         AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END
      |   - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE) AS rel_err
      |FROM sk JOIN nd ON sk.event_type = nd.event_type AND sk.d = nd.d
      |  JOIN ex ON sk.event_type = ex.event_type AND sk.d = ex.d
      |ORDER BY sk.event_type, sk.d""".stripMargin

  // ------------------------------------------------------------------
  // q148 — KMV SET ALGEBRA: pairwise union / intersection / Jaccard
  // estimates between event types computed entirely from the per-type
  // kept sets (the q146 sketch TABLE), never from the raw feed. The
  // classic bottom-k estimator (Beyer et al. 2007; theta-sketch set
  // operations): merge the two kept sets and take the bottom-k → the
  // union sketch (union_est = (k−1)/u_k as in q139); the match fraction
  // ρ = |{h ∈ merged : h ∈ kept_a ∧ h ∈ kept_b}| / |merged| estimates
  // Jaccard (each merged hash is a uniform draw from A∪B, and it lands
  // in both kept sets iff it belongs to A∩B, because kept sets are
  // downward-closed: a hash below BOTH types' k-th minima is kept by
  // both); inter_est = ρ · union_est. All estimator arithmetic is
  // integer counts and IEEE divisions of exactly-representable values,
  // so the approximate operator hash-verifies cross-engine, exactly as
  // q139. Saturation: a merged sketch under k hashes means BOTH kept
  // sets are complete, so every estimate degrades to EXACT.
  //
  // 100 TB shape: the corpus is touched once (the per-type kmvFull
  // partial aggregate — one O(k) sketch per task on the wire, q139's
  // plan pin); the pairwise algebra runs on a KB-sized frame. The exact
  // n_inter/n_union columns are the gate's anchors and pay the
  // self-join-on-user the sketch path exists to avoid.
  // ------------------------------------------------------------------
  def q148KmvAlgebra(spark: SparkSession, dir: String): DataFrame = {
    if (!anchorsOn(spark)) {
      // production shape: per-type kept sets derived from the MAINTAINED
      // daily table (min-k over the union of per-day kept sets == the
      // type's true bottom-k, because every type-level bottom-k hash is
      // in its day's bottom-k) — zero feed scans when the table is
      // fresh, and the whole query is KB-sized sketch algebra
      val kept = KmvTable.kmvView(spark, dir)
        .select(col("event_type"), explode(col("ks")).as("h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketchAgg.kmvFull(spark, col("h"), KmvK.toInt).as("ks"))
      val pairs = kept.as("a").join(kept.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          col("a.ks").as("ka"), col("b.ks").as("kb"))
        .withColumn("ku",
          slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, KmvK.toInt))
        .withColumn("n_kept", size(col("ku")).cast("long"))
        .withColumn("uk", element_at(col("ku"), size(col("ku"))))
        .withColumn("matches",
          expr("CAST(size(filter(ku, h -> array_contains(ka, h) AND array_contains(kb, h))) AS BIGINT)"))
      return pairs
        .withColumn("union_est",
          kmvEstimate(col("n_kept"), col("uk"), KmvK, col("n_kept").cast("double")))
        .withColumn("jaccard_est",
          col("matches").cast("double") / col("n_kept").cast("double"))
        .select(col("type_a"), col("type_b"), col("n_kept"), col("matches"),
          col("union_est"),
          (col("jaccard_est") * col("union_est")).as("inter_est"),
          col("jaccard_est"))
        .orderBy(col("type_a"), col("type_b"))
    }
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"))
    val dh = ev.select(col("event_type"),
      md5(col("user_id").cast("string")).as("h"))
    // the ONLY corpus-scale passes: per-type sketch + per-type exact anchor
    val kept = dh.groupBy(col("event_type"))
      .agg(graft.functions.KmvSketchAgg.kmvFull(spark, col("h"), KmvK.toInt).as("ks"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n"))
    val t = kept.join(exact, "event_type")
    val pairs = t.as("a").join(t.as("b"), col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        col("a.ks").as("ka"), col("b.ks").as("kb"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .withColumn("ku",
        slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, KmvK.toInt))
      .withColumn("n_kept", size(col("ku")).cast("long"))
      .withColumn("uk", element_at(col("ku"), size(col("ku"))))
      .withColumn("matches",
        expr("CAST(size(filter(ku, h -> array_contains(ka, h) AND array_contains(kb, h))) AS BIGINT)"))
    // exact anchor: pairwise distinct-user intersection via self-join
    val du = ev.distinct()
    val inter = du.as("x").join(du.as("y"),
        col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs.join(inter, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("union_est",
        kmvEstimate(col("n_kept"), col("uk"), KmvK, col("n_kept").cast("double")))
      .withColumn("jaccard_est",
        col("matches").cast("double") / col("n_kept").cast("double"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("n_union"), col("n_kept"), col("matches"),
        col("union_est"),
        (col("jaccard_est") * col("union_est")).as("inter_est"),
        col("jaccard_est"),
        (col("n_inter").cast("double") / col("n_union").cast("double"))
          .as("jaccard_exact"),
        ((col("union_est") - col("n_union").cast("double"))
          / col("n_union").cast("double")).as("union_rel_err"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q148Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL),
      |dh AS (
      |  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM e),
      |kept AS (
      |  SELECT event_type, h FROM (
      |    SELECT event_type, h, ROW_NUMBER() OVER (
      |      PARTITION BY event_type ORDER BY h) AS rn FROM dh)
      |  WHERE rn <= 64),
      |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n FROM e GROUP BY 1),
      |pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.n AS n_a, b.n AS n_b
      |  FROM x a JOIN x b ON a.event_type < b.event_type),
      |uh AS (
      |  SELECT p.type_a, p.type_b, k.h,
      |    MAX(CASE WHEN k.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
      |    MAX(CASE WHEN k.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
      |  FROM pr p JOIN kept k ON k.event_type IN (p.type_a, p.type_b)
      |  GROUP BY 1, 2, 3),
      |mk AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY type_a, type_b ORDER BY h) AS rn FROM uh),
      |sk AS (
      |  SELECT type_a, type_b, COUNT(*) AS n_kept, MAX(h) AS uk,
      |    SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS matches
      |  FROM mk WHERE rn <= 64 GROUP BY 1, 2),
      |duv AS (SELECT DISTINCT event_type, user_id FROM e),
      |ix AS (
      |  SELECT u.event_type AS type_a, v.event_type AS type_b,
      |    COUNT(*) AS n_inter
      |  FROM duv u JOIN duv v
      |    ON u.user_id = v.user_id AND u.event_type < v.event_type
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT p.type_a, p.type_b, p.n_a, p.n_b,
      |    COALESCE(ix.n_inter, 0) AS n_inter,
      |    p.n_a + p.n_b - COALESCE(ix.n_inter, 0) AS n_union,
      |    sk.n_kept, sk.matches,
      |    CASE WHEN sk.n_kept < 64 THEN CAST(sk.n_kept AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.uk, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS union_est,
      |    CAST(sk.matches AS DOUBLE) / CAST(sk.n_kept AS DOUBLE) AS jaccard_est
      |  FROM pr p
      |    JOIN sk ON sk.type_a = p.type_a AND sk.type_b = p.type_b
      |    LEFT JOIN ix ON ix.type_a = p.type_a AND ix.type_b = p.type_b)
      |SELECT type_a, type_b, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(n_inter AS BIGINT) AS n_inter,
      |  CAST(n_union AS BIGINT) AS n_union, CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(matches AS BIGINT) AS matches, union_est,
      |  jaccard_est * union_est AS inter_est, jaccard_est,
      |  CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_exact,
      |  (union_est - CAST(n_union AS DOUBLE)) / CAST(n_union AS DOUBLE)
      |    AS union_rel_err
      |FROM j ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------------------------------
  // q149 — PRIORITY SAMPLING (Duffield-Lund-Thorup 2007): per-source
  // weighted sample-without-replacement of documents, weight = token
  // count — the sampling primitive a training-data pipeline needs for
  // weighted corpus mixing and for estimating any subset-sum (token
  // budgets per filter) from a tiny sample. Each doc's priority is
  // w/u with u a deterministic md5 uniform; the sample is the k largest
  // priorities, τ the (k+1)-th, and Σ max(w_i, τ) over the sample is an
  // unbiased estimator of Σ w (reported against the exact anchor).
  //
  // Cross-engine exactness BY CONSTRUCTION: priority =
  // w · 2^48 / (h48+1) — the product is exact (w < 2^53-48 shifts the
  // significand only) and the division is one correctly-rounded IEEE op,
  // so both engines rank identical doubles; no ln/pow anywhere (the
  // Efraimidis-Spirakis u^(1/w) key would put a transcendental in the
  // rank predicate — same sample semantics, unverifiable hash). The
  // estimator Σ max(w_i, τ) is evaluated as Σ_{w≥τ} w + τ·|{w<τ}| —
  // an exact integer sum plus ONE product — so it is order-independent.
  //
  // 100 TB shape: [[graft.functions.PrioritySample]] is a bounded top-k
  // TypedImperativeAggregate (the KmvSketch pattern): each task keeps
  // k+1 candidates as a live object buffer and the exchange carries one
  // O(k) sample per (task, source) — the window-rank formulation the
  // oracle uses (full per-source sort) never executes on the Spark side.
  // ------------------------------------------------------------------
  private val PsK = 16

  def q149PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("w", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("h48",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("priority",
        col("w").cast("double") * lit(281474976710656.0) // 2^48, exact product
          / (col("h48") + lit(1L)).cast("double"))
    docs.groupBy(col("source"))
      .agg(
        graft.functions.PrioritySampleAgg.prioritySample(spark,
          col("doc_id").cast("string"), col("w"), col("priority"), PsK + 1).as("top"),
        count(lit(1)).as("n_docs"),
        sum(col("w")).as("total_tokens"))
      .withColumn("tau",
        when(size(col("top")) > PsK,
          element_at(col("top"), PsK + 1).getField("priority"))
          .otherwise(lit(0.0)))
      .withColumn("sample", slice(col("top"), 1, PsK))
      .withColumn("sum_big",
        expr("aggregate(filter(sample, s -> CAST(s.w AS DOUBLE) >= tau), CAST(0 AS BIGINT), (a, s) -> a + s.w)"))
      .withColumn("n_small",
        expr("size(filter(sample, s -> CAST(s.w AS DOUBLE) < tau))"))
      .withColumn("est_total_tokens",
        col("sum_big").cast("double") + col("tau") * col("n_small").cast("double"))
      .select(col("source"), posexplode(col("sample")).as(Seq("pos", "s")),
        col("n_docs"), col("total_tokens"), col("tau"), col("est_total_tokens"))
      .select(col("source"), (col("pos") + 1).as("rnk"),
        col("s.item").cast("long").as("doc_id"), col("s.w").as("n_tokens"),
        col("n_docs"), col("total_tokens"), col("tau"), col("est_total_tokens"),
        ((col("est_total_tokens") - col("total_tokens").cast("double"))
          / col("total_tokens").cast("double")).as("rel_err"))
      .orderBy(col("source"), col("rnk"))
  }

  val q149Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
      |    CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
      |      AS UBIGINT) AS BIGINT) AS h48
      |  FROM documents),
      |p AS (
      |  SELECT source, doc_id, w,
      |    CAST(w AS DOUBLE) * 281474976710656.0 / CAST(h48 + 1 AS DOUBLE)
      |      AS priority
      |  FROM d),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY source ORDER BY priority DESC, CAST(doc_id AS VARCHAR)) AS rnk
      |  FROM p),
      |s AS (SELECT source, COUNT(*) AS n_docs, SUM(w) AS total_tokens
      |  FROM p GROUP BY 1),
      |t AS (SELECT source,
      |    COALESCE(MAX(CASE WHEN rnk = 17 THEN priority END), 0.0) AS tau
      |  FROM r GROUP BY 1),
      |e AS (
      |  SELECT r.source,
      |    SUM(CASE WHEN CAST(r.w AS DOUBLE) >= t.tau THEN r.w ELSE 0 END)
      |      AS sum_big,
      |    SUM(CASE WHEN CAST(r.w AS DOUBLE) < t.tau THEN 1 ELSE 0 END)
      |      AS n_small
      |  FROM r JOIN t USING (source) WHERE r.rnk <= 16 GROUP BY 1)
      |SELECT r.source, CAST(r.rnk AS INT) AS rnk, r.doc_id,
      |  r.w AS n_tokens, CAST(s.n_docs AS BIGINT) AS n_docs,
      |  CAST(s.total_tokens AS BIGINT) AS total_tokens, t.tau,
      |  CAST(e.sum_big AS DOUBLE) + t.tau * CAST(e.n_small AS DOUBLE)
      |    AS est_total_tokens,
      |  (CAST(e.sum_big AS DOUBLE) + t.tau * CAST(e.n_small AS DOUBLE)
      |    - CAST(s.total_tokens AS DOUBLE)) / CAST(s.total_tokens AS DOUBLE)
      |    AS rel_err
      |FROM r JOIN s USING (source) JOIN t USING (source) JOIN e USING (source)
      |WHERE r.rnk <= 16
      |ORDER BY source, rnk""".stripMargin

  // ------------------------------------------------------------------
  // q152 — APPROXIMATE MODE as a session conf: the SAME SQL text runs
  // twice, once exact and once under spark.graft.approx.countDistinct
  // = true, where [[graft.plans.ApproxDistinctRewrite]] (a Catalyst
  // optimizer rule injected by GraftExtensions) rewrites every
  // COUNT(DISTINCT …) into the KMV sketch estimate — the
  // conf-switchable accuracy-for-cost trade of BigQuery/Snowflake/
  // Trino's APPROX_COUNT_DISTINCT, without touching the query text.
  // The approximate run sets the flag in its own clone of the session
  // ([[org.apache.spark.sql.graft.PinnedConf]]), never on the caller's,
  // so a concurrent exact COUNT(DISTINCT) stays exact; it is
  // materialized there (5 grouped rows — watermark-scalar precedent)
  // because the rule reads the conf at optimization time. The oracle
  // reproduces the rewrite's math: round((k−1)/u_k) above saturation,
  // the exact count below.
  // ------------------------------------------------------------------
  def q152ApproxRewrite(spark: SparkSession, dir: String): DataFrame = {
    // sessions built without GraftExtensions (Verify/Bench mains) get the
    // rule injected dynamically; re-adding is guarded, and the rule
    // no-ops with the flag off, so extension-built sessions are unharmed
    if (!spark.experimental.extraOptimizations.contains(graft.plans.ApproxDistinctRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.ApproxDistinctRewrite
    Tables.events(spark, dir).filter(col("user_id").isNotNull)
      .createOrReplaceTempView("graft_q152_events")
    val sql = """SELECT event_type, count(DISTINCT user_id) AS n
                 FROM graft_q152_events GROUP BY event_type"""
    import spark.implicits._
    val approx = org.apache.spark.sql.graft.PinnedConf(spark.sql(sql),
        "spark.graft.approx.countDistinct" -> "true")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      .toDF("event_type", "n_approx")
    // production shape: the approx mode ALONE — the exact
    // COUNT(DISTINCT) run exists only as the gate's anchor
    if (!anchorsOn(spark)) return approx.orderBy(col("event_type"))
    val exact = spark.sql(sql).withColumnRenamed("n", "n_exact")
    exact.join(approx, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_approx"),
        ((col("n_approx").cast("double") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
      .orderBy(col("event_type"))
  }

  val q152Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL),
      |dh AS (
      |  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM e),
      |r AS (
      |  SELECT event_type, h, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY h) AS rn FROM dh),
      |sk AS (
      |  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS hk
      |  FROM r WHERE rn <= 64 GROUP BY 1),
      |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      |  FROM e GROUP BY 1),
      |j AS (
      |  SELECT x.event_type, CAST(x.n_exact AS BIGINT) AS n_exact,
      |    CAST(ROUND(CASE WHEN sk.n_kept < 64 THEN CAST(sk.n_kept AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END)
      |      AS BIGINT) AS n_approx
      |  FROM x JOIN sk ON x.event_type = sk.event_type)
      |SELECT event_type, n_exact, n_approx,
      |  (CAST(n_approx AS DOUBLE) - CAST(n_exact AS DOUBLE))
      |    / CAST(n_exact AS DOUBLE) AS rel_err
      |FROM j ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q154 — THRESHOLD SAMPLING (the map-only member of the sampling
  // family): include a doc iff its priority w/u exceeds a per-source
  // threshold τ = total_w / target — expected sample size
  // Σ min(1, w/τ) ≈ target, inclusion probability min(1, w/τ), and
  // Σ max(w, τ) over the sample is the Horvitz-Thompson unbiased
  // estimate of Σ w (Duffield-Lund-Thorup's fixed-THRESHOLD variant of
  // q149's fixed-k scheme). Where q149 needs a bounded top-k aggregate
  // and q153 streaming state, this needs NOTHING: one slim per-source
  // total (broadcast) and then a map-side FILTER — the cheapest shape
  // a 100 TB corpus admits, at the cost of a random (expected, not
  // exact) sample size. Inclusion predicate is exact integer/IEEE
  // arithmetic: u = (h48+1)/2^48, include iff w > τ·u, evaluated as
  // w·2^48 > τ·(h48+1) — one exact product and one correctly-rounded
  // multiply per side, byte-deterministic cross-engine.
  // ------------------------------------------------------------------
  private val TsTarget = 24.0

  def q154ThresholdSample(spark: SparkSession, dir: String): DataFrame = {
    // slim (no text) and cached: the tokenize+hash pass feeds BOTH the
    // totals aggregate and the filter branch — uncached it runs twice
    // (measured 15.1 s -> see PLANS §r9; the frame is 4 slim columns)
    val docs = Tables.documents(spark, dir)
      .withColumn("w", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("h48",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
      .select(col("source"), col("doc_id"), col("w"), col("h48"))
      .cache().transform(graft.util.Checkpoints.track)
    val totals = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("total_tokens"))
      .withColumn("tau", col("total_tokens").cast("double") / lit(TsTarget))
    val sampled = docs.join(broadcast(totals), "source")
      // include iff w/u > tau  <=>  w * 2^48 > tau * (h48+1)
      .filter(col("w").cast("double") * lit(281474976710656.0)
        > col("tau") * (col("h48") + lit(1L)).cast("double"))
    val perSource = sampled.groupBy(col("source")).agg(
      count(lit(1)).as("n_sampled"),
      sum(when(col("w").cast("double") >= col("tau"), col("w")).otherwise(0L))
        .as("sum_big"),
      sum(when(col("w").cast("double") < col("tau"), 1L).otherwise(0L))
        .as("n_small"))
    sampled.select(col("source"), col("doc_id"), col("w").as("n_tokens"))
      .join(perSource, "source").join(broadcast(totals), "source")
      .withColumn("est_total_tokens",
        col("sum_big").cast("double") + col("tau") * col("n_small").cast("double"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("n_docs"), col("total_tokens"), col("tau"), col("n_sampled"),
        col("est_total_tokens"),
        ((col("est_total_tokens") - col("total_tokens").cast("double"))
          / col("total_tokens").cast("double")).as("rel_err"))
      .orderBy(col("source"), col("doc_id"))
  }

  val q154Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
      |    CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
      |      AS UBIGINT) AS BIGINT) AS h48
      |  FROM documents),
      |t AS (
      |  SELECT source, COUNT(*) AS n_docs, SUM(w) AS total_tokens,
      |    CAST(SUM(w) AS DOUBLE) / 24.0 AS tau
      |  FROM d GROUP BY 1),
      |sm AS (
      |  SELECT d.source, d.doc_id, d.w, t.n_docs, t.total_tokens, t.tau
      |  FROM d JOIN t USING (source)
      |  WHERE CAST(d.w AS DOUBLE) * 281474976710656.0
      |        > t.tau * CAST(d.h48 + 1 AS DOUBLE)),
      |ps AS (
      |  SELECT source, COUNT(*) AS n_sampled,
      |    SUM(CASE WHEN CAST(w AS DOUBLE) >= tau THEN w ELSE 0 END) AS sum_big,
      |    SUM(CASE WHEN CAST(w AS DOUBLE) < tau THEN 1 ELSE 0 END) AS n_small
      |  FROM sm GROUP BY 1)
      |SELECT sm.source, sm.doc_id, sm.w AS n_tokens,
      |  CAST(sm.n_docs AS BIGINT) AS n_docs,
      |  CAST(sm.total_tokens AS BIGINT) AS total_tokens, sm.tau,
      |  CAST(ps.n_sampled AS BIGINT) AS n_sampled,
      |  CAST(ps.sum_big AS DOUBLE) + sm.tau * CAST(ps.n_small AS DOUBLE)
      |    AS est_total_tokens,
      |  (CAST(ps.sum_big AS DOUBLE) + sm.tau * CAST(ps.n_small AS DOUBLE)
      |    - CAST(sm.total_tokens AS DOUBLE)) / CAST(sm.total_tokens AS DOUBLE)
      |    AS rel_err
      |FROM sm JOIN ps USING (source)
      |ORDER BY sm.source, sm.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q157 — JOIN-SIZE ESTIMATION FROM SKETCHES (join synopses, Acharya
  // et al. 1999; the CBO primitive behind "which join order"): estimate
  // |A ⋈_user B| between event types WITHOUT running the join. The
  // bottom-k kept set is a uniform sample of the DISTINCT key union, so
  // with per-kept-key frequencies attached, Σ f_A·f_B over the matched
  // kept keys, scaled by (union Ĥ/|K|), is an unbiased estimate of the
  // true join size Σ_u f_A(u)·f_B(u). Saturated pairs are EXACT (the
  // sample is the whole key union). Everything after the one
  // per-(type, hash) count shuffle is KB-sized; the exact anchor pays
  // the real key-join the estimator exists to avoid. Determinism: the
  // product sum is exact integer arithmetic over ≤k terms; the scale
  // factor is two IEEE ops in identical order cross-engine.
  // ------------------------------------------------------------------
  def q157JoinSizeEst(spark: SparkSession, dir: String): DataFrame = {
    // the per-pair estimator over per-type kept sets with frequencies —
    // KB-sized regardless of where keptFreq came from (feed or table)
    def pairsFrom(keptFreq: DataFrame): DataFrame =
      keptFreq.as("a").join(keptFreq.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          col("a.ks").as("ka"), col("b.ks").as("kb"),
          col("a.fm").as("fa"), col("b.fm").as("fb"))
        .withColumn("ku",
          slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, KmvK.toInt))
        .withColumn("n_kept", size(col("ku")).cast("long"))
        .withColumn("uk", element_at(col("ku"), size(col("ku"))))
        .withColumn("matched",
          expr("filter(ku, h -> array_contains(ka, h) AND array_contains(kb, h))"))
        .withColumn("matches", size(col("matched")).cast("long"))
        // exact integer product sum over the <= k matched keys
        .withColumn("psum",
          expr("aggregate(matched, CAST(0 AS BIGINT), (acc, h) -> acc + fa[h] * fb[h])"))
        .withColumn("union_est",
          kmvEstimate(col("n_kept"), col("uk"), KmvK, col("n_kept").cast("double")))
        .withColumn("join_est",
          col("union_est") / col("n_kept").cast("double") * col("psum").cast("double"))
    if (!anchorsOn(spark)) {
      // production shape (r11 key tier): the per-type (hash, frequency)
      // kept sets come from the MAINTAINED table's ksf bundle — daily
      // partials merged through the count-weighted aggregate, counts
      // exact by downward-closure — so the whole estimate is KB of
      // table reads; the corpus-scale per-(type, key) count shuffle
      // the pre-table shape paid (sf10 ~13 s, count-bound both modes,
      // PLANS §r11) never runs, and neither does the real key join
      // the merge itself lives in KmvTable.mergedKeyFreq at the table's
      // own k; the pair estimator below slices unions at KmvK — the two
      // constants must agree or table-served kept sets stop matching
      // the feed-built ones (k-coupling made loud, self-review r11)
      require(KmvK.toInt == KmvTable.K,
        s"q157 estimator k ($KmvK) != sketch-table k (${KmvTable.K})")
      val tableKept = KmvTable.mergedKeyFreq(spark, dir)
        .select(col("event_type"),
          expr("map_from_entries(transform(ksf, x -> struct(x.h, x.c)))").as("fm"),
          expr("transform(ksf, x -> x.h)").as("ks"))
      return pairsFrom(tableKept)
        .select(col("type_a"), col("type_b"), col("n_kept"),
          col("matches"), col("psum"), col("union_est"), col("join_est"))
        .orderBy(col("type_a"), col("type_b"))
    }
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
    // the one corpus-scale shuffle: per-(type, key) frequencies
    val freq = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
      .cache().transform(graft.util.Checkpoints.track) // feeds kept-join + exact anchor
    val kept = freq.groupBy(col("event_type"))
      .agg(graft.functions.KmvSketchAgg.kmvFull(spark, col("h"), KmvK.toInt).as("ks"))
    // frequencies for KEPT keys only (tiny: types x <= k rows)
    val keptFreq = kept.select(col("event_type"), explode(col("ks")).as("h"))
      .join(freq, Seq("event_type", "h"))
      .groupBy(col("event_type"))
      .agg(map_from_entries(collect_list(struct(col("h"), col("c")))).as("fm"),
        sort_array(collect_list(col("h"))).as("ks"))
    val pairs = pairsFrom(keptFreq)
    // exact anchor: the real key join the estimator avoids
    val exact = freq.as("x").join(freq.as("y"),
        col("x.h") === col("y.h") && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(sum(col("x.c") * col("y.c")).as("n_join_exact"))
    pairs.join(exact, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_join_exact"))
      .select(col("type_a"), col("type_b"), col("n_join_exact"),
        col("n_kept"), col("matches"), col("psum"), col("union_est"),
        col("join_est"),
        ((col("join_est") - col("n_join_exact").cast("double"))
          / col("n_join_exact").cast("double")).as("rel_err"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q157's CTE chain, shared with q158 (which ranks the same
    * estimates into an order decision). */
  private val q157Ctes: String =
    """WITH e AS (
      |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |f AS (SELECT event_type, h, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |kept AS (
      |  SELECT event_type, h, c FROM (
      |    SELECT f.event_type, f.h, f.c, ROW_NUMBER() OVER (
      |      PARTITION BY f.event_type ORDER BY f.h) AS rn FROM f)
      |  WHERE rn <= 64),
      |pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b
      |  FROM (SELECT DISTINCT event_type FROM f) a
      |    JOIN (SELECT DISTINCT event_type FROM f) b
      |    ON a.event_type < b.event_type),
      |uh AS (
      |  SELECT p.type_a, p.type_b, k.h,
      |    MAX(CASE WHEN k.event_type = p.type_a THEN k.c END) AS ca,
      |    MAX(CASE WHEN k.event_type = p.type_b THEN k.c END) AS cb
      |  FROM pr p JOIN kept k ON k.event_type IN (p.type_a, p.type_b)
      |  GROUP BY 1, 2, 3),
      |mk AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY type_a, type_b ORDER BY h) AS rn FROM uh),
      |sk AS (
      |  SELECT type_a, type_b, COUNT(*) AS n_kept, MAX(h) AS uk,
      |    SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END)
      |      AS matches,
      |    COALESCE(SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
      |      THEN ca * cb ELSE 0 END), 0) AS psum
      |  FROM mk WHERE rn <= 64 GROUP BY 1, 2),
      |ex AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    SUM(x.c * y.c) AS n_join_exact
      |  FROM f x JOIN f y ON x.h = y.h AND x.event_type < y.event_type
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT sk.type_a, sk.type_b,
      |    COALESCE(ex.n_join_exact, 0) AS n_join_exact,
      |    sk.n_kept, sk.matches, sk.psum,
      |    CASE WHEN sk.n_kept < 64 THEN CAST(sk.n_kept AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.uk, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS union_est
      |  FROM sk LEFT JOIN ex
      |    ON ex.type_a = sk.type_a AND ex.type_b = sk.type_b)""".stripMargin

  val q157Sql: String = q157Ctes + "\n" +
    """SELECT type_a, type_b, CAST(n_join_exact AS BIGINT) AS n_join_exact,
      |  CAST(n_kept AS BIGINT) AS n_kept, CAST(matches AS BIGINT) AS matches,
      |  CAST(psum AS BIGINT) AS psum, union_est,
      |  union_est / CAST(n_kept AS DOUBLE) * CAST(psum AS DOUBLE) AS join_est,
      |  (union_est / CAST(n_kept AS DOUBLE) * CAST(psum AS DOUBLE)
      |    - CAST(n_join_exact AS DOUBLE)) / CAST(n_join_exact AS DOUBLE)
      |    AS rel_err
      |FROM j ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------------------------------
  // q158 — THE SYNOPSIS CONSUMED: the q157 join-size estimates turned
  // into the decision a cost-based planner actually makes — WHICH JOIN
  // RUNS FIRST. Every candidate pair is ranked by its sketch-estimated
  // join size and, as the gate's anchor, by its true join size; the
  // oracled claim is rank parity (order_agrees): the KB-sized synopsis
  // picks the same schedule the exact sizes would, without executing
  // any join. The rank windows run over the pairs frame (types², KB) —
  // driver-scale planner work, exactly where a synopsis lives.
  // SynopsisCboSpec extends the claim off-corpus: parity with Spark's
  // ANALYZE-stats CBO order on a 3-table chain, superiority under
  // frequency skew that NDV-uniform stats provably cannot see, and
  // graft.plans.SketchBroadcastHint turning a registered synopsis
  // estimate into an automatic BROADCAST hint.
  // ------------------------------------------------------------------
  def q158SynopsisOrder(spark: SparkSession, dir: String): DataFrame = {
    val base = q157JoinSizeEst(spark, dir)
    val wEst = Window.orderBy(col("join_est").asc, col("type_a").asc,
      col("type_b").asc)
    if (!anchorsOn(spark)) {
      // production shape: the schedule alone, from the synopsis alone
      return base.withColumn("est_rank", row_number().over(wEst))
        .select(col("type_a"), col("type_b"), col("join_est"),
          col("est_rank"))
        .orderBy(col("type_a"), col("type_b"))
    }
    val wExact = Window.orderBy(col("n_join_exact").asc, col("type_a").asc,
      col("type_b").asc)
    base.withColumn("est_rank", row_number().over(wEst))
      .withColumn("exact_rank", row_number().over(wExact))
      .select(col("type_a"), col("type_b"), col("join_est"),
        col("n_join_exact"), col("est_rank"), col("exact_rank"),
        (col("est_rank") === col("exact_rank")).as("order_agrees"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q158Sql: String = q157Ctes + "\n" +
    """, fin AS (
      |  SELECT type_a, type_b,
      |    union_est / CAST(n_kept AS DOUBLE) * CAST(psum AS DOUBLE)
      |      AS join_est,
      |    CAST(n_join_exact AS BIGINT) AS n_join_exact
      |  FROM j)
      |SELECT type_a, type_b, join_est, n_join_exact,
      |  CAST(ROW_NUMBER() OVER (ORDER BY join_est, type_a, type_b) AS INT)
      |    AS est_rank,
      |  CAST(ROW_NUMBER() OVER (ORDER BY n_join_exact, type_a, type_b) AS INT)
      |    AS exact_rank,
      |  (ROW_NUMBER() OVER (ORDER BY join_est, type_a, type_b) =
      |   ROW_NUMBER() OVER (ORDER BY n_join_exact, type_a, type_b))
      |    AS order_agrees
      |FROM fin ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------------------------------
  // q159 — QUANTILE SKETCH (the bounded-aggregate contract's quantile
  // member, r9 verdict #3): per event type, the p ∈ {.25, .5, .75, .9}
  // quantiles of the value (exact cents) estimated from a bottom-k-by-
  // md5(event_id) UNIFORM row sample with values attached
  // ([[graft.functions.QuantileSketch]], k = 256) — the KMV trick
  // applied to rank estimation. The kept rows are a uniform without-
  // replacement sample (equal Horvitz-Thompson weights), so the
  // estimate is the kept values' empirical quantile: the value at
  // position ⌈p·m⌉ ordered by (value, hash) — ELEMENT SELECTION, no
  // float arithmetic, hence deterministic and hash-verifiable
  // cross-engine, which t-digest/KLL (merge-order-dependent float
  // centroids) can never be. Saturated groups (< k rows) are exact at
  // every p. Rank error ~1/√k ≈ 6%. The exact anchor pays the full
  // per-group sort (the oracle's window-rank formulation) that the
  // O(k) sketch exists to avoid; the profiling pass (q100/q107) gets
  // its bounded-memory quantiles from the same aggregate. Streaming
  // form: q160 (one state row per group); table/merge forms inherit
  // from the shared contract (QuantileSpec pins associativity and the
  // exchange bound exactly as KmvSpec does for q139).
  // ------------------------------------------------------------------
  private val QsK = 256
  private val QsPs = Seq(0.25, 0.5, 0.75, 0.9)

  /** Quantile extraction from a kept-sample column `smp`
    * (array<struct<h, v>>, the [[graft.functions.QuantileSketch]]
    * storage form): per input row, one output row per p with `q_est` =
    * the element at ⌈p·m⌉ of the kept values re-keyed (value, hash) —
    * ELEMENT SELECTION, no float arithmetic on values. Shared by
    * q159/q160/q161 so the rank rule (ceil position, (v, h) tie order)
    * lives exactly once; the SQL oracles repeat it per query by design.
    */
  private[graft] def sampleQuantiles(
      df: DataFrame, keys: Seq[String], ps: Seq[Double]): DataFrame = {
    val kc = keys.map(col)
    df.select(kc ++ Seq(size(col("smp")).cast("long").as("n_kept"),
        array_sort(expr("transform(smp, s -> struct(s.v AS v, s.h AS h))"))
          .as("byv")): _*)
      // structural guard: an empty kept set has no quantiles, and
      // element_at(byv, ceil(p·0)=0) is an unconditional runtime error
      // in Spark — callers exclude empty groups by population
      // definition, but the rank pick must be total anyway
      .filter(col("n_kept") > 0)
      .select(kc ++ Seq(col("n_kept"),
        explode(array(ps.map(lit): _*)).as("p"), col("byv")): _*)
      .withColumn("q_est",
        element_at(col("byv"),
          ceil(col("p") * col("n_kept").cast("double")).cast("int"))
          .getField("v"))
      .drop("byv")
  }

  /** The exact-anchor twin of [[sampleQuantiles]]: full per-group
    * (value, hash) sort + rank pick over a frame with `(keys..., h, v)`
    * columns — quantile at ⌈p·n⌉ by (v, h), the one rank rule all of
    * q159/q161/q163 share (kept in ONE place so the ceil position,
    * tie order, and int cast cannot drift between anchors; the SQL
    * oracles repeat it by design). Returns `(keys..., p, n_rows,
    * q_exact)`. This is the corpus-scale cost the sample path avoids —
    * only anchored gate queries ever call it. */
  private[graft] def exactQuantiles(
      df: DataFrame, keys: Seq[String], ps: Seq[Double]): DataFrame = {
    val kc = keys.map(col)
    val wv = Window.partitionBy(kc: _*).orderBy(col("v"), col("h"))
    val ranked = df.withColumn("vr", row_number().over(wv))
    val targets = df.groupBy(kc: _*)
      .agg(count(lit(1)).as("n_rows"))
      .select(kc ++ Seq(col("n_rows"),
        explode(array(ps.map(lit): _*)).as("p")): _*)
      .withColumn("vr",
        ceil(col("p") * col("n_rows").cast("double")).cast("int"))
    ranked.join(broadcast(targets), keys :+ "vr")
      .select(kc ++ Seq(col("p"), col("n_rows"), col("v").as("q_exact")): _*)
  }

  def q159QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    // event_id is the row identity the sample hashes on: a NULL id has
    // no hash, the sketch aggregate skips it, so the frame excludes it
    // EXPLICITLY — otherwise DuckDB's NULLS-LAST rank would keep such
    // rows in the oracle's bottom-64 while Spark's kept set never sees
    // them (self-review r11; fixture-neutral, semantics pinned)
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"),
        md5(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
    val sk = base.groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketchAgg.qsketch(
        spark, col("h"), col("v"), QsK).as("smp"))
    val est = sampleQuantiles(sk, Seq("event_type"), QsPs)
    if (!anchorsOn(spark)) {
      // production shape: one corpus pass (the bounded sketch partial
      // aggregate), quantiles off the O(k) sample — no full sort
      return est.select(col("event_type"), col("p"), col("n_kept"),
          col("q_est"))
        .orderBy(col("event_type"), col("p"))
    }
    // exact anchor: the full per-group (value, hash) sort + rank pick
    val exact = exactQuantiles(base, Seq("event_type"), QsPs)
    est.join(exact, Seq("event_type", "p"))
      .select(col("event_type"), col("p"), col("n_rows"), col("n_kept"),
        col("q_est"), col("q_exact"),
        ((col("q_est") - col("q_exact")).cast("double")
          / when(col("q_exact") === 0, lit(1L)).otherwise(col("q_exact"))
              .cast("double")).as("rel_err"))
      .orderBy(col("event_type"), col("p"))
  }

  val q159Sql: String =
    """WITH e AS (
      |  SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS h,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      |r AS (
      |  SELECT event_type, h, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY h) AS rn FROM e),
      |smp AS (SELECT event_type, h, v FROM r WHERE rn <= 256),
      |sn AS (SELECT event_type, COUNT(*) AS n_kept FROM smp GROUP BY 1),
      |sv AS (
      |  SELECT event_type, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY v, h) AS vr FROM smp),
      |ps AS (SELECT CAST(UNNEST([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p),
      |est AS (
      |  SELECT sv.event_type, ps.p, sn.n_kept, sv.v AS q_est
      |  FROM sv JOIN sn ON sv.event_type = sn.event_type
      |    JOIN ps ON sv.vr =
      |      CAST(CEIL(ps.p * CAST(sn.n_kept AS DOUBLE)) AS BIGINT)),
      |xc AS (SELECT event_type, COUNT(*) AS n_rows FROM e GROUP BY 1),
      |xr AS (
      |  SELECT event_type, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY v, h) AS vr FROM e),
      |ex AS (
      |  SELECT xr.event_type, ps.p, xc.n_rows, xr.v AS q_exact
      |  FROM xr JOIN xc ON xr.event_type = xc.event_type
      |    JOIN ps ON xr.vr =
      |      CAST(CEIL(ps.p * CAST(xc.n_rows AS DOUBLE)) AS BIGINT))
      |SELECT est.event_type AS event_type, est.p AS p,
      |  CAST(ex.n_rows AS BIGINT) AS n_rows,
      |  CAST(est.n_kept AS BIGINT) AS n_kept, est.q_est, ex.q_exact,
      |  CAST(est.q_est - ex.q_exact AS DOUBLE)
      |    / CAST(CASE WHEN ex.q_exact = 0 THEN 1 ELSE ex.q_exact END AS DOUBLE)
      |    AS rel_err
      |FROM est JOIN ex
      |  ON est.event_type = ex.event_type AND est.p = ex.p
      |ORDER BY event_type, p""".stripMargin

  // ------------------------------------------------------------------
  // q161 — ROLLING QUANTILES FROM A DAILY SAMPLE TABLE: the q146
  // union-and-resketch pattern applied to the quantile member — the
  // "table/merge forms fall out of the shared contract" claim as an
  // oracled query rather than prose. The corpus is touched once (the
  // per-(type, day) bottom-k-by-md5(event_id) value sample, k = 64);
  // every 7-day rolling window is then answered from the KB-sized
  // daily samples: row identities are globally unique, so per-day kept
  // sets are disjoint and bottom-k of their union IS the window's true
  // bottom-k sample — merge = re-sketching the exploded samples,
  // exactly the q146 law with values riding along. Quantiles are
  // element selection (⌈p·m⌉ by (value, hash)) from the merged sample;
  // windows under k rows are exact. The exact anchor pays the 7×
  // fan-out re-scan + full per-window sort the table path avoids.
  // ------------------------------------------------------------------
  private val QrK = 64
  private val QrPs = Seq(0.5, 0.9)

  def q161QuantileRolling(spark: SparkSession, dir: String): DataFrame = {
    // the ONE corpus pass lives in the MAINTAINED table (r10 verdict
    // #7): the per-(type, day) bottom-k-by-md5(event_id) value sample
    // is the `smp` column of [[KmvTable]] — produced by the same
    // maintenance scan that builds the KMV kept sets (one scan per
    // feed file EVER, shared by both sketch families), durable across
    // JVMs, and appends pay only the new files. This query builds no
    // daily sample of its own in either mode; the identical aggregate
    // definition makes table-served and in-query daily samples
    // byte-equal, so the oracle is unchanged.
    val daily = KmvTable.quantileView(spark, dir)
    // rolling merge over the TABLE (tiny): 7-day union, re-sample
    val target = daily.select(col("event_type"), col("d"))
    val merged = target.as("t")
      .join(daily.as("s"),
        col("t.event_type") === col("s.event_type") &&
        col("s.d").between(date_sub(col("t.d"), 6), col("t.d")))
      .select(col("t.event_type").as("event_type"), col("t.d").as("d"),
        expr("inline(s.smp)"))
      .groupBy(col("event_type"), col("d"))
      .agg(graft.functions.QuantileSketchAgg.qsketch(
        spark, col("h"), col("v"), QrK).as("smp"))
    val est = sampleQuantiles(merged, Seq("event_type", "d"), QrPs)
    if (!anchorsOn(spark)) {
      // production shape: whole query served from the maintained
      // table — no events scan at all when the table is fresh
      // (SketchAnchorsSpec pins the scan set)
      return est.select(col("event_type"), col("d"), col("p"),
          col("n_kept"), col("q_est"))
        .orderBy(col("event_type"), col("d"), col("p"))
    }
    // exact anchor: the 7× fan-out window re-scan + full sort per
    // window — the only place this query touches the feed (NULL
    // event_id excluded: no row identity, no sample membership — the
    // q159 guard, same reason)
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        md5(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
    val win = base.select(col("event_type"), col("d")).distinct().as("t")
      .join(base.as("s"),
        col("t.event_type") === col("s.event_type") &&
        col("s.d").between(date_sub(col("t.d"), 6), col("t.d")))
      .select(col("t.event_type").as("event_type"), col("t.d").as("d"),
        col("s.h").as("h"), col("s.v").as("v"))
    val exact = exactQuantiles(win, Seq("event_type", "d"), QrPs)
    est.join(exact, Seq("event_type", "d", "p"))
      .select(col("event_type"), col("d"), col("p"), col("n_rows"),
        col("n_kept"), col("q_est"), col("q_exact"),
        ((col("q_est") - col("q_exact")).cast("double")
          / when(col("q_exact") === 0, lit(1L)).otherwise(col("q_exact"))
              .cast("double")).as("rel_err"))
      .orderBy(col("event_type"), col("d"), col("p"))
  }

  val q161Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    md5(CAST(event_id AS VARCHAR)) AS h,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      |dr AS (
      |  SELECT event_type, d, h, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, d ORDER BY h) AS rn FROM e),
      |daily AS (SELECT event_type, d, h, v FROM dr WHERE rn <= 64),
      |tw AS (SELECT DISTINCT event_type, d FROM daily),
      |uni AS (
      |  SELECT t.event_type, t.d, s.h, s.v
      |  FROM tw t JOIN daily s ON s.event_type = t.event_type
      |    AND s.d BETWEEN t.d - 6 AND t.d),
      |mr AS (
      |  SELECT event_type, d, h, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, d ORDER BY h) AS rn FROM uni),
      |smp AS (SELECT event_type, d, h, v FROM mr WHERE rn <= 64),
      |sn AS (SELECT event_type, d, COUNT(*) AS n_kept FROM smp GROUP BY 1, 2),
      |sv AS (
      |  SELECT event_type, d, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, d ORDER BY v, h) AS vr FROM smp),
      |ps AS (SELECT CAST(UNNEST([0.5, 0.9]) AS DOUBLE) AS p),
      |est AS (
      |  SELECT sv.event_type, sv.d, ps.p, sn.n_kept, sv.v AS q_est
      |  FROM sv JOIN sn ON sv.event_type = sn.event_type AND sv.d = sn.d
      |    JOIN ps ON sv.vr =
      |      CAST(CEIL(ps.p * CAST(sn.n_kept AS DOUBLE)) AS BIGINT)),
      |xw AS (
      |  SELECT t.event_type, t.d, s.h, s.v
      |  FROM (SELECT DISTINCT event_type, d FROM e) t
      |    JOIN e s ON s.event_type = t.event_type
      |    AND s.d BETWEEN t.d - 6 AND t.d),
      |xc AS (SELECT event_type, d, COUNT(*) AS n_rows FROM xw GROUP BY 1, 2),
      |xr AS (
      |  SELECT event_type, d, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, d ORDER BY v, h) AS vr FROM xw),
      |ex AS (
      |  SELECT xr.event_type, xr.d, ps.p, xc.n_rows, xr.v AS q_exact
      |  FROM xr JOIN xc ON xr.event_type = xc.event_type AND xr.d = xc.d
      |    JOIN ps ON xr.vr =
      |      CAST(CEIL(ps.p * CAST(xc.n_rows AS DOUBLE)) AS BIGINT))
      |SELECT est.event_type AS event_type, est.d AS d, est.p AS p,
      |  CAST(ex.n_rows AS BIGINT) AS n_rows,
      |  CAST(est.n_kept AS BIGINT) AS n_kept, est.q_est, ex.q_exact,
      |  CAST(est.q_est - ex.q_exact AS DOUBLE)
      |    / CAST(CASE WHEN ex.q_exact = 0 THEN 1 ELSE ex.q_exact END AS DOUBLE)
      |    AS rel_err
      |FROM est JOIN ex ON est.event_type = ex.event_type
      |  AND est.d = ex.d AND est.p = ex.p
      |ORDER BY event_type, d, p""".stripMargin

  // ------------------------------------------------------------------
  // q162 — SELF-JOIN SIZE / SECOND FREQUENCY MOMENT from the synopsis:
  // F₂ = Σ_u f(u)² per event type — the skew statistic a cost-based
  // planner uses for self-join and group-by costing (F₂/n² is the
  // collision probability; uniform keys give F₂ = n²/D, skewed keys
  // blow it up). Estimated from the SAME frequency-annotated bottom-k
  // synopsis as q157: the kept keys are a uniform sample of the
  // distinct keys, so F̂₂ = D̂/|K| · Σ_kept f² — and at saturation
  // (D ≤ k) the sample is the key set and the estimate is EXACT
  // (D̂ = |K| ⇒ scale 1). One corpus-scale count shuffle feeds the
  // sketch, the exact anchor (Σ f², Σ f, |keys| off the same frame —
  // no join executes anywhere), and the estimator; everything after is
  // types × k rows. Determinism: integer Σ f² both engines, one
  // division + one product in identical order.
  //
  // The hash is SALTED per group — md5(event_type || ':' || user_id),
  // r10 verdict #6: with the unsalted md5(user_id), every type's
  // bottom-k draws from the SAME hash assignment of the shared user
  // universe, so the per-type D̂ errors are one correlated draw (PLANS
  // r10 recorded sf10 rel_err dominated by a single shared 2.3σ draw
  // across all five types); salting makes the per-type estimates
  // independent at unchanged k. q157/q158 deliberately KEEP the shared
  // unsalted hash — the matched-key join estimator requires
  // COORDINATED sampling (kept-set intersections across types are the
  // signal there, and salting would destroy them); q162's per-type F₂
  // has no cross-type term, so it is free to decorrelate. That is why
  // the maintained table carries BOTH bundles (format-4): ksf serves
  // q157/q158, the salted kss serves this query — anchors-off, the
  // whole F₂ estimate is KB of table reads and the corpus-scale count
  // shuffle below runs only in the anchored gate shape.
  // ------------------------------------------------------------------
  def q162SelfJoinMoment(spark: SparkSession, dir: String): DataFrame = {
    if (!anchorsOn(spark)) {
      // production shape (r11 verdict #2): the per-type SALTED kept
      // sets WITH exact frequencies come from the maintained table's
      // kss bundle (format-4) — daily partials merged through the
      // count-weighted aggregate, counts exact by downward-closure —
      // so the per-(type, salted-key) count shuffle the pre-table
      // shape paid (sf10 ~12 s, the one sketch query still
      // corpus-bound after r11) never runs. Same k-coupling guard as
      // q157: the estimator's k and the table's must agree or the
      // table-served kept sets stop matching the feed-built ones.
      require(KmvK.toInt == KmvTable.K,
        s"q162 estimator k ($KmvK) != sketch-table k (${KmvTable.K})")
      return KmvTable.mergedSaltedFreq(spark, dir)
        .select(col("event_type"),
          size(col("kss")).cast("long").as("n_kept"),
          element_at(col("kss"), size(col("kss"))).getField("h").as("hk"),
          expr("aggregate(kss, 0L, (a, x) -> a + x.c * x.c)").as("sum_f2_kept"))
        .withColumn("d_est",
          kmvEstimate(col("n_kept"), col("hk"), KmvK, col("n_kept").cast("double")))
        .withColumn("f2_est",
          col("d_est") / col("n_kept").cast("double")
            * col("sum_f2_kept").cast("double"))
        .select(col("event_type"), col("n_kept"), col("sum_f2_kept"),
          col("d_est"), col("f2_est"))
        .orderBy(col("event_type"))
    }
    val freq = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"),
        md5(concat(col("event_type"), lit(":"),
          col("user_id").cast("string"))).as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
      .cache().transform(graft.util.Checkpoints.track)
    val kept = freq.groupBy(col("event_type"))
      .agg(graft.functions.KmvSketchAgg.kmvFull(spark, col("h"), KmvK.toInt).as("ks"))
      .select(col("event_type"), size(col("ks")).cast("long").as("n_kept"),
        element_at(col("ks"), size(col("ks"))).as("hk"), col("ks"))
    val sk = kept
      .select(col("event_type"), col("n_kept"), col("hk"),
        explode(col("ks")).as("h"))
      .join(freq, Seq("event_type", "h"))
      .groupBy(col("event_type"), col("n_kept"), col("hk"))
      .agg(sum(col("c") * col("c")).cast("long").as("sum_f2_kept"))
      .withColumn("d_est",
        kmvEstimate(col("n_kept"), col("hk"), KmvK, col("n_kept").cast("double")))
      .withColumn("f2_est",
        col("d_est") / col("n_kept").cast("double")
          * col("sum_f2_kept").cast("double"))
    val exact = freq.groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).cast("long").as("f2_exact"))
    sk.join(exact, "event_type")
      .select(col("event_type"), col("n_rows"), col("n_distinct"),
        col("n_kept"), col("sum_f2_kept"), col("d_est"), col("f2_est"),
        col("f2_exact"),
        ((col("f2_est") - col("f2_exact").cast("double"))
          / col("f2_exact").cast("double")).as("rel_err"))
      .orderBy(col("event_type"))
  }

  val q162Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    md5(event_type || ':' || CAST(user_id AS VARCHAR)) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |f AS (SELECT event_type, h, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, h, c, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY h) AS rn FROM f),
      |sk AS (
      |  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS hk,
      |    SUM(c * c) AS sum_f2_kept
      |  FROM r WHERE rn <= 64 GROUP BY 1),
      |x AS (
      |  SELECT event_type, SUM(c) AS n_rows, COUNT(*) AS n_distinct,
      |    SUM(c * c) AS f2_exact
      |  FROM f GROUP BY 1),
      |j AS (
      |  SELECT sk.event_type, CAST(x.n_rows AS BIGINT) AS n_rows,
      |    CAST(x.n_distinct AS BIGINT) AS n_distinct,
      |    CAST(sk.n_kept AS BIGINT) AS n_kept,
      |    CAST(sk.sum_f2_kept AS BIGINT) AS sum_f2_kept,
      |    CASE WHEN sk.n_kept < 64 THEN CAST(sk.n_kept AS DOUBLE)
      |      ELSE 63.0 /
      |        (CAST(GREATEST(CAST(CAST(('0x' || substring(sk.hk, 1, 12)) AS UBIGINT)
      |           AS BIGINT), 1) AS DOUBLE) / 281474976710656.0) END AS d_est,
      |    CAST(x.f2_exact AS BIGINT) AS f2_exact
      |  FROM sk JOIN x ON sk.event_type = x.event_type)
      |SELECT event_type, n_rows, n_distinct, n_kept, sum_f2_kept, d_est,
      |  d_est / CAST(n_kept AS DOUBLE) * CAST(sum_f2_kept AS DOUBLE)
      |    AS f2_est,
      |  f2_exact,
      |  (d_est / CAST(n_kept AS DOUBLE) * CAST(sum_f2_kept AS DOUBLE)
      |    - CAST(f2_exact AS DOUBLE)) / CAST(f2_exact AS DOUBLE) AS rel_err
      |FROM j ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q163 — QUANTILE DRIFT FROM THE MAINTAINED TABLE: the distribution-
  // monitoring operator a training-data pipeline runs continuously —
  // per event type, how far did the value distribution move between
  // the first and second half of the corpus days? (q112's snapshot
  // drift asked this about row counts; q163 asks it about the
  // distribution's shape.) Served ENTIRELY from the durable table's
  // daily quantile samples: per period, merging the daily kept sets
  // and re-taking bottom-k IS the period's true bottom-k sample (the
  // q161 disjointness law — row identities are unique, so per-day
  // kept sets are disjoint), and each period quantile is element
  // selection at ⌈p·m⌉ by (value, hash). shift = q_p2 − q_p1 in exact
  // integer cents — hash-verifiable drift. The period split is
  // data-derived but deterministic: midpoint = min_day + ⌊span/2⌋,
  // integer date arithmetic in both engines; types with a single day
  // are excluded (no second period to drift into). The exact anchor
  // pays the full per-(type, period) sort off the feed that the table
  // path avoids — anchors-off, this query never scans events at all
  // (SketchAnchorsSpec).
  // ------------------------------------------------------------------
  private val QdPs = Seq(0.25, 0.5, 0.75)

  def q163QuantileDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = KmvTable.quantileView(spark, dir)
    val bounds = daily.groupBy(col("event_type"))
      .agg(min(col("d")).as("mn"), max(col("d")).as("mx"),
        count(lit(1)).as("n_days"))
      .filter(col("n_days") >= 2)
      .withColumn("mid",
        expr("date_add(mn, cast(datediff(mx, mn) div 2 as int))"))
      .select(col("event_type"), col("mid"))
    val pd = daily.join(broadcast(bounds), "event_type")
      .withColumn("per", when(col("d") <= col("mid"), lit(1)).otherwise(lit(2)))
    val merged = pd.select(col("event_type"), col("per"), expr("inline(smp)"))
      .groupBy(col("event_type"), col("per"))
      .agg(graft.functions.QuantileSketchAgg.qsketch(
        spark, col("h"), col("v"), QrK).as("smp"))
    val est = sampleQuantiles(merged, Seq("event_type", "per"), QdPs)
    val wide = est.groupBy(col("event_type"), col("p"))
      .agg(max(when(col("per") === 1, col("n_kept"))).as("n_p1"),
        max(when(col("per") === 2, col("n_kept"))).as("n_p2"),
        max(when(col("per") === 1, col("q_est"))).as("q_p1"),
        max(when(col("per") === 2, col("q_est"))).as("q_p2"))
      .withColumn("shift_est", col("q_p2") - col("q_p1"))
    if (!anchorsOn(spark)) {
      // production shape: whole query from the KB-sized table
      return wide.select(col("event_type"), col("p"), col("n_p1"),
          col("n_p2"), col("q_p1"), col("q_p2"), col("shift_est"))
        .orderBy(col("event_type"), col("p"))
    }
    // exact anchor: the full per-(type, period) sort off the feed
    // (NULL event_id excluded — the q159 guard, same reason)
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        md5(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
    val xpd = base.join(broadcast(bounds), "event_type")
      .withColumn("per", when(col("d") <= col("mid"), lit(1)).otherwise(lit(2)))
      .select(col("event_type"), col("per"), col("h"), col("v"))
    val exact = exactQuantiles(xpd, Seq("event_type", "per"), QdPs)
    val xwide = exact.groupBy(col("event_type"), col("p"))
      .agg(max(when(col("per") === 1, col("q_exact"))).as("x_p1"),
        max(when(col("per") === 2, col("q_exact"))).as("x_p2"))
      .withColumn("shift_exact", col("x_p2") - col("x_p1"))
    wide.join(xwide, Seq("event_type", "p"))
      .select(col("event_type"), col("p"), col("n_p1"), col("n_p2"),
        col("q_p1"), col("q_p2"), col("shift_est"),
        col("x_p1"), col("x_p2"), col("shift_exact"),
        (col("shift_est") - col("shift_exact")).as("shift_err"))
      .orderBy(col("event_type"), col("p"))
  }

  val q163Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    md5(CAST(event_id AS VARCHAR)) AS h,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      |dr AS (
      |  SELECT event_type, d, h, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, d ORDER BY h) AS rn FROM e),
      |daily AS (SELECT event_type, d, h, v FROM dr WHERE rn <= 64),
      |bmid AS (
      |  SELECT event_type, mn + CAST((mx - mn) // 2 AS INTEGER) AS mid FROM (
      |    SELECT event_type, MIN(d) AS mn, MAX(d) AS mx
      |    FROM (SELECT DISTINCT event_type, d FROM e)
      |    GROUP BY 1 HAVING COUNT(*) >= 2)),
      |pd AS (
      |  SELECT daily.event_type,
      |    CASE WHEN daily.d <= b.mid THEN 1 ELSE 2 END AS per,
      |    daily.h, daily.v
      |  FROM daily JOIN bmid b ON daily.event_type = b.event_type),
      |mr AS (
      |  SELECT event_type, per, h, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, per ORDER BY h) AS rn FROM pd),
      |smp AS (SELECT event_type, per, h, v FROM mr WHERE rn <= 64),
      |sn AS (SELECT event_type, per, COUNT(*) AS n_kept FROM smp GROUP BY 1, 2),
      |sv AS (
      |  SELECT event_type, per, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, per ORDER BY v, h) AS vr FROM smp),
      |ps AS (SELECT CAST(UNNEST([0.25, 0.5, 0.75]) AS DOUBLE) AS p),
      |est AS (
      |  SELECT sv.event_type, sv.per, ps.p, sn.n_kept, sv.v AS q_est
      |  FROM sv JOIN sn ON sv.event_type = sn.event_type AND sv.per = sn.per
      |    JOIN ps ON sv.vr =
      |      CAST(CEIL(ps.p * CAST(sn.n_kept AS DOUBLE)) AS BIGINT)),
      |wide AS (
      |  SELECT event_type, p,
      |    CAST(MAX(CASE WHEN per = 1 THEN n_kept END) AS BIGINT) AS n_p1,
      |    CAST(MAX(CASE WHEN per = 2 THEN n_kept END) AS BIGINT) AS n_p2,
      |    MAX(CASE WHEN per = 1 THEN q_est END) AS q_p1,
      |    MAX(CASE WHEN per = 2 THEN q_est END) AS q_p2
      |  FROM est GROUP BY 1, 2),
      |xpd AS (
      |  SELECT e.event_type, CASE WHEN e.d <= b.mid THEN 1 ELSE 2 END AS per,
      |    e.h, e.v
      |  FROM e JOIN bmid b ON e.event_type = b.event_type),
      |xc AS (SELECT event_type, per, COUNT(*) AS n_rows FROM xpd GROUP BY 1, 2),
      |xr AS (
      |  SELECT event_type, per, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type, per ORDER BY v, h) AS vr FROM xpd),
      |ex AS (
      |  SELECT xr.event_type, xr.per, ps.p, xr.v
      |  FROM xr JOIN xc ON xr.event_type = xc.event_type AND xr.per = xc.per
      |    JOIN ps ON xr.vr =
      |      CAST(CEIL(ps.p * CAST(xc.n_rows AS DOUBLE)) AS BIGINT)),
      |xwide AS (
      |  SELECT event_type, p,
      |    MAX(CASE WHEN per = 1 THEN v END) AS x_p1,
      |    MAX(CASE WHEN per = 2 THEN v END) AS x_p2
      |  FROM ex GROUP BY 1, 2)
      |SELECT w.event_type AS event_type, w.p AS p, w.n_p1, w.n_p2,
      |  w.q_p1, w.q_p2, w.q_p2 - w.q_p1 AS shift_est,
      |  x.x_p1, x.x_p2, x.x_p2 - x.x_p1 AS shift_exact,
      |  (w.q_p2 - w.q_p1) - (x.x_p2 - x.x_p1) AS shift_err
      |FROM wide w JOIN xwide x
      |  ON w.event_type = x.event_type AND w.p = x.p
      |ORDER BY event_type, p""".stripMargin

  // ------------------------------------------------------------------
  // q164 — RANGE-PREDICATE SELECTIVITY FROM THE SAMPLE: the estimator
  // behind plans/ValueSynopsis's histogram (whole-bin mass = sample
  // fraction), surfaced as an oracled query off the maintained table.
  // Per event type: merge the daily kept sets to the corpus bottom-64
  // row sample (the q163 disjointness law), count sample rows with
  // value in [10.00, 50.00] (exact integers), and estimate the
  // predicate's selectivity as n_in / n_kept — one IEEE division, the
  // only non-integer op, deterministic in both engines. The exact
  // anchor pays the full per-type feed scan the sample exists to
  // avoid; anchors-off this query reads ONLY the sketch table
  // (SketchAnchorsSpec). At 100 TB this is the planner-input path:
  // what a range filter will keep, answered from KB of samples.
  // ------------------------------------------------------------------
  private val RsLo = 1000L // cents: value >= 10.00
  private val RsHi = 5000L // cents: value <= 50.00

  def q164RangeSelectivity(spark: SparkSession, dir: String): DataFrame = {
    val merged = mergedCorpusSample(spark, dir)
    val est = merged.select(col("event_type"),
        size(col("smp")).cast("long").as("n_kept"),
        expr(s"cast(size(filter(smp, s -> s.v >= ${RsLo}L AND s.v <= ${RsHi}L)) as bigint)")
          .as("n_in"))
      .withColumn("est_sel",
        col("n_in").cast("double") / col("n_kept").cast("double"))
    if (!anchorsOn(spark)) {
      // production shape: whole answer from the KB-sized sample table
      return est.select(col("event_type"), col("n_kept"), col("n_in"),
          col("est_sel"))
        .orderBy(col("event_type"))
    }
    // exact anchor: the full feed scan per type
    val base = popCents(spark, dir)
    val ex = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("v").between(RsLo, RsHi), 1)).as("x_in"))
      .withColumn("x_sel",
        col("x_in").cast("double") / col("n_rows").cast("double"))
    est.join(ex, "event_type")
      .withColumn("sel_err", col("est_sel") - col("x_sel"))
      .select(col("event_type"), col("n_kept"), col("n_in"), col("est_sel"),
        col("n_rows"), col("x_in"), col("x_sel"), col("sel_err"))
      .orderBy(col("event_type"))
  }

  val q164Sql: String =
    """WITH e AS (
      |  SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS h,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      |r AS (
      |  SELECT event_type, h, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY h) AS rn FROM e),
      |smp AS (SELECT event_type, h, v FROM r WHERE rn <= 64),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n_kept,
      |    COUNT(CASE WHEN v BETWEEN 1000 AND 5000 THEN 1 END) AS n_in
      |  FROM smp GROUP BY 1),
      |x AS (
      |  SELECT event_type, COUNT(*) AS n_rows,
      |    COUNT(CASE WHEN v BETWEEN 1000 AND 5000 THEN 1 END) AS x_in
      |  FROM e GROUP BY 1)
      |SELECT s.event_type AS event_type, s.n_kept, s.n_in,
      |  CAST(s.n_in AS DOUBLE) / CAST(s.n_kept AS DOUBLE) AS est_sel,
      |  x.n_rows, x.x_in,
      |  CAST(x.x_in AS DOUBLE) / CAST(x.n_rows AS DOUBLE) AS x_sel,
      |  CAST(s.n_in AS DOUBLE) / CAST(s.n_kept AS DOUBLE)
      |    - CAST(x.x_in AS DOUBLE) / CAST(x.n_rows AS DOUBLE) AS sel_err
      |FROM s JOIN x ON s.event_type = x.event_type
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q168 — THE PLANNER'S HISTOGRAM AS AN ORACLED QUERY: not a lookalike
  // but the EXACT artifact plans/ValueSynopsis.histogram hands
  // Catalyst's FilterEstimation (SynopsisHistogramSpec proves the >10x
  // estimate fix through the executed plan; ValueSynopsisTableSpec pins
  // q168's rows == histogram(8)'s bins field-by-field). Same
  // segmentation (floor cuts [i·m/b, (i+1)·m/b), expressed for SQL as
  // the rank inverse bin = ⌈rank·b/m⌉−1, pure integer arithmetic), same
  // boundary convention (interior boundaries are SHARED sample
  // elements — bin lo = previous bin's hi; the outer lo/hi are the TRUE
  // column bounds off the table's value bundle, which Catalyst's
  // numBinsHoldingRange requires), same height (population rows / b).
  // The exact anchor counts the feed rows each bin's [lo, hi] actually
  // holds — the per-bin selectivity truth the histogram's whole-bin
  // mass stands in for — plus the feed population proving the table's.
  // Anchors-off: the whole planner histogram from KB of table reads.
  // ------------------------------------------------------------------
  private val HbB = 8

  /** Corpus-grain merged sample per type off the maintained table —
    * q164/q168's shared first stage (bottom-k of the union of daily
    * kept sets IS the corpus sample: the q161 disjointness law). */
  private def mergedCorpusSample(spark: SparkSession, dir: String): DataFrame =
    KmvTable.quantileView(spark, dir)
      .select(col("event_type"), expr("inline(smp)"))
      .groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketchAgg.qsketch(
        spark, col("h"), col("v"), QrK).as("smp"))

  /** The quantile family's population frame in exact cents —
    * q164/q168's exact-anchor base (value AND event_id non-null, the
    * q159 guard). */
  private def popCents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))

  def q168TableHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ranked = mergedCorpusSample(spark, dir)
      .select(col("event_type"), size(col("smp")).cast("long").as("m"),
        posexplode(array_sort(
          expr("transform(smp, s -> struct(s.v AS v, s.h AS h))"))))
      .select(col("event_type"), col("m"),
        (col("pos") + 1).cast("long").as("vr"), col("col.v").as("v"))
      .withColumn("b", least(lit(HbB.toLong), col("m")))
      // rank inverse of ValueSynopsis.histogram's floor cuts
      .withColumn("bin", expr("CAST((vr * b + m - 1) DIV m AS INT) - 1"))
    val seg = ranked.groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_bin"), max(col("v")).as("seg_hi"),
        first(col("m")).as("m"), first(col("b")).as("b"))
    // true outer bounds + population from the table's value bundle
    val tbl = KmvTable.statsView(spark, dir)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_pop"), min(col("vmin")).as("vmin_t"),
        max(col("vmax")).as("vmax_t"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val bins = seg
      .withColumn("prev_hi", lag(col("seg_hi"), 1).over(w))
      .join(tbl, Seq("event_type"))
      .withColumn("lo", coalesce(col("prev_hi"), col("vmin_t")))
      .withColumn("hi",
        when(col("bin") === col("b").cast("int") - 1, col("vmax_t"))
          .otherwise(col("seg_hi")))
      .withColumn("height",
        col("n_pop").cast("double") / col("b").cast("double"))
      .withColumn("est_sel",
        col("n_bin").cast("double") / col("m").cast("double"))
    if (!anchorsOn(spark)) {
      // production shape: the planner statistic from the table alone
      // (n_pop and the outer bounds are table-EXACT, not estimates)
      return bins.select(col("event_type"), col("bin"), col("n_bin"),
          col("lo"), col("hi"), col("n_pop"), col("height"), col("est_sel"))
        .orderBy(col("event_type"), col("bin"))
    }
    // exact anchors: the feed population (proving the table's) and what
    // each bin's span actually holds
    val base = popCents(spark, dir)
    val pop = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("x_pop"))
    val xin = bins.join(base, Seq("event_type"))
      .filter(col("v").between(col("lo"), col("hi")))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("x_in"))
    bins.join(xin, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("x_in"))
      .join(pop, Seq("event_type"))
      .withColumn("x_sel",
        col("x_in").cast("double") / col("x_pop").cast("double"))
      .select(col("event_type"), col("bin"), col("n_bin"), col("lo"),
        col("hi"), col("n_pop"), col("height"), col("est_sel"),
        col("x_pop"), col("x_in"), col("x_sel"),
        (col("est_sel") - col("x_sel")).as("sel_err"))
      .orderBy(col("event_type"), col("bin"))
  }

  val q168Sql: String =
    """WITH e AS (
      |  SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS h,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      |r AS (
      |  SELECT event_type, h, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY h) AS rn FROM e),
      |smp AS (SELECT event_type, h, v FROM r WHERE rn <= 64),
      |vr AS (
      |  SELECT event_type, v, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY v, h) AS vr,
      |    COUNT(*) OVER (PARTITION BY event_type) AS m
      |  FROM smp),
      |x AS (
      |  SELECT event_type, COUNT(*) AS n_pop, MIN(v) AS vmin_t,
      |    MAX(v) AS vmax_t
      |  FROM e GROUP BY 1),
      |seg AS (
      |  SELECT event_type,
      |    CAST((vr * LEAST(8, m) + m - 1) // m AS INT) - 1 AS bin,
      |    COUNT(*) AS n_bin, MAX(v) AS seg_hi, MAX(m) AS m,
      |    MAX(LEAST(8, m)) AS b
      |  FROM vr GROUP BY 1, 2),
      |bins AS (
      |  SELECT s.event_type AS event_type, s.bin AS bin, s.n_bin, s.m, s.b,
      |    COALESCE(LAG(s.seg_hi) OVER (
      |      PARTITION BY s.event_type ORDER BY s.bin), x.vmin_t) AS lo,
      |    CASE WHEN s.bin = s.b - 1 THEN x.vmax_t ELSE s.seg_hi END AS hi,
      |    x.n_pop
      |  FROM seg s JOIN x ON s.event_type = x.event_type),
      |xi AS (
      |  SELECT b.event_type, b.bin, COUNT(e.v) AS x_in
      |  FROM bins b JOIN e ON e.event_type = b.event_type
      |    AND e.v BETWEEN b.lo AND b.hi
      |  GROUP BY 1, 2)
      |SELECT b.event_type AS event_type, b.bin AS bin,
      |  CAST(b.n_bin AS BIGINT) AS n_bin, b.lo, b.hi,
      |  CAST(b.n_pop AS BIGINT) AS n_pop,
      |  CAST(b.n_pop AS DOUBLE) / CAST(b.b AS DOUBLE) AS height,
      |  CAST(b.n_bin AS DOUBLE) / CAST(b.m AS DOUBLE) AS est_sel,
      |  CAST(b.n_pop AS BIGINT) AS x_pop,
      |  CAST(COALESCE(xi.x_in, 0) AS BIGINT) AS x_in,
      |  CAST(COALESCE(xi.x_in, 0) AS DOUBLE) / CAST(b.n_pop AS DOUBLE) AS x_sel,
      |  CAST(b.n_bin AS DOUBLE) / CAST(b.m AS DOUBLE)
      |    - CAST(COALESCE(xi.x_in, 0) AS DOUBLE) / CAST(b.n_pop AS DOUBLE)
      |    AS sel_err
      |FROM bins b LEFT JOIN xi
      |  ON xi.event_type = b.event_type AND xi.bin = b.bin
      |ORDER BY b.event_type, b.bin""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q99_zorder_layout" -> (q99ZorderLayout _),
    "q100_profile"      -> (q100Profile _),
    "q102_heavy_hitters" -> (q102HeavyHitters _),
    "q107_histogram"    -> (q107Histogram _),
    "q113_dense_ids"    -> (q113DenseIds _),
    "q118_correlation"  -> (q118Correlation _),
    "q139_kmv_distinct" -> (q139KmvDistinct _),
    "q146_kmv_rolling"  -> (q146KmvRolling _),
    "q148_kmv_algebra"  -> (q148KmvAlgebra _),
    "q149_priority_sample" -> (q149PrioritySample _),
    "q151_kmv_maintain" -> (KmvTable.q151KmvMaintain _),
    "q152_approx_rewrite" -> (q152ApproxRewrite _),
    "q154_threshold_sample" -> (q154ThresholdSample _),
    "q157_join_size_est" -> (q157JoinSizeEst _),
    "q158_synopsis_order" -> (q158SynopsisOrder _),
    "q159_quantile_sketch" -> (q159QuantileSketch _),
    "q161_quantile_rolling" -> (q161QuantileRolling _),
    "q162_selfjoin_moment" -> (q162SelfJoinMoment _),
    "q163_quantile_drift" -> (q163QuantileDrift _),
    "q164_range_selectivity" -> (q164RangeSelectivity _),
    "q165_table_stats"  -> (KmvTable.q165TableStats _),
    "q166_key_stats"    -> (KmvTable.q166KeyStats _),
    "q168_table_histogram" -> (q168TableHistogram _),
    "q169_stats_join_order" -> (StatsJoin.q169StatsJoinOrder _),
    "q170_stats_star_order" -> (StatsJoin.q170StatsStarOrder _),
    "q171_stats_broadcast" -> (StatsJoin.q171StatsBroadcast _),
    "q172_zorder_prune" -> (ZIndex.q172ZorderPrune _),
    "q174_zorder_onedim" -> (ZIndex.q174ZorderOnedim _),
    "q175_zorder_fileindex" -> (ZIndex.q175ZorderFileIndex _),
    "q176_zorder_sql" -> (ZCatalog.q176ZorderSql _),
    "q178_zonemap_agg" -> (ZCatalog.q178ZonemapAgg _),
    "q180_zdecimal_sql" -> (ZCatalog.q180ZdecimalSql _),
    "q181_zdecimal_stats" -> (ZCatalog.q181ZdecimalStats _),
    "q185_stats_alias_order" -> (StatsJoin.q185StatsAliasOrder _),
    "q186_stats_star_alias" -> (StatsJoin.q186StatsStarAlias _),
    "q189_stream_neardup" -> (LshIndex.q189StreamNearDup _),
    "q190_stream_novelty" -> (FpIndex.q190StreamNoveltyGate _),
    "q191_stream_vec_gate" -> (VecGate.q191StreamVecGate _),
  )

  val oracleSql: Map[String, String] = Map(
    "q99_zorder_layout" -> q99Sql,
    "q100_profile"      -> q100Sql,
    "q102_heavy_hitters" -> q102Sql,
    "q107_histogram"    -> q107Sql,
    "q113_dense_ids"    -> q113Sql,
    "q118_correlation"  -> q118Sql,
    "q139_kmv_distinct" -> q139Sql,
    "q146_kmv_rolling"  -> q146Sql,
    "q148_kmv_algebra"  -> q148Sql,
    "q149_priority_sample" -> q149Sql,
    "q151_kmv_maintain" -> KmvTable.q151Sql,
    "q152_approx_rewrite" -> q152Sql,
    "q154_threshold_sample" -> q154Sql,
    "q157_join_size_est" -> q157Sql,
    "q158_synopsis_order" -> q158Sql,
    "q159_quantile_sketch" -> q159Sql,
    "q161_quantile_rolling" -> q161Sql,
    "q162_selfjoin_moment" -> q162Sql,
    "q163_quantile_drift" -> q163Sql,
    "q164_range_selectivity" -> q164Sql,
    "q165_table_stats"  -> KmvTable.q165Sql,
    "q166_key_stats"    -> KmvTable.q166Sql,
    "q168_table_histogram" -> q168Sql,
    "q169_stats_join_order" -> StatsJoin.q169Sql,
    "q170_stats_star_order" -> StatsJoin.q170Sql,
    "q171_stats_broadcast" -> StatsJoin.q171Sql,
    "q172_zorder_prune" -> ZIndex.q172Sql,
    "q174_zorder_onedim" -> ZIndex.q174Sql,
    "q175_zorder_fileindex" -> ZIndex.q172Sql, // same contract: q172's
      // box semantics — only the pruning's INTEGRATION point moved
      // (driver-side consult → Spark's own FileIndex planning)
    "q176_zorder_sql" -> ZCatalog.q176Sql,
    "q178_zonemap_agg" -> ZCatalog.q178Sql,
    "q180_zdecimal_sql" -> ZCatalog.q180Sql,
    "q181_zdecimal_stats" -> ZCatalog.q181Sql,
    "q185_stats_alias_order" -> StatsJoin.q185Sql,
    "q186_stats_star_alias" -> StatsJoin.q186Sql,
    "q189_stream_neardup" -> LshIndex.q184Sql, // same contract: the
      // q184 split's batch half against the standing index — only the
      // EXECUTION model moved (one-shot batch -> AvailableNow stream)
    "q190_stream_novelty" -> FpIndex.q190Sql,
    "q191_stream_vec_gate" -> VecGate.q191Sql,
  )
}
