package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The q157 join synopsis CONSUMED as planner metadata (r9 verdict #2).
  *
  * [[KeySynopsis]] is the driver-side form of the frequency-annotated
  * bottom-k sketch (join synopses, Acharya et al. 1999 — the reference
  * for q157, `Layout.scala` q157JoinSizeEst): per (table, join key) the
  * k smallest md5 hashes of the distinct keys, each with its exact
  * frequency. It is KB-sized BY CONSTRUCTION — synopses are planner
  * statistics, the one kind of data a distributed engine is supposed to
  * hold on the driver (exactly where ANALYZE's rowCount/NDV live).
  *
  * What it buys over ANALYZE statistics: Spark's cost model estimates a
  * join as |A|·|B| / max(ndv_A, ndv_B) — a UNIFORM-frequency assumption
  * that cannot tell a dimension aligned with the fact's hot keys from
  * one aligned with its cold keys (SynopsisCboSpec constructs two dims
  * with identical rows/NDV whose true join sizes differ by ~40× and
  * pins that CBO's rowCount estimates are equal while the synopsis
  * ranks them correctly). The estimator is q157's: Σ f_A·f_B over
  * matched kept keys, scaled by union Ĥ / |kept union|; saturated
  * synopses (key union under k) are EXACT.
  *
  * Consumers:
  *  - [[JoinSynopsis.joinEst]] → greedy join-order choice
  *    ([[JoinSynopsis.cheapestJoinFirst]]), spec-pinned against the
  *    ANALYZE-stats CBO order on the q-chain CboReorderSpec uses;
  *  - [[SynopsisCatalog]] + [[SketchBroadcastHint]] → an automatic
  *    broadcast hint when a side's synopsis-estimated cardinality is
  *    under its 100000-row cap;
  *  - [[SynopsisStats]] → the synopsis written as CATALOG statistics
  *    (rowCount / sizeInBytes / key NDV, with a calibrated form that
  *    encodes frequency skew), so Spark's OWN join-reorder and
  *    broadcast planning consume the estimates with no graft rule in
  *    the loop (SynopsisStatsSpec).
  */
final case class KeySynopsis(
    name: String,
    rows: Long,
    k: Int,
    /** kept md5 hashes (the bottom-k of the key's distinct hash set),
      * ascending, each with its exact key frequency. */
    kept: Vector[(String, Long)],
    /** Key-domain bounds in external-string form (what ANALYZE stores
      * in `CatalogColumnStat.min/max`), off the same single build pass.
      * Catalyst's join estimation REQUIRES numeric-key bounds: absent
      * min/max become a NullValueInterval whose intersection test
      * returns false, collapsing every join estimate to 0 — so a
      * synopsis that wants to feed [[SynopsisStats]] must carry them.
      * None for empty inputs. */
    keyMin: Option[String] = None,
    keyMax: Option[String] = None) {

  def nKept: Int = kept.size

  /** Distinct-key estimate: exact below saturation, (k−1)/u_k above. */
  def distinctEst: Double =
    if (nKept < k) nKept.toDouble
    else (k - 1).toDouble / JoinSynopsis.unit(kept.last._1)
}

object JoinSynopsis {

  val K = 64

  /** First 48 hash bits mapped to (0, 1], zero-guarded like every other
    * estimator in the family. */
  private[plans] def unit(hexHash: String): Double =
    math.max(java.lang.Long.parseLong(hexHash.substring(0, 12), 16), 1L)
      .toDouble / 281474976710656.0 // 16^12

  /** One corpus pass: per-key frequencies (cached — KB-to-MB keyed
    * aggregate), then the bottom-k kept set with frequencies attached
    * and the exact row count as Σc plus the key-domain min/max — ALL
    * off the SAME aggregate; a second corpus scan for any of them
    * would double the cost of the artifact this exists to make cheap.
    * The collected result is ≤ k + 1 rows. */
  def build(name: String, df: DataFrame, key: Column, k: Int = K): KeySynopsis = {
    // null keys are excluded here, not left to the caller's filter: a
    // null key hashes to a null h, and Spark's ascending sort puts
    // nulls FIRST — an unfiltered null group would take the kept set's
    // head slot and poison rows/bounds. Population = non-null keys,
    // the same contract as fromTable's table bundle.
    val freq = df.select(md5(key.cast("string")).as("h"), key.as("kv"))
      .filter(col("h").isNotNull)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(col("kv")).as("mn"), max(col("kv")).as("mx"))
      .cache()
    try {
      val keptRows = freq.orderBy(col("h")).limit(k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toVector
      val tot = freq
        .agg(coalesce(sum(col("c")), lit(0L)).cast("long"),
          min(col("mn")).cast("string"), max(col("mx")).cast("string"))
        .collect()(0)
      KeySynopsis(name, tot.getLong(0), k, keptRows,
        Option(tot.getString(1)), Option(tot.getString(2)))
    } finally { freq.unpersist(); () }
  }

  /** [[build]] over a KB-scale table (a dimension), from ONE
    * driver-side collect of (md5(key), key) instead of its five jobs
    * (the cached aggregate, its ordered limit, its total): the same
    * fields, by the same null-key contract (JoinSynopsisCollectedSpec
    * pins the equality field by field). The key bounds compare string
    * keys by their UTF-8 bytes, as Spark's min/max do, and other keys
    * by their natural order. Every row reaches the driver. */
  def collected(name: String, df: DataFrame, key: Column,
      k: Int = K): KeySynopsis = {
    val rows = df.select(md5(key.cast("string")).as("h"), key.as("kv"),
        key.cast("string").as("ks"))
      .filter(col("h").isNotNull).collect()
    val kept = rows.groupMapReduce(_.getString(0))(_ => 1L)(_ + _)
      .toVector.sortBy(_._1).take(k)
    val keys = rows.map(r => r.get(1) -> r.getString(2))
    val ord: Ordering[Any] = {
      case (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      case (a: Comparable[Any] @unchecked, b) => a.compareTo(b)
    }
    KeySynopsis(name, rows.length.toLong, k, kept,
      keys.minByOption(_._1)(ord).map(_._2),
      keys.maxByOption(_._1)(ord).map(_._2))
  }

  /** Per-type KEY synopses over md5(user_id) served ENTIRELY from the
    * maintained sketch table ([[graft.operators.KmvTable.keyStatsView]])
    * — the join-synopsis ANALYZE whose corpus scan already happened.
    * Merging is exact, not approximate: a corpus-bottom-k hash is in
    * the bottom-k of EVERY day it occurs on (fewer than k corpus
    * hashes below it bounds every day's count below it), so its summed
    * daily counts are its exact corpus frequency; hashes whose counts
    * could be partial are exactly those outside the corpus bottom-k,
    * and the bottom-k cut discards them. rows = Σ daily key
    * populations; key bounds merge by min/max. The result per type
    * EQUALS [[build]] over that type's user_id-non-null frame with the
    * table's k (JoinSynopsisTableSpec pins it field by field, and that
    * [[joinEst]] over table-served synopses equals joinEst over
    * feed-built ones). Population contract as everywhere in the
    * family: the caller of [[build]] filters null keys; the table
    * already does. */
  def fromTable(spark: org.apache.spark.sql.SparkSession, dir: String,
      table: Option[DataFrame] = None): Map[String, KeySynopsis] = {
    import org.apache.spark.sql.Row
    val k = graft.operators.KmvTable.K
    // `table`: an already-maintained frame, so multi-view consumers
    // (key + value synopses off one maintenance) pay maintain() once
    val rows = table
      .map(graft.operators.KmvTable.keyStatsViewOf)
      .getOrElse(graft.operators.KmvTable.keyStatsView(spark, dir))
      .collect()
    rows.groupBy(_.getString(0)).flatMap { case (t, rs) =>
      val n = rs.map(_.getLong(2)).sum
      if (n == 0L) None
      else {
        val freq = scala.collection.mutable.HashMap.empty[String, Long]
        rs.foreach(_.getSeq[Row](5).foreach { p =>
          val h = p.getString(0)
          freq.update(h, freq.getOrElse(h, 0L) + p.getLong(1))
        })
        val kept = freq.toVector.sortBy(_._1).take(k)
        Some(t -> KeySynopsis(t, n, k, kept,
          keyMin = rs.collect { case r if !r.isNullAt(3) => r.getLong(3) }
            .reduceOption(_ min _).map(_.toString),
          keyMax = rs.collect { case r if !r.isNullAt(4) => r.getLong(4) }
            .reduceOption(_ max _).map(_.toString)))
      }
    }
  }

  /** |A ⋈_key B| from the two synopses alone — q157's estimator:
    * bottom-k of the kept-set union, Σ f_A·f_B over keys kept by BOTH
    * (downward-closed, so a union-kept hash is in a side's kept set iff
    * the side contains the key), scaled by union Ĥ / |union kept|. */
  def joinEst(a: KeySynopsis, b: KeySynopsis): Double = {
    require(a.k == b.k, "synopses must share k")
    val ka = a.kept.map(_._1).toSet
    val kb = b.kept.map(_._1).toSet
    val ku = (ka ++ kb).toVector.sorted.take(a.k)
    if (ku.isEmpty) return 0.0
    val fa = a.kept.toMap
    val fb = b.kept.toMap
    // Double, not Long (r10 verdict #4): at the 100 TB frequencies this
    // synopsis targets (hot keys ~10⁹–10¹⁰) a single f_A·f_B product
    // reaches 10²⁰ — past Long.MaxValue, so Long math wraps NEGATIVE and
    // a silently wrong estimate would feed a broadcast decision. Double
    // keeps every term finite with ~1e-16 relative error per op (the
    // estimator multiplies by a Double scale factor anyway); the q157
    // SQL estimators were already safe (DECIMAL/HUGEINT).
    // JoinSynopsisOverflowSpec pins parity with BigInt-exact arithmetic
    // at 10¹⁰ × 64 matched keys.
    val psum = ku.iterator.collect {
      case h if ka(h) && kb(h) => fa(h).toDouble * fb(h).toDouble
    }.sum
    val unionEst =
      if (ku.size < a.k) ku.size.toDouble
      else (a.k - 1).toDouble / unit(ku.last)
    unionEst / ku.size.toDouble * psum
  }

  /** Greedy first-join choice for a fact joined against candidate
    * dimensions on (possibly different) keys: the candidate with the
    * smallest synopsis-estimated join size runs first. Returns
    * candidates sorted cheapest-first. */
  def cheapestJoinFirst(
      candidates: Seq[(KeySynopsis, KeySynopsis)]): Seq[((KeySynopsis, KeySynopsis), Double)] =
    candidates.map(c => c -> joinEst(c._1, c._2))
      .sortBy { case ((a, b), est) => (est, a.name, b.name) }
}

/** Session-shared registry of synopsis-estimated cardinalities, the
  * hand-off point between a built [[KeySynopsis]] and the planner rule
  * ([[SketchBroadcastHint]]). Names are matched against SubqueryAlias
  * identifiers in the analyzed plan (temp view / `.as(...)` names).
  */
object SynopsisCatalog {
  private val est = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  def register(name: String, estimatedRows: Long): Unit = { est.put(name, estimatedRows); () }
  /** A broadcast decision needs ROW cardinality, not key NDV — a fact
    * table with 10⁸ rows over 10³ distinct keys must never broadcast
    * because its distinct estimate is small. `rows` comes off the same
    * single build pass (Σ of the per-key frequencies). */
  def register(s: KeySynopsis): Unit = register(s.name, s.rows)
  def lookup(name: String): Option[Long] = Option(est.get(name))
  def clear(): Unit = est.clear()
}
