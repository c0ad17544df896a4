package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** [[Layout.partitionPureBy]] — the exact partitioner behind the
  * multi-key grouped metadata serve (q187/q188). Pins:
  * (1) EVERY output partition holds rows of exactly one distinct key
  *     combination, under heavy group skew (hash partitioning collides
  *     groups; range partitioning straddles boundaries — this must
  *     not);
  * (2) a file budget above the group count splits each group into
  *     budget / groups partitions of disjoint, ordered ranges of the
  *     range column, while PRESERVING purity;
  * (3) NULL key values form their own group;
  * (4) no rows are lost or duplicated. */
class PartitionPureBySpec extends SparkSpec {

  private def perPartitionKeyCombos(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): Seq[Int] = {
    val idx = keys.map(df.schema.fieldIndex)
    df.rdd.mapPartitions(it =>
      Iterator.single(it.map(r => idx.map(r.get)).toSet.size))
      .collect().toSeq
  }

  test("every partition is pure on the composite key, skew included; " +
      "nulls group; no row moves") {
    import spark.implicits._
    // heavy skew: group (0, a) carries 80% of rows; 12 further groups
    // share the rest; one group has a NULL second key
    val df = (0 until 5000).map { i =>
      val g = if (i % 5 != 0) (0, Some("a"))
        else ((i / 5) % 6, if (i % 25 == 0) None else Some(s"k${i % 2}"))
      (g._1.toLong, g._2, i.toLong)
    }.toDF("ga", "gb", "v")
    val pure = Layout.partitionPureBy(df, Seq("ga", "gb"), "v", nFiles = 1)
    val combos = perPartitionKeyCombos(pure, Seq("ga", "gb"))
    assert(combos.forall(_ <= 1),
      s"every partition must hold at most one key combo, got $combos")
    val nGroups = df.select(col("ga"), col("gb")).distinct().count()
    assert(combos.count(_ == 1) === nGroups,
      "every group must land in exactly one partition")
    assert(pure.collect().map(_.getLong(2)).sorted.toSeq ===
      df.collect().map(_.getLong(2)).sorted.toSeq,
      "no rows lost or duplicated")
  }

  test("subSplits spreads a group over several partitions without " +
      "losing purity") {
    import spark.implicits._
    // 3 groups, a file budget of 12 → 4 postal-like ranges per group;
    // group 2 skips every other range value and one row has a null one
    val df = (0 until 3000).map { i =>
      val g = (i % 3).toLong
      val r = if (i == 7) None else Some(f"${(i / 3) % 40}%05d")
      (g, r, i.toLong)
    }.toDF("g", "r", "v").filter(col("g") =!= 2 || col("r").isNull ||
      col("r").substr(5, 1).cast("int") % 2 === 0)
    val pure = Layout.partitionPureBy(df, Seq("g"), "r", nFiles = 12)
    assert(pure.rdd.getNumPartitions === 12,
      "3 groups x 12 / 3 ranges each: the file budget")
    val combos = perPartitionKeyCombos(pure, Seq("g"))
    assert(combos.forall(_ <= 1), s"every partition pure, got $combos")
    // per partition: (group, min r, max r), nulls left out
    val spans = pure.rdd.mapPartitionsWithIndex { (p, it) =>
      val rs = it.toSeq
      val vs = rs.flatMap(r => Option(r.getString(1)))
      if (vs.isEmpty) Iterator.empty
      else Iterator((rs.head.getLong(0), p, vs.min, vs.max))
    }.collect().toSeq
    spans.groupBy(_._1).foreach { case (g, ps) =>
      val ordered = ps.sortBy(_._2)
      assert(ordered.size === 4,
        s"group $g must spread over its 4 ranges, got $ordered")
      ordered.sliding(2).foreach { case Seq(a, b) =>
        assert(a._4 < b._3,
          s"group $g: ranges must be disjoint and ordered, got $a then $b")
      }
    }
    assert(pure.collect().map(_.getLong(2)).sorted.toSeq ===
      df.collect().map(_.getLong(2)).sorted.toSeq,
      "no rows lost or duplicated")
  }
}
