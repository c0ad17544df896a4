package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.Layout
import graft.streaming.EventsStream

/** q159/q160 quantile sketch — the bounded-aggregate contract's
  * quantile member, held to the KmvSpec standard: the kept sample must
  * equal the naive bottom-k-by-hash window definition; saturated
  * groups must be exact at every p; partial merge must be associative,
  * partition-count invariant, duplicate-idempotent (a replayed row
  * identity must never shrink the sample — the r9 PrioritySample
  * lesson) and wire-round-trippable; the exchange must carry O(tasks ×
  * groups) sketch rows, never the value multiset; and the SAME
  * aggregate drip-fed through micro-batches must land byte-identical
  * to the batch definition with one state row per group.
  */
class QuantileSpec extends SparkSpec {

  test("q159 matches the naive window definition; saturated groups exact") {
    val out = Layout.queries("q159_quantile_sketch")(spark, Sf).collect()
    assert(out.nonEmpty)
    val base = graft.sources.Tables.events(spark, Sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), md5(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
    // naive: bottom-256 by hash per type, then value at ceil(p*m) by (v, h)
    val naive = base.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("h"))))
      .filter(col("rn") <= 256)
      .withColumn("vr", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("v"), col("h"))))
      .withColumn("m", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .collect().groupBy(_.getAs[String]("event_type"))
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val p = r.getAs[Double]("p")
      val rows = naive(t)
      val m = rows.head.getAs[Long]("m")
      assert(r.getAs[Long]("n_kept") === m)
      val want = rows.find(_.getAs[Int]("vr") === math.ceil(p * m).toLong)
        .map(_.getAs[Long]("v")).get
      assert(r.getAs[Long]("q_est") === want, s"($t, $p)")
      if (m == r.getAs[Long]("n_rows")) // saturated: sample IS the group
        assert(r.getAs[Long]("q_est") === r.getAs[Long]("q_exact"), s"($t, $p)")
    }
  }

  test("q161: merging daily samples equals sampling the raw window directly") {
    // the union law with values riding along: row identities are unique,
    // so bottom-k of the union of per-day bottom-k samples == bottom-k
    // of the raw 7-day window — a sample TABLE answers rolling quantile
    // windows without rescanning the source (KmvSpec's q146 test, for
    // the quantile member)
    val out = Layout.queries("q161_quantile_rolling")(spark, Sf).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("d").toString, r.getAs[Double]("p")) ->
        r.getAs[Long]("q_est")).toMap
    assert(out.nonEmpty)
    val base = graft.sources.Tables.events(spark, Sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        md5(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
    val win = base.select(col("event_type"), col("d")).distinct().as("t")
      .join(base.as("s"),
        col("t.event_type") === col("s.event_type") &&
        col("s.d").between(date_sub(col("t.d"), 6), col("t.d")))
      .select(col("t.event_type").as("event_type"), col("t.d").as("d"),
        col("s.h").as("h"), col("s.v").as("v"))
    val wKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("d"))
    val direct = win
      .withColumn("rn", row_number().over(wKey.orderBy(col("h"))))
      .filter(col("rn") <= 64)
      .withColumn("vr", row_number().over(wKey.orderBy(col("v"), col("h"))))
      .withColumn("m", count(lit(1)).over(wKey))
      .collect().groupBy(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("d").toString))
    out.foreach { case ((t, d, p), got) =>
      val rows = direct((t, d))
      val m = rows.head.getAs[Long]("m")
      val want = rows.find(_.getAs[Int]("vr") === math.ceil(p * m).toLong)
        .map(_.getAs[Long]("v")).get
      assert(got === want, s"($t, $d, $p): table-merged $got != direct $want")
    }
  }

  test("merge: associative, partition-invariant, duplicate-idempotent, wire-stable") {
    import graft.functions.QuantileSketch
    import org.apache.spark.unsafe.types.UTF8String
    val lit0 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      "x", org.apache.spark.sql.types.StringType)
    val litV = org.apache.spark.sql.catalyst.expressions.Literal.create(
      0L, org.apache.spark.sql.types.LongType)
    val agg = QuantileSketch(lit0, litV, 8)
    val rng = new scala.util.Random(7)
    val xs = Seq.fill(100)((UTF8String.fromString(f"${rng.nextLong().abs}%016x"),
      rng.nextInt(1000).toLong))
    def sk(items: Seq[(UTF8String, Long)]) = {
      val b = agg.createAggregationBuffer()
      items.foreach { case (h, v) =>
        agg.merge(b, { val t = agg.createAggregationBuffer(); t.put(h.clone(), v); t })
      }
      b
    }
    def copyOf(m: java.util.TreeMap[UTF8String, Long]) =
      new java.util.TreeMap[UTF8String, Long](m)
    val (a, b, c) = (sk(xs.slice(0, 30)), sk(xs.slice(30, 71)), sk(xs.slice(71, 100)))
    val left = agg.merge(agg.merge(copyOf(a), copyOf(b)), copyOf(c))
    val right = agg.merge(copyOf(a), agg.merge(copyOf(b), copyOf(c)))
    val whole = sk(xs)
    assert(left.equals(right) && left.equals(whole))
    assert(agg.deserialize(agg.serialize(left)).equals(left))
    // duplicate idempotency: replaying the whole input changes nothing
    // and never shrinks the sample below k
    val replayed = agg.merge(copyOf(whole), copyOf(whole))
    assert(replayed.equals(whole) && replayed.size === 8)

    // partition-count invariance end-to-end (1, 7, 32 partitions)
    import spark.implicits._
    val df = (1 to 5000)
      .map(i => ("t" + i % 3, f"${(i * 2654435761L) % 100003}%032x", (i % 997).toLong))
      .toDF("g", "h", "v")
    val runs = Seq(1, 7, 32).map { p =>
      df.repartition(p).groupBy($"g")
        .agg(graft.functions.QuantileSketchAgg.qsketch(spark, $"h", $"v", 64).as("s"))
        .select($"g", $"s").collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getString(0), x.getLong(1))))
        .toMap
    }
    assert(runs(0) == runs(1) && runs(1) == runs(2))
  }

  test("more than k distinct hashes in one group keep exactly the k " +
      "smallest, through update and through merge") {
    import graft.functions.QuantileSketch
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val k = 8
    val agg = QuantileSketch(BoundReference(0, StringType, nullable = false),
      BoundReference(1, LongType, nullable = false), k)
    val xs = (0 until 5 * k).map(i => (f"h$i%04d", i.toLong))
    def kept(b: java.util.TreeMap[UTF8String, Long]) =
      agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .array.toSeq.map { case r: InternalRow =>
          (r.getUTF8String(0).toString, r.getLong(1)) }
    // descending: every row past the k-th undercuts the kept maximum, so
    // each must evict it
    def fed(rows: Seq[(String, Long)]) =
      rows.foldLeft(agg.createAggregationBuffer())((b, r) =>
        agg.update(b, InternalRow(UTF8String.fromString(r._1), r._2)))
    def bottomK(rows: Seq[(String, Long)]) = rows.sortBy(_._1).take(k)
    val viaUpdate = fed(xs.reverse)
    assert(kept(viaUpdate) === bottomK(xs))
    // both sides full and interleaved: merging must evict too
    val (even, odd) = xs.partition(_._2 % 2 == 0)
    val viaMerge = agg.merge(fed(odd.reverse), fed(even.reverse))
    assert(kept(viaMerge) === bottomK(xs))

    // end to end: partial buffers over 8 partitions, serialized and merged
    import spark.implicits._
    val df = spark.range(0, 2000, 1, 8)
      .select(md5($"id".cast("string")).as("h"), $"id".as("v"))
    val got = df.agg(graft.functions.QuantileSketchAgg.qsketch(
        spark, $"h", $"v", 16).as("s")).head()
      .getSeq[org.apache.spark.sql.Row](0).map(x => (x.getString(0), x.getLong(1)))
    val want = df.orderBy($"h").limit(16).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got === want)
  }

  test("plan pin: exchange carries O(tasks × groups) sketches, not the multiset") {
    val ev = graft.sources.Tables.events(spark, Sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), md5(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
    val skDf = ev.groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketchAgg.qsketch(spark, col("h"), col("v"), 256).as("s"))
    skDf.collect()
    val plan = skDf.queryExecution.executedPlan
    assert(plan.toString.contains("ObjectHashAggregate"),
      "quantile sketch must plan as an object-hash partial aggregate")
    def collectShuffles(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectShuffles(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
        Seq(q.shuffle)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectShuffles(q.plan)
      case other => other.children.flatMap(collectShuffles)
    }
    val shuffles = collectShuffles(plan)
    assert(shuffles.nonEmpty)
    val written = shuffles.map(_.metrics("shuffleRecordsWritten").value).sum
    val nTasks = shuffles.map(_.numMappers).sum
    val nTypes = ev.select(col("event_type")).distinct().count()
    assert(written <= nTasks.toLong * nTypes,
      s"sketch exchange carried $written rows; bound is tasks($nTasks) × groups($nTypes)")
    assert(written < ev.count() / 10,
      s"sketch rows ($written) should be far under the row multiset (${ev.count()})")
  }

  test("drip-fed streamed sample == batch bottom-k; state rows == groups") {
    val s = spark
    val base = TempDirs.create("graft_stream_qs")
    val feedDir = s"$base/feed"
    val raw = graft.sources.Tables.eventsRawNanos(s, Sf)
      .withColumn("__t", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    for (i <- 1 to 4)
      EventsStream.landFeedFile(
        raw.filter(col("__t") === i).drop("__t"), feedDir, f"tranche$i%03d")
    val feed = s.readStream.schema(EventsStream.eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(feedDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = EventsStream.quantileWindowAgg(s, feed).writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("stream_qs_spec")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    assert(progress.count(_.numInputRows > 0) >= 4,
      "the run must actually span multiple data micro-batches")
    val streamed = s.table("stream_qs_spec").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[String]("event_type")) ->
        r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("smp"))
          .map(x => (x.getString(0), x.getLong(1))).toList).toMap
    val batch = graft.sources.Tables.events(s, Sf)
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(date_trunc("hour", col("ts")).as("w"), col("event_type"),
        md5(col("event_id").cast("string")).as("h"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("v"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("w"), col("event_type")).orderBy(col("h"))))
      .filter(col("rn") <= 64)
      .orderBy(col("w"), col("event_type"), col("h"))
      .collect().groupBy(r => (r.getAs[java.sql.Timestamp]("w"),
        r.getAs[String]("event_type")))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getAs[String]("h"), r.getAs[Long]("v"))).toList }
    assert(streamed === batch,
      "micro-batch boundaries must be invisible in the final sample")
    val stateRows = progress.flatMap(_.stateOperators.headOption)
      .map(_.numRowsTotal).max
    assert(stateRows === batch.size.toLong,
      s"state must be one sample row per group: $stateRows vs ${batch.size}")
  }

  test("an empty kept set yields no quantile rows, not an index-0 error") {
    // element_at(byv, ceil(p·0) = 0) is an unconditional runtime error
    // in Spark — the rank pick must be total even though every caller
    // excludes empty groups by population definition (the self-review
    // catch: a streamed (window, type) group whose only rows carried a
    // NULL event_id used to reach it with an empty sample)
    import spark.implicits._
    val df = Seq(
      ("a", Seq(("0abc", 100L), ("1def", 200L))),
      ("b", Seq.empty[(String, Long)])
    ).toDF("g", "smp")
      .withColumn("smp", expr("transform(smp, s -> struct(s._1 AS h, s._2 AS v))"))
    val out = graft.operators.Layout.sampleQuantiles(df, Seq("g"), Seq(0.5, 0.9))
      .collect()
    assert(out.map(_.getString(0)).toSet === Set("a"),
      "the empty group must drop out instead of erroring")
    assert(out.length === 2)
  }
}
