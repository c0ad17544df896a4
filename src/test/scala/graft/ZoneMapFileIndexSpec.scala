package graft

import org.apache.spark.sql.functions._

import graft.operators.ZIndex
import graft.plans.{AllNullZone, LongZone, StringZone}

/** q175 — the zone map inside Spark's own scan planning. Pins:
  * (1) the FileIndex-backed query equals q172's driver-side consult
  *     AND the direct computation, with the planner-counted kept set
  *     exactly the q172 consult's overlap set (same map, same box,
  *     two integration points — one truth);
  * (2) both literal orientations prune (the query spells col ⊗ lit
  *     and lit ⊗ col conjuncts);
  * (3) an unmapped-column predicate keeps EVERY file — unsupported
  *     shapes degrade to a full listing, never a wrong answer;
  * (4) the generalized shapes — IN lists, IsNull/IsNotNull, OR-of-
  *     ranges, STRING zones — prune exactly the files a driver-side
  *     consult of the same entries keeps, and answers match the plain
  *     table on every one. Counters are PER INDEX;
  * (5) a repeated relation over an unchanged feed launches no Spark
  *     job (the schema is memoized on the feed identity), and after an
  *     append or a mutation its schema and rows follow the new
  *     generation. */
class ZoneMapFileIndexSpec extends SparkSpec {

  // zConfLock: the z-layout suites all steer spark.graft.zindex.dir on
  // the ONE shared session while suites run in parallel — hold the
  // JVM-wide lock across the whole conf window (see TempDirs.zConfLock)
  private def withConfs[T](pairs: (String, String)*)(f: => T): T =
    TempDirs.zConfLock.synchronized {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
    }

  private def li(ids: Range) = {
    import spark.implicits._
    ids.map { i =>
      (if (i % 97 == 0) None else Some(((i.toLong * 7919) % 2000)),
        (i.toLong * 104729) % 15000,
        (i % 100).toLong,
        (i % 50 + 1).toDouble,
        Seq("A", "N", "R")(i % 3))
    }.toDF("l_partkey", "l_orderkey", "l_suppkey", "l_quantity",
      "l_returnflag")
  }

  test("q175: planner-side pruning equals the driver-side consult; " +
      "unmapped predicates keep every file") {
    val dir = TempDirs.create("graft_zmfi_corp")
    li(0 until 20000).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    withConfs("spark.graft.zindex.dir" -> TempDirs.create("graft_zmfi_root")) {
      ZIndex.clearMemo()
      // driver-side consult first: its overlap set is the truth the
      // planner-side kept set must reproduce
      val q172Rows = ZIndex.q172ZorderPrune(spark, dir).collect().toSeq
      val consultKept = ZIndex.zFilesRead.get()
      val consultTotal = ZIndex.zFilesTotal.get()

      val df = ZIndex.q175ZorderFileIndex(spark, dir)
      val rows = df.collect().toSeq
      val idx = ZIndex.lastPlannedIndex.get().get
      assert(rows.nonEmpty && rows === q172Rows,
        "the FileIndex-backed query must compute exactly q172's box")
      assert(idx.lastTotal.get() === consultTotal)
      assert(idx.lastKept.get() === consultKept,
        s"Spark's pushed filters must prune the same overlap set as " +
          s"the driver-side consult (planner " +
          s"${idx.lastKept.get()} vs consult $consultKept)")
      assert(consultKept < consultTotal / 2)
    }
  }

  test("q175: arbitrary predicates over the raw relation — a mapped " +
      "range prunes, an unmapped-only filter lists every file, answers " +
      "match the plain table either way") {
    val dir = TempDirs.create("graft_zmfi_corp2")
    li(0 until 8000).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    withConfs("spark.graft.zindex.dir" -> TempDirs.create("graft_zmfi_root2")) {
      ZIndex.clearMemo()
      val (frame, idx) = ZIndex.zFrame(spark, dir)
      val raw = spark.read.parquet(s"$dir/lineitem.parquet")

      // an unrecordable predicate SHAPE (arithmetic over the column:
      // the matcher only refutes bare attribute ⊗ literal and friends)
      // refutes nothing — every file listed
      val a1 = frame.filter(col("l_suppkey") * 2 === 10L).count()
      assert(idx.lastKept.get() === idx.lastTotal.get(),
        "an unsupported predicate shape must keep every file")
      assert(a1 === raw.filter(col("l_suppkey") * 2 === 10L).count())

      // a user-written mapped range (not the q175 box — any predicate
      // a user writes gets the skipping): top 5% of the orderkey range
      val b = raw.agg(min(col("l_orderkey")), max(col("l_orderkey")))
        .collect()(0)
      val cut = b.getLong(1) - (b.getLong(1) - b.getLong(0)) / 20
      val a2 = frame.filter(col("l_orderkey") > cut).count()
      assert(idx.lastKept.get() < idx.lastTotal.get() / 2,
        s"a 5% tail range must prune most files, kept " +
          s"${idx.lastKept.get()} of ${idx.lastTotal.get()}")
      assert(a2 === raw.filter(col("l_orderkey") > cut).count())
    }
  }

  test("q175: IN / IsNull / IsNotNull / OR-of-ranges / string zones " +
      "prune exactly the driver-consult kept set; answers match the " +
      "plain table") {
    val dir = TempDirs.create("graft_zmfi_corp4")
    li(0 until 16000).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    withConfs("spark.graft.zindex.dir" -> TempDirs.create("graft_zmfi_root4")) {
      ZIndex.clearMemo()
      val (frame, idx) = ZIndex.zFrame(spark, dir)
      val raw = spark.read.parquet(s"$dir/lineitem.parquet")
      val entries = idx.currentEntries
      def longZone(e: graft.plans.ZoneFile, c: String) =
        e.cols(c).asInstanceOf[LongZone]

      // IN over the clustered partkey: three scattered values — the
      // kept set must be exactly the files whose [lo, hi] contains one
      val ins = Seq(3L, 997L, 1499L)
      val c1 = frame.filter(col("l_partkey").isin(ins: _*)).count()
      val expect1 = entries.count(e => e.cols("l_partkey") match {
        case LongZone(lo, hi, _) => ins.exists(v => lo <= v && v <= hi)
        case AllNullZone => false
        case _ => true
      })
      assert(idx.lastKept.get() === expect1.toLong,
        s"IN must keep exactly the bounds-hit files " +
          s"(${idx.lastKept.get()} vs $expect1)")
      assert(idx.lastKept.get() < idx.lastTotal.get(),
        "a 3-value IN over the clustered dimension must prune")
      assert(c1 === raw.filter(col("l_partkey").isin(ins: _*)).count())

      // a >10-element list optimizer-compiles to INSET — same kept-set
      // contract as IN
      val bigIns = (0 until 12).map(k => 3L + 131L * k)
      val c1b = frame.filter(col("l_partkey").isin(bigIns: _*)).count()
      val expect1b = entries.count(e => e.cols("l_partkey") match {
        case LongZone(lo, hi, _) => bigIns.exists(v => lo <= v && v <= hi)
        case AllNullZone => false
        case _ => true
      })
      assert(idx.lastKept.get() === expect1b.toLong,
        s"INSET must keep exactly the bounds-hit files " +
          s"(${idx.lastKept.get()} vs $expect1b)")
      assert(c1b === raw.filter(col("l_partkey").isin(bigIns: _*)).count())

      // IsNull on the null-bearing partkey: only files whose footer
      // counted zero nulls are refutable
      val c2 = frame.filter(col("l_partkey").isNull).count()
      val expect2 = entries.count(e => e.cols("l_partkey") match {
        case LongZone(_, _, 0L) => false
        case _ => true
      })
      assert(idx.lastKept.get() === expect2.toLong)
      assert(c2 === raw.filter(col("l_partkey").isNull).count())
      assert(c2 > 0, "the fixture's null residue must survive the layout")

      // OR of two disjoint orderkey ranges: kept = union of overlaps
      val b = raw.agg(min(col("l_orderkey")), max(col("l_orderkey")))
        .collect()(0)
      val (olo, ohi) = (b.getLong(0), b.getLong(1))
      val w = ohi - olo
      val pred = (col("l_orderkey") < olo + w / 20) ||
        (col("l_orderkey") > ohi - w / 20)
      val c3 = frame.filter(pred).count()
      val expect3 = entries.count(e => longZone(e, "l_orderkey") match {
        case LongZone(lo, hi, _) => lo < olo + w / 20 || hi > ohi - w / 20
      })
      assert(idx.lastKept.get() === expect3.toLong)
      assert(idx.lastKept.get() < idx.lastTotal.get() / 2,
        "two 5% tails must prune most of the layout")
      assert(c3 === raw.filter(pred).count())

      // STRING zone: equality on l_returnflag — no pruning power on
      // this near-uniform column (every file holds A..R), but the
      // refutation must be SOUND and the count exact
      val c4 = frame.filter(col("l_returnflag") === "N").count()
      assert(c4 === raw.filter(col("l_returnflag") === "N").count())
      // and a string range BELOW every value refutes everything
      val c5 = frame.filter(col("l_returnflag") < "A").count()
      assert(idx.lastKept.get() === 0L,
        "a string range below the global min must refute every file")
      assert(c5 === 0L)
      val _ = entries.head.cols("l_returnflag").asInstanceOf[StringZone]
    }
  }

  test("q175: refresh() makes a long-lived relation handle durable " +
      "across appends — the next action plans against the new " +
      "committed generation") {
    val dir = TempDirs.create("graft_zmfi_corp3")
    li(0 until 6000).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    withConfs("spark.graft.zindex.dir" -> TempDirs.create("graft_zmfi_root3")) {
      ZIndex.clearMemo()
      val (frame, idx) = ZIndex.zFrame(spark, dir)
      val n1 = frame.count()
      assert(n1 === 6000L)
      li(6000 until 7000).write.mode("append")
        .parquet(s"$dir/lineitem.parquet")
      // WITHOUT a refresh the handle keeps serving its snapshot (the
      // one-prior retention keeps those files readable)
      assert(frame.count() === n1,
        "an unrefreshed handle must keep serving its snapshot")
      idx.refresh() // stamp-miss → incremental append lands, new entries
      assert(frame.count() === 7000L,
        "after refresh the SAME DataFrame must see the appended rows")
    }
  }

  test("zFrame: a repeat over an unchanged feed launches zero jobs; " +
      "after an append or a mutation the schema and rows follow the " +
      "new generation") {
    val dir = TempDirs.create("graft_zmfi_corp5")
    val feed = s"$dir/lineitem.parquet"
    li(0 until 4000).write.mode("overwrite").parquet(feed)
    withConfs("spark.graft.zindex.dir" -> TempDirs.create("graft_zmfi_root5")) {
      ZIndex.clearMemo()
      val (first, _) = ZIndex.zFrame(spark, dir)
      assert(first.count() === 4000L)
      val ((again, _), jobs) = countJobs(ZIndex.zFrame(spark, dir))
      assert(jobs === 0,
        "a repeat relation over an unchanged feed must not infer its " +
          "schema again")
      assert(again.schema === first.schema)

      // append: the stamp changes, the schema is re-inferred and the
      // rows follow the appended generation
      li(4000 until 5000).write.mode("append").parquet(feed)
      val ((appended, _), appendJobs) = countJobs(ZIndex.zFrame(spark, dir))
      assert(appendJobs >= 1, "a changed feed must re-infer the schema")
      assert(appended.schema === spark.read.parquet(feed).schema)
      assert(appended.count() === 5000L)

      // mutation: the feed is rewritten with an added column; the new
      // relation carries it, and its rows equal the rewritten feed
      li(0 until 3000).withColumn("l_tax", col("l_suppkey") % 7)
        .write.mode("overwrite").parquet(feed)
      val (mutated, _) = ZIndex.zFrame(spark, dir)
      val raw = spark.read.parquet(feed)
      assert(mutated.schema === raw.schema)
      assert(mutated.schema.fieldNames.contains("l_tax"))
      def tally(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)), sum(col("l_tax")))
        .orderBy(col("l_returnflag")).collect().toSeq
      assert(tally(mutated) === tally(raw))
    }
  }
}
