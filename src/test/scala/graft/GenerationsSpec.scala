package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LshPairs, StatsJoin, ZIndex, ZTable}
import graft.util.Generations

/** The one generation protocol ([[graft.util.Generations]]) and its
  * users. Pins:
  * (1) the helper: `open` keeps only committed numbered generations and
  *     sweeps every other `gen-*` entry; the consumed diff reads
  *     unchanged / append / mutated; a commit keeps `keep ∪ {latest,
  *     next}`; none of it launches a Spark job;
  * (2) per user (ZIndex, LshPairs, StatsJoin's typed layout): a planted
  *     uncommitted `gen-1` (payload, no marker) is invisible to readers,
  *     swept by the next maintenance, and an append then commits a
  *     generation equal to a fresh build;
  * (3) a memo-cold re-`ensure` of an unchanged feed launches no Spark
  *     job (ZIndex, LshPairs);
  * (4) a generation whose `consumed` (and LshPairs' `live`) is a
  *     Spark-written text dir is reused without a rebuild. */
class GenerationsSpec extends SparkSpec {

  private def fs(path: String) = Generations.fsOf(spark, path)

  private def withConfs[T](pairs: (String, String)*)(f: => T): T = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Rewrite `path` (a text file) as a Spark text dir of the same lines:
    * `part-00000-*.txt`, `_SUCCESS` and the `.crc` side files. */
  private def asSparkTextDir(path: String): Unit = {
    val lines = Generations.readLines(fs(path), path).get
    fs(path).delete(new Path(path), true)
    import spark.implicits._
    lines.toDS().coalesce(1).write.text(path)
    val names = new java.io.File(path).list()
    assert(names.exists(n => n.startsWith("part-00000-") && n.endsWith(".txt")))
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
  }

  test("open sweeps all but committed numbered generations; diff and " +
      "commit follow the consumed identities; no Spark job") {
    val root = TempDirs.create("graft_gens_root")
    val feedDir = TempDirs.create("graft_gens_feed")
    def touch(p: String): Unit = fs(p).create(new Path(p), true).close()
    touch(s"$feedDir/a.parquet"); touch(s"$feedDir/b.parquet")
    Seq(0, 1, 2).foreach(g => touch(s"$root/gen-$g/${Generations.Marker}"))
    touch(s"$root/gen-3/payload")      // crash leftover: no marker
    touch(s"$root/gen-9f3ab2/payload") // a hash-named dir of an old scheme
    touch(s"$root/keep-me")
    val (_, jobs) = countJobs {
      val g = Generations.open(fs(root), root)
      assert(g.committed === Seq(0L, 1L, 2L) && g.next === 3L)
      assert(!fs(root).exists(new Path(s"$root/gen-3")))
      assert(!fs(root).exists(new Path(s"$root/gen-9f3ab2")))
      assert(fs(root).exists(new Path(s"$root/keep-me")))
      val feed = Generations.parts(spark, feedDir)
      Generations.writeLines(fs(root), s"$root/gen-2/consumed",
        feed.take(1).map(Generations.identity))
      assert(g.diff(feed) === Generations.Appended(feed.drop(1)))
      assert(g.diff(feed.take(1)) === Generations.Unchanged)
      assert(g.diff(feed.drop(1)) === Generations.Mutated)
      assert(g.commit(feed, keep = Set(0L)) === 3L)
      assert(Generations.latestCommitted(fs(root), root) === Some(3L))
      // kept: 0 (asked), 2 (the prior latest), 3 (the new one)
      assert(Generations.open(fs(root), root).committed === Seq(0L, 2L, 3L))
      assert(Generations.open(fs(root), root).diff(feed) ===
        Generations.Unchanged)
    }
    assert(jobs === 0, "the protocol is driver-side FS IO only")
  }

  // ------------------------------------------------------------------
  // ZIndex
  // ------------------------------------------------------------------

  private def zRows(n: Range) = {
    import spark.implicits._
    n.map(i => ((i * 7919L) % 500, (i * 104729L) % 900, s"v$i"))
      .toDF("x", "y", "v")
  }

  private def zTable(root: String) = ZTable("gens_spec",
    d => s"$d/t.parquet", (s, d) => s.read.parquet(s"$d/t.parquet"),
    "x", "y", nFiles = 4, rootOverride = Some(root))

  private def rowsOf(df: DataFrame): Seq[(Long, Long, String)] =
    df.select(col("x"), col("y"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted

  private def zLayoutRows(dir: String, t: ZTable) =
    rowsOf(ZIndex.zFrame(spark, dir, t)._1)

  test("ZIndex: a planted uncommitted generation is invisible, swept by " +
      "the next ensure, and an append commits a fresh build's rows") {
    val dir = TempDirs.create("graft_gens_zcorp")
    zRows(0 until 2000).coalesce(1).write.parquet(s"$dir/t.parquet")
    val t = zTable(TempDirs.create("graft_gens_zroot") + "/z")
    val r = t.rootOverride.get
    ZIndex.clearMemo()
    assert(ZIndex.ensure(spark, dir, t) === ((r, 0L)))
    // crash shape: gen-1's payload written, its marker never created
    zRows(5000 until 5100).write.parquet(s"$r/gen-1/files")
    zRows(5000 until 5001).write.parquet(s"$r/gen-1/zonemap")
    assert(Generations.latestCommitted(fs(r), r) === Some(0L))
    assert(zLayoutRows(dir, t) === rowsOf(spark.read.parquet(s"$dir/t.parquet")),
      "readers resolve the committed gen-0")
    ZIndex.clearMemo()
    assert(ZIndex.ensure(spark, dir, t) === ((r, 0L)))
    assert(!fs(r).exists(new Path(s"$r/gen-1")), "the leftover is swept")
    val a0 = ZIndex.zAppends.get()
    zRows(2000 until 2300).coalesce(1).write.mode("append")
      .parquet(s"$dir/t.parquet")
    assert(ZIndex.ensure(spark, dir, t) === ((r, 1L)))
    assert(ZIndex.zAppends.get() === a0 + 1)
    val fresh = zTable(TempDirs.create("graft_gens_zfresh") + "/z")
    assert(zLayoutRows(dir, t) === zLayoutRows(dir, fresh))
    assert(zLayoutRows(dir, t) === rowsOf(spark.read.parquet(s"$dir/t.parquet")))
  }

  test("ZIndex: a memo-cold re-ensure of an unchanged feed launches no " +
      "Spark job and reuses a generation whose consumed is a Spark text dir") {
    val dir = TempDirs.create("graft_gens_zcorp2")
    zRows(0 until 1000).coalesce(1).write.parquet(s"$dir/t.parquet")
    val t = zTable(TempDirs.create("graft_gens_zroot2") + "/z")
    val r = t.rootOverride.get
    ZIndex.clearMemo()
    ZIndex.ensure(spark, dir, t)
    ZIndex.clearMemo()
    val (g, jobs) = countJobs(ZIndex.ensure(spark, dir, t))
    assert(g === ((r, 0L)))
    assert(jobs === 0, s"a memo-cold unchanged re-ensure ran $jobs job(s)")
    asSparkTextDir(s"$r/gen-0/consumed")
    ZIndex.clearMemo()
    val (b0, a0) = (ZIndex.zBuilds.get(), ZIndex.zAppends.get())
    assert(ZIndex.ensure(spark, dir, t) === ((r, 0L)))
    assert(ZIndex.zBuilds.get() === b0 && ZIndex.zAppends.get() === a0,
      "a Spark-written consumed dir must read as the same identities")
  }

  // ------------------------------------------------------------------
  // LshPairs
  // ------------------------------------------------------------------

  /** Near-dup families: docs (2f, 2f+1) share a 12-token base. */
  private def docs(ids: Seq[Int]) = {
    import spark.implicits._
    ids.map { i =>
      val fam = i / 2
      val base = (0 until 12).map(k => s"w${(fam * 7 + k * 3) % 9973}")
        .mkString(" ")
      (i.toLong, "src", if (i % 2 == 0) base else s"$base tail$i")
    }.toDF("doc_id", "source", "text")
  }

  private def pairs(dir: String): Seq[(Long, Long, Double)] =
    LshPairs.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("LshPairs: a planted uncommitted generation is invisible, swept " +
      "by the next ensure, and an append commits a fresh build's pairs") {
    val dir = TempDirs.create("graft_gens_lcorp")
    docs(0 until 120).coalesce(1).write.parquet(s"$dir/documents.parquet")
    withConfs("spark.graft.lshpairs.dir" -> TempDirs.create("graft_gens_lroot")) {
      LshPairs.clearMemo()
      val (r, g0) = LshPairs.ensure(spark, dir)
      assert(g0 === 0L)
      val p0 = pairs(dir)
      assert(p0.nonEmpty)
      // crash shape: payload and live list written, no marker
      import spark.implicits._
      Seq((1L, 2L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
        .write.parquet(s"$r/gen-1/pairs_delta")
      Generations.writeLines(fs(r), s"$r/gen-1/live", Seq("1"))
      assert(pairs(dir) === p0, "readers resolve the committed gen-0")
      LshPairs.clearMemo()
      assert(LshPairs.ensure(spark, dir) === ((r, 0L)))
      assert(!fs(r).exists(new Path(s"$r/gen-1")), "the leftover is swept")
      val a0 = LshPairs.appends.get()
      docs(1000 until 1040).coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      assert(LshPairs.ensure(spark, dir) === ((r, 1L)))
      assert(LshPairs.appends.get() === a0 + 1)
      val freshDir = TempDirs.create("graft_gens_lfresh")
      spark.read.parquet(s"$dir/documents.parquet")
        .write.parquet(s"$freshDir/documents.parquet")
      assert(pairs(dir) === pairs(freshDir))
    }
  }

  test("LshPairs: a memo-cold re-ensure of an unchanged feed launches no " +
      "Spark job and reuses Spark-text-dir consumed and live lists") {
    val dir = TempDirs.create("graft_gens_lcorp2")
    docs(0 until 80).coalesce(1).write.parquet(s"$dir/documents.parquet")
    withConfs("spark.graft.lshpairs.dir" -> TempDirs.create("graft_gens_lroot2")) {
      LshPairs.clearMemo()
      val (r, _) = LshPairs.ensure(spark, dir)
      val p0 = pairs(dir)
      LshPairs.clearMemo()
      val (g, jobs) = countJobs(LshPairs.ensure(spark, dir))
      assert(g === ((r, 0L)))
      assert(jobs === 0, s"a memo-cold unchanged re-ensure ran $jobs job(s)")
      asSparkTextDir(s"$r/gen-0/consumed")
      asSparkTextDir(s"$r/gen-0/live")
      LshPairs.clearMemo()
      val (b0, a0) = (LshPairs.fullBuilds.get(), LshPairs.appends.get())
      assert(pairs(dir) === p0)
      assert(LshPairs.fullBuilds.get() === b0 && LshPairs.appends.get() === a0)
    }
  }

  // ------------------------------------------------------------------
  // StatsJoin typed layout
  // ------------------------------------------------------------------

  private def ev(ids: Range, day: Int) = {
    import spark.implicits._
    ids.map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-02-$day%02d 10:00:00"),
        (i % 50).toLong, Seq("click", "view")(i % 2), i / 10.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  private def layoutRows(parts: Map[(String, String), String])
      : Seq[(String, Long, String, Long)] =
    spark.read.schema("et STRING, user_id BIGINT, d DATE, v BIGINT")
      .parquet(parts.values.toSeq.sorted: _*).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDate(2).toString,
        r.getLong(3))).toSeq.sorted

  test("StatsJoin: a planted uncommitted generation is invisible, swept " +
      "by the next maintenance, and an append commits a fresh build's rows") {
    val dir = TempDirs.create("graft_gens_scorp")
    ev(1 to 400, 1).coalesce(1).write.parquet(s"$dir/events.parquet")
    val lay = TempDirs.create("graft_gens_sroot")
    val built = withConfs("spark.graft.evlayout.dir" -> lay) {
      val p0 = StatsJoin.ensureTypedLayout(spark, dir)
      assert(p0.values.forall(_.startsWith(s"$lay/gen-0/")))
      val rows0 = layoutRows(p0)
      // crash shape: a partition and a manifest naming it, no marker
      ev(900 to 910, 9).write.parquet(s"$lay/gen-1/parts/pt=click/pd=2024-02-09")
      Generations.writeLines(fs(lay), s"$lay/gen-1/manifest",
        Seq("1\tclick\t2024-02-09"))
      assert(Generations.latestCommitted(fs(lay), lay) === Some(0L))
      val p1 = StatsJoin.ensureTypedLayout(spark, dir)
      assert(p1 === p0 && layoutRows(p1) === rows0,
        "readers resolve the committed gen-0")
      assert(!fs(lay).exists(new Path(s"$lay/gen-1")), "the leftover is swept")
      val b0 = StatsJoin.layoutBuilds.get()
      graft.streaming.EventsStream.landFeedFile(
        ev(401 to 600, 2), s"$dir/events.parquet", "append01")
      val p2 = StatsJoin.ensureTypedLayout(spark, dir)
      assert(StatsJoin.layoutBuilds.get() === b0, "an append, not a rebuild")
      assert(Generations.latestCommitted(fs(lay), lay) === Some(1L))
      layoutRows(p2)
    }
    val fresh = withConfs("spark.graft.evlayout.dir" ->
        TempDirs.create("graft_gens_sfresh")) {
      layoutRows(StatsJoin.ensureTypedLayout(spark, dir))
    }
    assert(built === fresh)
  }
}
