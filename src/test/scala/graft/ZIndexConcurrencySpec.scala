package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ZIndex, ZTable}

/** ZIndex layout builds under concurrent callers of one session. Pins:
  * (1) a plain `ensure` racing an `ensureAll` fan-out over the same root
  *     finishes — the interleaving that once closed a cycle through
  *     `Thread.join` (the fan-out joined a worker waiting for a root lock
  *     whose holder waited for the fan-out's conf lock) is forced with
  *     latches, and because `ThreadMXBean` cannot see a join cycle the
  *     bounded wait is the check;
  * (2) the layouts both threads wrote are INT64 TIMESTAMP(MICROS) with
  *     footer min/max, and every zone-map row carries timestamp bounds;
  * (3) a `rangeClusterOnce` producer is evaluated once per build when the
  *     write runs in the pinned-conf clone of the session (the clone
  *     shares the caller's cache manager, so the sampling pass and the
  *     shuffle read one persisted copy). */
class ZIndexConcurrencySpec extends SparkSpec {

  private val Rows = 2000L

  /** A feed with a timestamp column, written with the session's default
    * (INT96) timestamp type — the layout must not inherit it. */
  private def feed(): String = {
    val dir = TempDirs.create("graft_zrace_feed")
    spark.range(0, Rows).select(
      (col("id") % 97).as("x"), (col("id") * 7919 % 1000).as("y"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"))
      .write.parquet(s"$dir/t.parquet")
    dir
  }

  private def read(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/t.parquet")

  private def table(name: String,
      load: (SparkSession, String) => DataFrame = read) =
    ZTable(name, d => s"$d/t.parquet", load, "x", "y", 4,
      rootOverride = Some(TempDirs.create(s"graft_zrace_$name")))

  /** `f` on a daemon thread; the slot holds its result or its failure. */
  private def fork[T](name: String)(f: => T)
      : (Thread, AtomicReference[Either[Throwable, T]]) = {
    val out = new AtomicReference[Either[Throwable, T]]()
    val t = new Thread(() =>
      out.set(try Right(f) catch { case e: Throwable => Left(e) }), name)
    t.setDaemon(true)
    t.start()
    (t, out)
  }

  private def stacks(prefixes: String*): String =
    Thread.getAllStackTraces.asScala.collect {
      case (t, st) if prefixes.exists(t.getName.startsWith) =>
        s"${t.getName} ${t.getState}\n  " + st.take(12).mkString("\n  ")
    }.mkString("\n")

  /** Every layout file of (root, gen): `ts` is INT64 TIMESTAMP(MICROS)
    * with footer min/max in every row group; every zone-map row holds
    * timestamp bounds. */
  private def assertTimestampZones(root: String, gen: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$root/gen-$gen/files")
    val files = dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val footer = reader.getFooter
        val ts = footer.getFileMetaData.getSchema
          .getType(Array("ts"): _*).asPrimitiveType
        assert(ts.getPrimitiveTypeName ===
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
        ts.getLogicalTypeAnnotation match {
          case a: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            assert(a.getUnit ===
              org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS)
          case other => fail(s"${st.getPath}: ts annotated $other")
        }
        footer.getBlocks.asScala.foreach { b =>
          val stats = b.getColumns.asScala.find(_.getPath.toDotString == "ts")
            .get.getStatistics
          assert(stats.hasNonNullValue, s"${st.getPath}: no ts min/max")
        }
      } finally reader.close()
    }
    val zm = spark.read.parquet(s"$root/gen-$gen/zonemap")
    assert(zm.count() === files.length)
    assert(zm.filter(col("ts__min").isNull || col("ts__max").isNull)
      .count() === 0)
  }

  test("an ensure racing an ensureAll over the same root finishes; " +
      "both layouts are INT64 micros with timestamp zones") {
    val dir = feed()
    val aLoading = new CountDownLatch(1) // a fan-out worker is building A
    val bLoading = new CountDownLatch(1) // the single ensure holds B's root
    val a = table("a", (s, d) => { aLoading.countDown(); read(s, d) })
    // B's first load runs under B's root lock, on the single ensure's
    // thread: it waits there until the fan-out's workers are running
    val b = table("b", (s, d) => {
      bLoading.countDown()
      aLoading.await(60, TimeUnit.SECONDS)
      read(s, d)
    })
    val (single, one) = fork("zrace-single")(ZIndex.ensure(spark, dir, b))
    assert(bLoading.await(60, TimeUnit.SECONDS))
    val (fanOut, all) = fork("zrace-fanout")(ZIndex.ensureAll(spark, dir, Seq(a, b)))
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(180)
    Seq(single, fanOut).foreach(t =>
      t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
    if (single.isAlive || fanOut.isAlive)
      fail("ensure/ensureAll did not finish within 180 s:\n" +
        stacks("zrace-", "zindex-ensure-"))
    val bOne = one.get.fold(e => throw e, identity)
    val Seq(aAll, bAll) = all.get.fold(e => throw e, identity)
    assert(bAll === bOne) // the fan-out's B is the single ensure's build
    Seq(aAll, bAll).foreach { case (root, gen) => assertTimestampZones(root, gen) }
  }

  test("a rangeClusterOnce producer runs once per build through the " +
      "pinned-conf clone") {
    val dir = feed()
    val evals = spark.sparkContext.longAccumulator("zrace-producer-evals")
    val tick = udf((x: Long) => { evals.add(1); x })
    val t = table("once").copy(
      prep = Some(df => df.withColumn("x", tick(col("x")))),
      clusterWith = Some((df, n) =>
        ZIndex.rangeClusterOnce(df, n, col("x"), col("y"))))
    val (root, gen) = ZIndex.ensure(spark, dir, t)
    assert(evals.value === Rows)
    assert(spark.read.parquet(s"$root/gen-$gen/files").count() === Rows)
    assertTimestampZones(root, gen)
  }
}
