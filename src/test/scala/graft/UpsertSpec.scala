package graft

import graft.sources.Upsert
import graft.sources.Upsert.Mode

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    TempDirs.create("graft_upsert") + "/" + "table"

  test("LastWins keeps the newest version per key (ON CONFLICT DO UPDATE)") {
    val existing = Seq(("a", 1, 10.0), ("b", 1, 20.0)).toDF("k", "version", "v")
    val incoming = Seq(("b", 2, 99.0), ("c", 1, 30.0)).toDF("k", "version", "v")
    val out = Upsert.merge(Some(existing), incoming, Seq("k"), "version", Mode.LastWins)
      .orderBy("k").collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq === Seq(("a", 1, 10.0), ("b", 2, 99.0), ("c", 1, 30.0)))
  }

  test("FirstWins keeps the existing row per key (ON CONFLICT DO NOTHING)") {
    val existing = Seq(("a", 1, 10.0), ("b", 1, 20.0)).toDF("k", "version", "v")
    val incoming = Seq(("b", 2, 99.0), ("c", 1, 30.0)).toDF("k", "version", "v")
    val out = Upsert.merge(Some(existing), incoming, Seq("k"), "version", Mode.FirstWins)
      .orderBy("k").collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq === Seq(("a", 1, 10.0), ("b", 1, 20.0), ("c", 1, 30.0)))
  }

  test("parquet merge is idempotent: re-running the same batch is a no-op") {
    val path = tmp()
    val batch = Seq(("a", 1, 10.0), ("b", 1, 20.0)).toDF("k", "version", "v")
    Upsert.mergeIntoParquet(batch, path, Seq("k"), "version", Mode.LastWins)
    val once = spark.read.parquet(path).orderBy("k").collect().toSeq
    Upsert.mergeIntoParquet(batch, path, Seq("k"), "version", Mode.LastWins)
    val twice = spark.read.parquet(path).orderBy("k").collect().toSeq
    assert(once === twice)
    assert(twice.map(_.getString(0)) === Seq("a", "b"))
  }

  test("parquet merge works against an explicit file: URI (Hadoop FS path)") {
    val path = "file://" + tmp()
    Upsert.mergeIntoParquet(Seq(("a", 1, 10.0)).toDF("k", "version", "v"),
      path, Seq("k"), "version", Mode.LastWins)
    Upsert.mergeIntoParquet(Seq(("a", 2, 77.0), ("b", 1, 5.0)).toDF("k", "version", "v"),
      path, Seq("k"), "version", Mode.LastWins)
    val out = spark.read.parquet(path).orderBy("k")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq === Seq(("a", 2, 77.0), ("b", 1, 5.0)))
    // staging dir must be gone after the swap
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".staging")))
  }

  test("parquet merge applies updates across batches") {
    val path = tmp()
    Upsert.mergeIntoParquet(Seq(("a", 1, 10.0)).toDF("k", "version", "v"),
      path, Seq("k"), "version", Mode.LastWins)
    Upsert.mergeIntoParquet(Seq(("a", 2, 77.0), ("b", 1, 5.0)).toDF("k", "version", "v"),
      path, Seq("k"), "version", Mode.LastWins)
    val out = spark.read.parquet(path).orderBy("k")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq === Seq(("a", 2, 77.0), ("b", 1, 5.0)))
  }

  test("a crash between the swap's delete and rename loses no rows: " +
      "the next merge rolls the staged table forward first") {
    val path = tmp()
    Upsert.mergeIntoParquet(Seq(("a", 1, 10.0), ("b", 1, 20.0)).toDF("k", "version", "v"),
      path, Seq("k"), "version", Mode.LastWins)
    // the state a crash mid-swap leaves: the next merge's staged copy is
    // complete (parquet wrote its _SUCCESS), the target is already deleted
    Seq(("a", 2, 11.0), ("b", 1, 20.0)).toDF("k", "version", "v")
      .write.parquet(path + ".staging")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Upsert.mergeIntoParquet(Seq(("c", 1, 30.0)).toDF("k", "version", "v"),
      path, Seq("k"), "version", Mode.LastWins)
    val out = spark.read.parquet(path).orderBy("k")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq === Seq(("a", 2, 11.0), ("b", 1, 20.0), ("c", 1, 30.0)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".staging")))
  }
}
