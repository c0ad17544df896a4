package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{JoinSynopsis, KeySynopsis}
import graft.weather.WeatherStats

/** [[JoinSynopsis.collected]] — the one-collect synopsis the weather
  * dims are registered with — equals [[JoinSynopsis.build]] field by
  * field: on both dims, on a key domain past k (saturated), with null
  * and repeated keys, and with string bounds that Java's UTF-16 order
  * and Spark's UTF-8 byte order rank differently. */
class JoinSynopsisCollectedSpec extends SparkSpec {

  private def sameFields(df: DataFrame, key: String, k: Int): KeySynopsis = {
    val b = JoinSynopsis.build("t", df, col(key), k)
    val c = JoinSynopsis.collected("t", df, col(key), k)
    assert(c.name === b.name)
    assert(c.rows === b.rows, s"$key: rows")
    assert(c.k === b.k)
    assert(c.kept === b.kept, s"$key: kept hashes and their frequencies")
    assert(c.keyMin === b.keyMin, s"$key: key minimum")
    assert(c.keyMax === b.keyMax, s"$key: key maximum")
    c
  }

  test("collected equals build field by field on the weather dims") {
    val (st, pc) = WeatherStats.dims(spark, Sf)
    assert(sameFields(st, "station_id", JoinSynopsis.K).rows > 0)
    assert(sameFields(pc, "postal_code", JoinSynopsis.K).rows > 0)
  }

  test("collected equals build past saturation, with null and repeated " +
      "keys, for long and string keys") {
    import spark.implicits._
    val df = spark.range(0, 900).select(
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 300)
        .as("n"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(concat(lit("k"), (col("id") % 250).cast("string")))
        .as("s"))
    val n = sameFields(df, "n", 16)
    assert(n.kept.size === 16 && n.distinctEst > 16, "the long key saturates")
    assert(sameFields(df, "s", 16).kept.size === 16)
    // U+FF21 sorts below U+1F600 in UTF-16 (a surrogate pair), above it
    // in UTF-8 bytes
    val wide = Seq("Ａ", "😀", "a").toDF("w")
    val w = sameFields(wide, "w", 16)
    assert(w.keyMax === Some("😀"))
  }
}
