package graft

import graft.operators.ZIndex
import graft.weather.{WeatherQueries, WeatherZServe}

/** r16 #4 — the weather gold landing + layouts live under a DURABLE
  * conf-rooted location, not a per-JVM temp dir. Pins:
  * (1) the resolved layout root is the stable shared root (nothing
  *     named like a per-JVM temp dir);
  * (2) a "fresh JVM" (every in-memory memo dropped: the weather
  *     generations, the ZIndex stamp memo, the scan-swap registry)
  *     re-resolves the SAME committed generation from disk — no gold
  *     re-land (landWrites unchanged) and no recluster (same
  *     (root, gen)) — and the heartbeat still serves; the serve
  *     relations are rebuilt from disk too, over the same generations. */
class WeatherGoldDurableSpec extends SparkSpec {

  test("a fresh JVM re-arms the gold serve from the durable root: " +
      "same committed generation, no re-land, heartbeat still serves") {
    // warm: land + cluster (or re-resolve a prior run's durable state)
    WeatherZServe.q182GoldHeartbeat(spark, Sf).collect()
    WeatherZServe.zGold(spark, Sf)
    val served0 = WeatherZServe.servedGenerations(spark, Sf)
    val t = WeatherZServe.goldAllTable(spark, Sf)
    val (r1, g1) = ZIndex.ensure(spark, Sf, t)
    assert(!r1.contains("graft_wx_gold_"),
      s"the root must not be a per-JVM temp dir, got $r1")
    assert(r1.contains("graft_wx_gold"),
      s"the root must be the durable shared location, got $r1")
    // fresh-JVM simulation: drop every in-memory memo the resolution
    // could ride; only the durable on-disk state remains
    WeatherQueries.clear()
    ZIndex.clearMemo()
    graft.plans.ZoneMapScanSwap.clear()
    val w0 = WeatherZServe.landWrites.get()
    val rows = WeatherZServe.q182GoldHeartbeat(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(WeatherZServe.servedGenerations(spark, Sf).isEmpty,
      "the fresh-JVM hooks must drop the held serve relations")
    val b0 = WeatherZServe.servedBuilds.get()
    WeatherZServe.zGold(spark, Sf)
    assert(WeatherZServe.servedBuilds.get() === b0 + 1 &&
      WeatherZServe.servedGenerations(spark, Sf) === served0,
      "the serve relations must re-resolve the same generations from disk")
    val (r2, g2) = ZIndex.ensure(spark, Sf, WeatherZServe.goldAllTable(spark, Sf))
    assert((r1, g1) === ((r2, g2)),
      "an unchanged corpus must re-resolve the SAME committed " +
        "generation from disk — no recluster")
    assert(WeatherZServe.landWrites.get() === w0,
      "an unchanged corpus must not re-land gold")
  }
}
