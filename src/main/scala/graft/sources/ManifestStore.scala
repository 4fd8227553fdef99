package graft.sources

import graft.{Engine, Num, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-statistics manifest — the middle tier of the store family's
  * pruning ladder: [[PartitionedStore]] prunes DIRECTORIES on partition
  * values, this prunes FILES on collected min/max column stats, and
  * [[ZOrderStore]] prunes ROW GROUPS inside the files that survive.
  *
  * This is the table-format trick (Delta/Iceberg keep exactly such
  * per-file stats in their transaction log): plain parquet makes the
  * planner list and open every file, with skipping only at row-group
  * level inside each. The manifest and its range prune are
  * [[RangeManifest]]'s; the layout invests one range shuffle at build
  * time (files = key ranges). Results never depend on the manifest (it
  * only narrows which files are READ), so the probe query stays
  * oracle-exact.
  */
object ManifestStore extends QueryPack {

  /** The manifest table's location for a store path. */
  def manifestPath(storePath: String): String = storePath + ".manifest"

  /** Write `ev` clustered by user_id into `files` range files and the
    * key-band manifest TABLE next to it — nothing collected. */
  def build(ev: DataFrame, path: String, files: Int): Unit =
    RangeManifest.writeClustered(ev, "user_id", files, path, manifestPath(path))

  def manifest(s: SparkSession, storePath: String): DataFrame =
    s.read.parquet(manifestPath(storePath))

  /** Per-JVM store cache: dir → store path — q28/q76 amortization
    * contract, per source dir. */
  private val built = scala.collection.mutable.Map.empty[String, String]

  def store(s: SparkSession, dir: String): String = synchronized {
    built.getOrElseUpdate(dir, {
      val ev = Tables.eventsTs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val path = Engine.storePath("graft-manifest-store", dir)
      build(ev, path, files = 64)
      path
    })
  }

  /** Cohort rollup planned through the manifest: only files whose
    * [min, max] overlaps the user range are opened at all; the exact
    * predicate still applies inside them. The spec asserts the scan's
    * numFiles is the manifest subset, not the store's file count; the
    * result equals the plain full-store filter (oracle-exact). */
  def q82ManifestScan(s: SparkSession, dir: String): DataFrame = {
    val path = store(s, dir)
    val m = manifest(s, path)
    val r = m.agg(min(col("mn")), max(col("mx"))).head()
    val (umn, umx) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = (umn + (umx - umn + 1) * 3 / 10, umn + (umx - umn + 1) * 6 / 10)
    val selected = RangeManifest.filesOverlapping(m, lo, hi)
    require(selected.nonEmpty, s"manifest selected no files for [$lo, $hi]")
    s.read.parquet(selected: _*)
      .filter(col("user_id") >= lo && col("user_id") <= hi)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Num.moneySum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, Q] = Map(
    "q82_manifest_scan" -> (q82ManifestScan _))

  val oracleSql: Map[String, String] = Map(
    "q82_manifest_scan" ->
      s"""WITH e AS (
         |  SELECT user_id, value FROM events),
         |mm AS (
         |  SELECT min(user_id) AS umn, max(user_id) AS umx FROM e),
         |b AS (
         |  SELECT umn + ((umx - umn + 1) * 3) // 10 AS lo,
         |    umn + ((umx - umn + 1) * 6) // 10 AS hi FROM mm)
         |SELECT user_id, count(*) AS n_events,
         |  ${Num.sql.moneySum("value")} AS sum_value
         |FROM e, b WHERE user_id >= lo AND user_id <= hi
         |GROUP BY user_id ORDER BY user_id""".stripMargin)
}
