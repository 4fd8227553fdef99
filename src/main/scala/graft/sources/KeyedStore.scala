package graft.sources

import graft.{Engine, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Primary-key point-lookup store — the serving-latency tier the
  * reference gets from Kudu's keyed scans (`KuduContext` single-key
  * reads feeding `initialRDD`, `connected_car/ConnectedCarStreaming
  * .scala:69-83`). Rows are range-clustered AND sorted on the key, so
  * each file owns a disjoint key interval; the per-file key-band
  * manifest ([[RangeManifest]]) lets a k-key multi-get open at most k
  * files, and the pushed key filter skips to one row group inside each
  * — O(|keys| files) independent of store size.
  *
  * The latency-gap memo the design owes (SURVEY §7): at sf0.01 the
  * 10-key multi-get opens 10 of 32 files and its read beats the full
  * scan-filter, but every wall is still 100 ms-class — Spark's
  * job-launch + planning floor swamps the saved bytes at toy scale
  * (the spec prints all three walls). A true ms-class serving path
  * needs a resident index process (what Kudu IS); for a batch analytics
  * engine the pruned probe is the right answer and the remaining gap is
  * documented, not hidden.
  */
object KeyedStore extends QueryPack {

  def manifestPath(storePath: String): String = storePath + ".manifest"

  /** Write `df` clustered+sorted by `key` into `files` range files and
    * the key-band manifest next to it — one range shuffle, one
    * aggregate, nothing collected. */
  def build(df: DataFrame, key: String, path: String, files: Int): Unit =
    RangeManifest.writeClustered(df, key, files, path, manifestPath(path))

  /** Per-JVM store cache: dir → store path (build once, probe many —
    * the family's amortization contract). */
  private val built = scala.collection.mutable.Map.empty[String, String]

  def store(s: SparkSession, dir: String): String = synchronized {
    built.getOrElseUpdate(dir, {
      val path = Engine.storePath("graft-keyed-store", dir)
      build(Tables.customer(s, dir), "c_custkey", path, files = 32)
      path
    })
  }

  /** Files whose key band can hold any of `keys` ([[RangeManifest]]). */
  def filesFor(m: DataFrame, keys: Seq[Long]): Array[String] =
    RangeManifest.filesFor(m, keys)

  /** The deterministic probe key set: 10 evenly spread positions across
    * the store's key span (keys that miss simply return no row — both
    * engines agree). */
  def probeKeys(umn: Long, umx: Long): Seq[Long] =
    (1 to 10).map(i => umn + (umx - umn + 1) * i / 12).distinct

  /** q99: multi-get of 10 point keys served through the key manifest —
    * opens only the files owning the probed keys (≤10 of 32,
    * spec-asserted), skips to their row groups via the pushed key
    * filter, never scans the store. Oracle-exact: DuckDB restates the
    * key arithmetic and filters the plain table. */
  def q99PointLookup(s: SparkSession, dir: String): DataFrame = {
    val path = store(s, dir)
    val m = s.read.parquet(manifestPath(path))
    val r = m.agg(min(col("mn")), max(col("mx"))).head()
    val keys = probeKeys(r.getLong(0), r.getLong(1))
    val selected = filesFor(m, keys)
    require(selected.nonEmpty, s"manifest selected no files for $keys")
    s.read.parquet(selected: _*)
      .filter(col("c_custkey").isin(keys: _*))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val queries: Map[String, Q] = Map(
    "q99_point_lookup" -> (q99PointLookup _))

  val oracleSql: Map[String, String] = Map(
    "q99_point_lookup" ->
      """WITH mm AS (
        |  SELECT min(c_custkey) AS umn, max(c_custkey) AS umx FROM customer),
        |keys AS (
        |  SELECT DISTINCT umn + ((umx - umn + 1) * i) // 12 AS k
        |  FROM mm, range(1, 11) t(i))
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer JOIN keys ON c_custkey = k
        |ORDER BY c_custkey""".stripMargin)
}
