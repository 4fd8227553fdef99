package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One manifest row: a data file and the [mn, mx] band of its keys.
  * Top-level (not nested in the object) so its Encoder stays
  * codegen-compatible. */
case class Band(file: String, mn: Long, mx: Long)

/** The store family's per-file key-band manifest: the one rule every
  * store uses to open only the files that can hold a key. A manifest is
  * a parquet TABLE of (file, mn, mx) rows, one per data file, kept next
  * to the data — never a driver-held array, so a 10⁶-file store has a
  * 10⁶-row manifest that planning filters cluster-side (the Delta/Iceberg
  * stats-log contract). [[KeyedStore]], [[ManifestStore]], the index
  * stores, the streaming segment sinks and [[VersionedStore]]'s
  * per-version manifests all read and write it here.
  *
  *  - COMPUTE: one distributed min/max aggregate grouped by source file
  *    ([[of]]); file names are written canonical
  *    ([[VersionedStore.canonCol]]). Readers also accept the `file:/…`
  *    URI form older manifests carry — both resolve to the same file.
  *  - PRUNE: a file can hold key k iff mn <= k <= mx, and a key in
  *    [lo, hi] iff mx >= lo && mn <= hi. Bands over-approximate (a band
  *    wider than the file's surviving keys stays correct), so pruning
  *    narrows which files are READ and never changes a result. The key
  *    input picks the physical form: a `Seq` of keys is one literal
  *    predicate over the manifest table (one job, only the selected
  *    paths collected); a `DataFrame` key batch broadcast-joins the
  *    driver-held bands; a serving loop prunes a loaded `Array[Band]` in
  *    the driver, paying no job per hop.
  *  - VERSIONS: a [[VersionedStore]] manifest carries its bands in LONG
  *    key space ([[VersionedStore.keyLong]]: integral keys cast,
  *    string/binary keys hash). A manifest written without bands (a
  *    batch build, a compaction) is rebuilt from its member files on
  *    read; write-path callers heal it by writing the rebuilt bands back.
  */
object RangeManifest {

  /** Per-file bands of `data` over `key`: (file, mn, mx), distributed. */
  def of(data: DataFrame, key: Column): DataFrame =
    data.groupBy(VersionedStore.canonCol(input_file_name()).as("file"))
      .agg(min(key).as("mn"), max(key).as("mx"))

  /** Write the bands of the parquet files under `dataDir` over `keyCol`
    * (in the column's own type) to `to` — nothing collected. */
  def write(s: SparkSession, dataDir: String, keyCol: String, to: String): Unit =
    of(s.read.parquet(dataDir), col(keyCol))
      .write.mode(SaveMode.Overwrite).parquet(to)

  /** Write `df` range-clustered on `key` into `files` files, each
    * sorted on `sortCols` (default: the key), then their bands to
    * `manifest` — the layout whose bands are disjoint, so a point probe
    * opens one file per key. */
  def writeClustered(df: DataFrame, key: String, files: Int, path: String,
      manifest: String, sortCols: Seq[String] = Nil): Unit = {
    df.repartitionByRange(files, col(key))
      .sortWithinPartitions((if (sortCols.isEmpty) Seq(key) else sortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
    write(df.sparkSession, path, key, manifest)
  }

  /** Bands of exactly `files` in long key space — a commit's read-back
    * of the files it wrote, O(those files). */
  def collect(s: SparkSession, files: Seq[String], keyCol: String): Array[Band] =
    if (files.isEmpty) Array.empty
    else {
      import s.implicits._
      val data = s.read.parquet(files: _*)
      of(data, VersionedStore.keyLong(data, keyCol)).as[Band].collect()
    }

  /** A manifest loaded into bounded driver state (one row per file), for
    * serving loops that prune per hop with the in-driver `filesFor`. */
  def load(s: SparkSession, manifest: String): Array[Band] = {
    import s.implicits._
    s.read.parquet(manifest).select(col("file"), col("mn"), col("mx"))
      .as[Band].collect()
  }

  /** Overwrite version `v`'s manifest with `bands`: one sorted file. */
  def writeVersion(s: SparkSession, path: String, v: Int,
      bands: Seq[Band]): Unit = {
    import s.implicits._
    bands.sortBy(_.file).toDF()
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(VersionedStore.manifestPath(path, v))
  }

  /** Bands of version `v`: read off its manifest, or rebuilt from the
    * member files when the manifest carries none. `heal` writes the
    * rebuilt bands back, so the next call reads k manifest rows and no
    * data file; only callers under the single-writer discipline (the
    * maintenance lease) may heal — read paths and the upsert sink pass
    * false and leave the manifest as it is. */
  def versionBands(s: SparkSession, path: String, v: Int, keyCol: String,
      heal: Boolean): Array[Band] = {
    import s.implicits._
    val mf = s.read.parquet(VersionedStore.manifestPath(path, v))
    if (mf.columns.contains("mn") && mf.columns.contains("mx"))
      mf.select(col("file"), col("mn"), col("mx")).as[Band].collect()
    else {
      val rebuilt = collect(s,
        mf.select(col("file")).as[String].collect().toIndexedSeq, keyCol)
      if (heal && rebuilt.nonEmpty) writeVersion(s, path, v, rebuilt)
      rebuilt
    }
  }

  /** The band in scope can hold key `k`. */
  private[graft] def holds(k: Column): Column = col("mn") <= k && col("mx") >= k

  /** Files of manifest table `m` whose band can hold one of `keys` (longs
    * or strings, in the manifest's key type) — one literal predicate,
    * one job, only the selected paths collected. No keys select no
    * files and run no job. */
  def filesFor(m: DataFrame, keys: Seq[Any]): Array[String] =
    if (keys.isEmpty) Array.empty
    else selected(m, anyOf(keys.map(k => holds(lit(k)))))

  /** Files of manifest table `m` whose band overlaps [lo, hi] (bounds
    * in the manifest's key type). */
  def filesOverlapping(m: DataFrame, lo: Any, hi: Any): Array[String] =
    selected(m, col("mx") >= lo && col("mn") <= hi)

  /** Files among `bands` that can hold a key of the batch `keys` —
    * the batch's distinct long keys broadcast-joined against the k-row
    * band table; only distinct file names are collected. */
  def filesFor(keys: DataFrame, keyCol: String,
      bands: Seq[Band]): Array[String] =
    if (bands.isEmpty) Array.empty
    else {
      val s = keys.sparkSession
      import s.implicits._
      keys.select(VersionedStore.keyLong(keys, keyCol).as("k")).distinct()
        .join(broadcast(bands.toDF()), holds(col("k")))
        .select(col("file")).distinct().as[String].collect().sorted
    }

  /** Files among loaded `bands` that can hold one of `keys`, pruned in
    * the driver (no Spark job) in manifest order. */
  def filesFor(bands: Array[Band], keys: Seq[Long]): Seq[String] =
    bands.filter(b => keys.exists(k => b.mn <= k && b.mx >= k))
      .map(_.file).toIndexedSeq

  private def selected(m: DataFrame, p: Column): Array[String] =
    m.filter(p).select(col("file")).collect().map(_.getString(0)).sorted

  /** OR of `ps` as a balanced tree: depth log(|keys|), so a few hundred
    * probe keys stay a shallow expression. */
  private def anyOf(ps: Seq[Column]): Column =
    if (ps.size == 1) ps.head
    else {
      val (l, r) = ps.splitAt(ps.size / 2)
      anyOf(l) || anyOf(r)
    }
}
