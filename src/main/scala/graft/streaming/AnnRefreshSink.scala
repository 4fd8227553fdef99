package graft.streaming

import graft.functions.VectorOps._
import graft.sources.RangeManifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** NRT vector-index refresh — the ANN twin of [[IndexRefreshSink]],
  * completing round-10's serving story: [[graft.sources.AnnIndexStore]]
  * persists the batch-built IVF index; THIS sink keeps it fresh as
  * embeddings stream in, the way the reference's streaming path keeps
  * its serving stores current per micro-batch
  * (`ConnectedCarStreaming.scala` upserts profiles; Solr sees new docs
  * seconds after ingest).
  *
  * The production IVF maintenance contract: the coarse quantizer (the
  * centroid table) is TRAINED OFFLINE and held STABLE between
  * retrains — online work is assignment only, one codegen'd argmin per
  * vector (re-clustering the corpus per batch would be O(store) per
  * trigger). Each micro-batch becomes an immutable cell-clustered
  * segment `path/seg_<batchId>` with a per-file cell-range manifest
  * written LAST (the segment's commit artifact — the [[Segments]]
  * lifecycle, shared verbatim with the lexical index: coverage-rule
  * reads, merge-range replay skip, vacuum GC). A probe unions the LIVE
  * segments' manifests, opens only the probed cells' files in each
  * segment, and runs the exact cosine inside — correct because a
  * vector lives in exactly one segment and cell membership is a pure
  * function of the stable centroids, so the union IS the batch index
  * over the streamed corpus (spec-asserted bit-identical).
  *
  * [[mergeSegments]] is the OPTIMIZE tier: many small per-batch
  * segments re-range-clustered into one (cell assignments are already
  * in the rows — a merge never re-assigns), restoring the per-file
  * manifest skip that tiny segments dilute.
  */
object AnnRefreshSink {

  def manifestPath(path: String): String = path + ".manifest"

  /** Commit artifact: the per-segment manifest dir is written LAST. */
  private def commitDir(path: String)(seg: String): String =
    s"${manifestPath(path)}/$seg"

  private[graft] def liveSegments(s: SparkSession, path: String): Seq[Segments.Seg] =
    Segments.liveSegments(s, path, commitDir(path))

  /** Index one micro-batch of (vec_id, e: array<double>) as an
    * immutable cell-clustered segment under the STABLE centroids. */
  def appendBatch(batch: DataFrame, path: String, batchId: Long,
      cents: Array[Array[Double]], segFiles: Int = 4): Unit = {
    if (batch.isEmpty) return
    if (Segments.mergeCovered(batch.sparkSession, path, commitDir(path),
        batchId)) return
    val seg = Segments.segName(batchId)
    RangeManifest.writeClustered(batch
        .select(col("vec_id"), col("e"))
        .withColumn("n2", norm2(col("e")))
        .withColumn("cell",
          graft.ml.KMeans.assign(col("e"), cents).getField("cluster").cast("long")),
      "cell", segFiles, s"$path/$seg", s"${manifestPath(path)}/$seg",
      sortCols = Seq("cell", "vec_id"))
  }

  /** Maintain the segmented vector index from a stream of
    * (vec_id, e). */
  def writeTo(vecs: DataFrame, path: String, cents: Array[Array[Double]],
      checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, path, batchId, cents)
      }
      .start()

  /** IVF probe over the streamed segments: rank the stable centroids
    * driver-side against the query vector, open only files whose cell
    * range can hold a probed cell (live segments' manifest union),
    * exact cosine inside — the q92b probe shape over segment files. */
  def probe(s: SparkSession, path: String, cents: Array[Array[Double]],
      qe: Array[Double], nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= cents.length)
    val live = liveSegments(s, path)
    require(live.nonEmpty, s"no committed segments under $path")
    // the batch store's own ranking and file-skip rules, on the
    // segments' manifests — one implementation, no parity drift
    val probed = graft.sources.AnnIndexStore.rankCells(
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq, qe, nprobe)
    val files = RangeManifest.filesFor(s.read.parquet(
      live.map(sg => s"${manifestPath(path)}/${sg.name}"): _*), probed)
    require(files.nonEmpty, "manifest selected no cell files")
    val qn2 = qe.map(x => x * x).sum
    // tombstone-aware: purged vectors are unservable the moment the
    // sink-level purge lands (an unpurged store pays one existence probe)
    graft.sources.IndexTombstones.minus(s, path,
      s.read.parquet(files: _*).filter(col("cell").isin(probed: _*)),
      "vec_id")
      .select(col("vec_id"), col("cell"),
        cosineFrom(dot(col("e"), array(qe.map(lit): _*)),
          col("n2"), lit(qn2)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** PURGE vector ids from the STREAMED index (round-15 verdict #1's
    * "extend s17 replay safety" clause): an O(keys) tombstone append —
    * the probe excludes them immediately; the next [[mergeSegments]]
    * makes the erasure physical. Idempotent. */
  def purge(s: SparkSession, path: String, vecIds: Seq[Long]): Unit = {
    if (vecIds.isEmpty) return
    import s.implicits._
    graft.sources.IndexTombstones.append(s, path,
      vecIds.distinct.sorted.toDF("k"))
  }

  /** OPTIMIZE: fold the live segments into one. Cell assignments ride
    * the rows, so a merge is pure re-clustering — one cell-range
    * shuffle sized from the folded segments' listing, manifest
    * re-derived and written LAST (the commit). */
  def mergeSegments(s: SparkSession, path: String,
      targetFileBytes: Long = 4L << 20): Option[String] = {
    // the merge is the streamed store's erasure FOLD point: tombstoned
    // vectors drop from the folded segment for free; tombstones clear
    // only after the merge's commit artifact lands
    val tombs = graft.sources.IndexTombstones.read(s, path)
    def minusVecs(df: DataFrame): DataFrame = tombs.fold(df)(t =>
      df.join(org.apache.spark.sql.functions.broadcast(
        t.select(col("k").as("vec_id"))), Seq("vec_id"), "left_anti"))
    val merged = Segments.mergeSegments(s, path, commitDir(path),
      targetFileBytes)(
      recluster = (df, n) => minusVecs(df)
        .repartitionByRange(n, col("cell"))
        .sortWithinPartitions("cell", "vec_id"),
      commitArtifacts = (seg, _) =>
        RangeManifest.write(s, s"$path/$seg", "cell", s"${manifestPath(path)}/$seg"))
    if (merged.nonEmpty && tombs.nonEmpty)
      graft.sources.IndexTombstones.clear(s, path)
    merged
  }

  /** Reclaim folded segments (the coverage rule already hides them). */
  def vacuum(s: SparkSession, path: String): Unit =
    Segments.vacuum(s, path, commitDir(path), seg => Seq(
      s"$path/$seg", s"${manifestPath(path)}/$seg"))
}
