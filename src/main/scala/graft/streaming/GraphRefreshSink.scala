package graft.streaming

import graft.functions.VectorOps._
import graft.sources.{IndexTombstones, KnnGraphStore, RangeManifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** NRT maintenance for the kNN GRAPH store (round-15 verdict #4):
  * [[graft.sources.KnnGraphStore]] was batch-build only, so the q96d
  * serving tier went stale the moment embeddings streamed in, while
  * the lexical (s14) and IVF (s17) tiers stayed current per
  * micro-batch. A kNN graph cannot take the s14/s17 segment-union
  * shortcut — a posting or a cell row depends on ONE document, but a
  * node's top-k edges depend on the WHOLE corpus — so this sink keeps
  * the production contract real vector systems use (a fresh buffer
  * beside a periodically rebuilt graph — the Lucene-HNSW /
  * IVF+fresh-list pattern):
  *
  *  - each micro-batch lands as an immutable VECTOR segment
  *    `path/seg_<batchId>` (vec_id, e, n2), vec_id-clustered with a
  *    per-segment vec_id manifest written LAST (the [[Segments]]
  *    commit artifact — coverage-rule reads, merge-range replay skip,
  *    vacuum GC, all shared verbatim with s14/s17);
  *  - the GRAPH is rebuilt from the streamed corpus when the
  *    uncovered delta passes `rebuildFraction` of the covered rows —
  *    the explicit REBUILD-TRIGGER contract: each rebuild is a fresh
  *    deterministic [[KnnGraphStore.buildFromVectors]] at
  *    `path.graph_<hi>` (hi = the newest batch id it covers),
  *    committed by its layers-metadata write landing LAST; readers
  *    resolve the newest committed graph, a crashed rebuild is
  *    invisible, superseded graphs are vacuumed;
  *  - a PROBE merges two exact-by-construction tiers: the beam walk
  *    over the committed graph (covered vectors — hop-bounded point
  *    reads) and a brute exact scan over ONLY the uncovered fresh
  *    segments (delta-bounded by the trigger) — so freshness is
  *    immediate while walk cost stays amortized, and the instant a
  *    rebuild covers everything the probe IS the batch-built store's
  *    walk, bit-identically (spec-asserted — the s14 parity
  *    precedent).
  *
  * Erasure composes: the sink's purge tombstones the GRAPH path (the
  * walk's exclusion set) and the probe's fresh tier anti-joins the
  * same keys; a rebuild folds them physically (the rebuilt graph never
  * contains a tombstoned node) — replay-safe because tombstones clear
  * only after the covering rebuild commits.
  *
  * Corpus contract: vec_ids are unique across batches (append-only
  * corpus — the s17 contract); updating an embedding means purging the
  * old id.
  */
object GraphRefreshSink {

  def manifestPath(path: String): String = path + ".manifest"
  def graphPath(path: String, hi: Long): String = path + s".graph_$hi"

  private def commitDir(path: String)(seg: String): String =
    s"${manifestPath(path)}/$seg"

  private[graft] def liveSegments(s: SparkSession, path: String): Seq[Segments.Seg] =
    Segments.liveSegments(s, path, commitDir(path))

  /** Land one micro-batch of (vec_id, e) as an immutable vector
    * segment; manifest written LAST (the commit artifact). */
  def appendBatch(batch: DataFrame, path: String, batchId: Long,
      segFiles: Int = 2): Unit = {
    if (batch.isEmpty) return
    if (Segments.mergeCovered(batch.sparkSession, path, commitDir(path),
        batchId)) return
    val seg = Segments.segName(batchId)
    RangeManifest.writeClustered(
      batch.select(col("vec_id"), col("e")).withColumn("n2", norm2(col("e"))),
      "vec_id", segFiles, s"$path/$seg", s"${manifestPath(path)}/$seg")
  }

  /** Maintain the segmented vector store from a stream of (vec_id, e). */
  def writeTo(vecs: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, path, batchId)
      }
      .start()

  /** The newest COMMITTED graph: (covered-hi batch id, graph path).
    * A graph is committed iff its layers metadata carries _SUCCESS —
    * [[KnnGraphStore.buildFromVectors]] writes it LAST, so a crashed
    * rebuild is invisible. */
  private[graft] def currentGraph(s: SparkSession,
      path: String): Option[(Long, String)] = {
    val parent = new Path(path).getParent
    val f = Segments.fs(s, path)
    if (!f.exists(parent)) return None
    val prefix = new Path(path).getName + ".graph_"
    f.listStatus(parent).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).toLongOption)
      .filter { hi =>
        f.exists(new Path(
          KnnGraphStore.layersMetaPath(graphPath(path, hi)) + "/_SUCCESS"))
      }
      .sorted.lastOption.map(hi => (hi, graphPath(path, hi)))
  }

  /** Live segments split against the committed graph's coverage:
    * (covered, fresh). */
  private def splitSegments(s: SparkSession, path: String,
      coveredHi: Long): (Seq[Segments.Seg], Seq[Segments.Seg]) =
    liveSegments(s, path).partition(_.hi <= coveredHi)

  /** The REBUILD TRIGGER: rebuild the graph over the full streamed
    * corpus when no committed graph exists, or when the uncovered
    * fresh rows pass `rebuildFraction` of the covered rows. Returns
    * the new graph's covered-hi when a rebuild committed. Run from
    * the maintenance cadence (the merge-policy knob); superseded and
    * crashed graph dirs are reclaimed by [[vacuumGraphs]]. Tombstoned
    * nodes are EXCLUDED from the rebuilt graph and the tombstones
    * cleared after its commit — the physical fold rides the rebuild. */
  def maybeRebuild(s: SparkSession, path: String,
      rebuildFraction: Double = 0.5,
      targetFileBytes: Long = 16L << 10): Option[Long] =
    graft.sources.WriterLease.withLease(s, path, "graphRebuild") {
      val cur = currentGraph(s, path)
      val (covered, fresh) = splitSegments(s, path,
        cur.map(_._1).getOrElse(-1L))
      if (fresh.isEmpty) None
      else {
        val freshRows = s.read.parquet(
          fresh.map(sg => s"$path/${sg.name}"): _*).count()
        val coveredRows =
          if (covered.isEmpty) 0L
          else s.read.parquet(
            covered.map(sg => s"$path/${sg.name}"): _*).count()
        if (cur.nonEmpty && freshRows < rebuildFraction * coveredRows) None
        else {
          val hi = (covered ++ fresh).map(_.hi).max
          val vectors = IndexTombstones.minus(s, path,
            s.read.parquet((covered ++ fresh)
              .map(sg => s"$path/${sg.name}"): _*), "vec_id")
          KnnGraphStore.buildFromVectors(s, vectors,
            graphPath(path, hi), targetFileBytes)
          // the rebuild IS the physical fold: no tombstoned node is in
          // the new graph, so the exclusion set can clear — AFTER the
          // commit landed (a crash before this line keeps them active)
          IndexTombstones.clear(s, path)
          Some(hi)
        }
      }
    }

  /** Reclaim superseded committed graphs and crashed-rebuild orphans
    * (every graph generation but the newest committed one), including
    * each generation's sibling relations (`.graph_<hi>.manifest`,
    * `.entries`, `.layer*`, `.keyblooms`, `.tombstones`). */
  def vacuumGraphs(s: SparkSession, path: String): Unit = {
    val keepHi = currentGraph(s, path).map(_._1)
    val parent = new Path(path).getParent
    val f = Segments.fs(s, path)
    if (!f.exists(parent)) return
    val prefix = new Path(path).getName + ".graph_"
    val ByHi = (java.util.regex.Pattern.quote(prefix) + """(\d+)(\..*)?""").r
    f.listStatus(parent).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .foreach {
        case n @ ByHi(hiStr, _) if !keepHi.contains(hiStr.toLong) =>
          f.delete(new Path(parent, n), true)
        case _ => ()
      }
  }

  /** PURGE node ids from the streamed store: tombstones on the graph
    * walk (when a graph exists) ride [[KnnGraphStore.purge]]'s own
    * relation at the graph path; the fresh tier and the next rebuild
    * read the SINK-level tombstones at `path`. Idempotent. */
  def purge(s: SparkSession, path: String, vecIds: Seq[Long]): Unit = {
    if (vecIds.isEmpty) return
    import s.implicits._
    IndexTombstones.append(s, path, vecIds.distinct.sorted.toDF("k"))
    currentGraph(s, path).foreach { case (_, g) =>
      KnnGraphStore.purge(s, g, vecIds)
    }
  }

  /** Serve top-k for `qe`: the beam walk over the newest committed
    * graph (covered vectors) MERGED with the exact scan of only the
    * uncovered fresh segments — both tiers tombstone-aware. The walk's
    * scorer point-fetches candidate vectors through the live segments'
    * vec_id manifests (cost ∝ candidates); the fresh tier's scan is
    * delta-bounded by the rebuild trigger. */
  def probe(s: SparkSession, path: String, qe: Array[Double], k: Int,
      beam: Int = 8, maxHops: Int = 32, ef: Int = 48): Seq[(Long, Double)] = {
    val live = liveSegments(s, path)
    require(live.nonEmpty, s"no committed segments under $path")
    val qn2 = qe.map(x => x * x).sum
    val cur = currentGraph(s, path)
    val dead = IndexTombstones.keySet(s, path)
    val (_, fresh) = splitSegments(s, path, cur.map(_._1).getOrElse(-1L))
    val walkHits: Seq[(Long, Double)] = cur match {
      case None => Nil
      case Some((_, g)) =>
        val mans = live.map(sg => s"${manifestPath(path)}/${sg.name}")
        val scorer: Seq[Long] => Seq[(Long, Double)] = ids =>
          if (ids.isEmpty) Nil
          else {
            val files = RangeManifest.filesFor(
              s.read.parquet(mans: _*), ids)
            if (files.isEmpty) Nil
            else s.read.parquet(files.toIndexedSeq: _*)
              .filter(col("vec_id").isin(ids: _*))
              .select(col("vec_id"),
                cosineFrom(dot(col("e"), array(qe.map(lit): _*)),
                  col("n2"), lit(qn2)).as("cos"))
              .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          }
        KnnGraphStore.probeFlat(s, g, scorer, k, beam, maxHops, ef)._1
    }
    val freshHits: Seq[(Long, Double)] =
      if (fresh.isEmpty) Nil
      else {
        val base = s.read.parquet(fresh.map(sg => s"$path/${sg.name}"): _*)
        IndexTombstones.minus(s, path, base, "vec_id")
          .select(col("vec_id"),
            cosineFrom(dot(col("e"), array(qe.map(lit): _*)),
              col("n2"), lit(qn2)).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    (walkHits.filterNot(t => dead(t._1)) ++ freshHits)
      .sortBy(t => (-t._2, t._1)).take(k)
  }

  /** Reclaim folded vector segments (the coverage rule already hides
    * them from every reader). */
  def vacuum(s: SparkSession, path: String): Unit =
    Segments.vacuum(s, path, commitDir(path), seg => Seq(
      s"$path/$seg", s"${manifestPath(path)}/$seg"))

  /** OPTIMIZE: fold live vector segments into one (pure vec_id
    * re-clustering; graph coverage is batch-id based, so the merged
    * segment's [lo, hi] range keeps the covered/fresh split exact). */
  def mergeSegments(s: SparkSession, path: String,
      targetFileBytes: Long = 4L << 20): Option[String] =
    Segments.mergeSegments(s, path, commitDir(path), targetFileBytes)(
      recluster = (df, n) => df.repartitionByRange(n, col("vec_id"))
        .sortWithinPartitions("vec_id"),
      commitArtifacts = (seg, _) =>
        RangeManifest.write(s, s"$path/$seg",
          "vec_id", s"${manifestPath(path)}/$seg"))
}
