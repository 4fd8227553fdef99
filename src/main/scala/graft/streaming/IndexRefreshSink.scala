package graft.streaming

import graft.sources.{InvertedIndexStore, RangeManifest}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** NRT index refresh — the streaming maintenance path of
  * [[InvertedIndexStore]], closing the reference's ingest→index→query
  * loop end-to-end (`SolrSupport.indexDStreamOfDocs` feeds a LIVE Solr
  * collection per micro-batch precisely so point queries see new
  * documents seconds after ingest; [[SearchDocSink]] is the transport
  * seam for that, this is the same refresh done storage-natively
  * against graft's own index).
  *
  * Layout is Lucene's answer re-expressed in parquet: each micro-batch
  * becomes an immutable SEGMENT — `path/seg_<batchId>/` posting files,
  * a per-segment manifest (`path.manifest/seg_<batchId>/`) and a
  * per-segment stats row (`path.stats/seg_<batchId>/`). Appending never
  * rewrites existing postings (the batch build's range shuffle would be
  * O(corpus) per batch — wrong at any scale); a probe unions segments,
  * which stays exact because a doc lives in exactly one segment, so
  * per-term df and corpus stats are plain sums across segments. The
  * many-small-segments problem this trades into is handled by THIS
  * sink's own OPTIMIZE tier, [[mergeSegments]] — the Lucene
  * merge-policy step, done segment-natively (the flat-store
  * [[graft.sources.CompactStore]] knows nothing of segment manifests
  * or stats rows):
  *
  *  - a merge folds every LIVE segment into ONE new segment named by
  *    the batch-id range it spans (`seg_m<lo>_<hi>`): postings
  *    re-range-clustered and sorted on term into size-targeted files
  *    (restoring per-file manifest skip that tiny per-batch segments
  *    dilute), manifest re-derived, stats = the SUM of the folded
  *    segments' stats rows (exact — a doc lives in exactly one folded
  *    segment);
  *  - COMMIT is the stats row's _SUCCESS marker, written LAST (the
  *    same write order appendBatch already uses): readers resolve the
  *    live segment set as "committed segments not strictly covered by
  *    a committed merged segment", so a crashed half-merge is simply
  *    invisible and a re-run overwrites the same deterministic target
  *    — the table-format swap done with naming instead of a log;
  *  - folded segments become garbage, not errors: [[vacuum]] deletes
  *    them physically, and until it runs the range-coverage rule keeps
  *    them out of every probe;
  *  - replay stays exactly-once ACROSS merges: a checkpoint-replayed
  *    batch id inside a committed merged range is SKIPPED by
  *    appendBatch (re-creating its segment after the merge would
  *    double-count its docs — the one case Overwrite cannot fix).
  *
  * Exactly-once: every write targets the batch's own segment directory
  * with Overwrite, so a checkpoint-replayed batch id reproduces the
  * same segment instead of duplicating postings (spec-asserted), the
  * same idempotence contract as [[UpsertSink]].
  *
  * The probe reads only the query terms' posting files — the manifest
  * union is filtered cluster-side exactly like the batch store's — and
  * scores through the identical shared Okapi arithmetic, so serving
  * from a streamed index is bit-identical to serving from a batch
  * rebuild over the same corpus (spec-asserted).
  */
object IndexRefreshSink {

  def segName(batchId: Long): String = Segments.segName(batchId)
  def mergedSegName(lo: Long, hi: Long): String = Segments.mergedSegName(lo, hi)

  /** The commit artifact: the per-segment stats dir is written LAST by
    * both appendBatch and mergeSegments, so its _SUCCESS marker is the
    * segment's commit record (the [[Segments]] lifecycle contract). */
  private def commitDir(path: String)(seg: String): String =
    s"${InvertedIndexStore.statsPath(path)}/$seg"

  private[graft] def liveSegments(s: SparkSession, path: String): Seq[Segments.Seg] =
    Segments.liveSegments(s, path, commitDir(path))

  /** Index one micro-batch as an immutable segment: postings range-
    * clustered on term into `segFiles` files (so the manifest can skip
    * at FILE level inside every segment, not just row-group level —
    * one file per segment would span the whole alphabet and never
    * prune), its manifest, its doc-length rows (the erasure verb's
    * point-read source — the batch store's doclens tier, per segment),
    * and its stats row — all under the batch's own directories,
    * Overwrite for replay idempotence. */
  def appendBatch(batch: DataFrame, path: String, batchId: Long,
      segFiles: Int = 4): Unit = {
    // an empty micro-batch must not land a part-file-less segment dir:
    // the manifest derivation reads the segment back, and a dir with
    // only _SUCCESS fails schema inference and kills the stream
    if (batch.isEmpty) return
    // a checkpoint-replayed batch id already folded into a committed
    // merged segment must NOT re-create its base segment — the merged
    // segment holds its docs, so Overwrite-idempotence alone would
    // double-count them; skipping preserves exactly-once across merges
    if (Segments.mergeCovered(batch.sparkSession, path, commitDir(path), batchId)) return
    val seg = segName(batchId)
    RangeManifest.writeClustered(InvertedIndexStore.postings(batch), "term",
      segFiles, s"$path/$seg", s"${InvertedIndexStore.manifestPath(path)}/$seg",
      sortCols = Seq("term", "doc_id"))
    // the POSITIONAL segment rides the same lifecycle: written (with
    // its manifest) BEFORE the stats row, so the one commit marker
    // covers both relations and phrase probes never see a segment
    // whose positions are missing
    RangeManifest.writeClustered(InvertedIndexStore.positionalPostings(batch),
      "term", segFiles, s"${InvertedIndexStore.posPath(path)}/$seg",
      s"${InvertedIndexStore.posManifestPath(path)}/$seg",
      sortCols = Seq("term", "doc_id"))
    // per-segment doc lengths + doc_id manifest (before the stats row,
    // so the one commit marker covers them): purge resolves purged
    // docs' lengths by point read across live segments
    RangeManifest.writeClustered(batch.select(col("doc_id"),
        size(graft.functions.TextOps.toks(lower(col("text"))))
          .cast("long").as("dl")),
      "doc_id", math.max(1, segFiles / 2),
      s"${InvertedIndexStore.doclensPath(path)}/$seg",
      s"${InvertedIndexStore.doclensManifestPath(path)}/$seg")
    InvertedIndexStore.statsAgg(batch)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${InvertedIndexStore.statsPath(path)}/$seg")
  }

  /** Maintain the segmented index from a stream of (doc_id, text). */
  def writeTo(docs: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, path, batchId)
      }
      .start()

  /** OPTIMIZE: fold every live segment into one merged segment. The
    * postings union is re-range-clustered and sorted on term into
    * `ceil(bytes / targetFileBytes)` files (bytes from the folded
    * segments' file LISTING — metadata only, the CompactStore sizing
    * step), the manifest is re-derived, and the stats row is the SUM of
    * the folded stats rows (exact: each doc lives in exactly one folded
    * segment). The stats write lands LAST and its _SUCCESS is the
    * commit — until then readers resolve the old live set, and a
    * re-run overwrites the same deterministic `seg_m<lo>_<hi>` target.
    * One term-range shuffle over the live postings, size-proportional;
    * run it from the maintenance cadence (every N batches, or when the
    * live-segment count passes a threshold — the Lucene merge policy
    * knob). Returns the merged segment name, or None when fewer than
    * two segments are live. */
  def mergeSegments(s: SparkSession, path: String,
      targetFileBytes: Long = 4L << 20): Option[String] = {
    // the merge is ALSO the segment store's erasure FOLD point (the
    // batch store's fold rides optimize; here every merge rewrites the
    // whole live set anyway, so tombstoned docs drop for free): filter
    // every folded relation, subtract the purged docs' exact (count,
    // dl) from the merged stats row, and clear the tombstones AFTER
    // the merge's commit artifact lands — a crash mid-merge keeps
    // logical erasure in force
    val tombs = graft.sources.IndexTombstones.read(s, path)
    def minusDocs(df: DataFrame): DataFrame = tombs.fold(df)(t =>
      df.join(org.apache.spark.sql.functions.broadcast(
        t.select(col("k").as("doc_id"))), Seq("doc_id"), "left_anti"))
    val merged = Segments.mergeSegments(s, path, commitDir(path),
      targetFileBytes)(
      recluster = (df, n) => minusDocs(df)
        .repartitionByRange(n, col("term"))
        .sortWithinPartitions("term", "doc_id"),
      commitArtifacts = (seg, live) => {
        RangeManifest.write(s, s"$path/$seg", "term",
          s"${InvertedIndexStore.manifestPath(path)}/$seg")
        // fold the positional segments too (a doc's positions live in
        // exactly one segment, so the union IS the merged relation) —
        // before the stats commit, so the marker covers the pos merge
        val posDir = s"${InvertedIndexStore.posPath(path)}/$seg"
        RangeManifest.writeClustered(minusDocs(s.read.parquet(live.map(sg =>
            s"${InvertedIndexStore.posPath(path)}/${sg.name}"): _*)),
          "term", math.max(1, live.size / 2), posDir,
          s"${InvertedIndexStore.posManifestPath(path)}/$seg",
          sortCols = Seq("term", "doc_id"))
        // fold the doclens segments (skip pre-doclens legacy segments:
        // their docs fail open in purge resolution, never break reads)
        val f = Segments.fs(s, path)
        val dlDirs = live.map(sg =>
            s"${InvertedIndexStore.doclensPath(path)}/${sg.name}")
          .filter(d => f.exists(new org.apache.hadoop.fs.Path(d)))
        if (dlDirs.nonEmpty) {
          val dlDir = s"${InvertedIndexStore.doclensPath(path)}/$seg"
          RangeManifest.writeClustered(minusDocs(s.read.parquet(dlDirs: _*)),
            "doc_id", math.max(1, live.size / 2), dlDir,
            s"${InvertedIndexStore.doclensManifestPath(path)}/$seg")
        }
        val statsSum = s.read.parquet(live.map(sg =>
            s"${InvertedIndexStore.statsPath(path)}/${sg.name}"): _*)
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("tot_tokens")).as("tot_tokens"))
        val stats = tombs.fold(statsSum) { t =>
          val adj = t.agg(count(org.apache.spark.sql.functions.lit(1))
            .as("t_docs"), sum(col("dl")).as("t_tokens"))
          statsSum.crossJoin(org.apache.spark.sql.functions.broadcast(adj))
            .select((col("n_docs") - col("t_docs")).as("n_docs"),
              (col("tot_tokens") - org.apache.spark.sql.functions
                .coalesce(col("t_tokens"),
                  org.apache.spark.sql.functions.lit(0L)))
                .as("tot_tokens"))
        }
        stats.write.mode(SaveMode.Overwrite)
          .parquet(s"${InvertedIndexStore.statsPath(path)}/$seg")
      })
    if (merged.nonEmpty && tombs.nonEmpty)
      graft.sources.IndexTombstones.clear(s, path)
    merged
  }

  /** Physically delete segments folded into a committed merged segment
    * (the coverage rule already hides them from every reader, so this
    * is storage reclamation, not correctness). */
  def vacuum(s: SparkSession, path: String): Unit =
    Segments.vacuum(s, path, commitDir(path), seg => Seq(
      s"$path/$seg",
      s"${InvertedIndexStore.manifestPath(path)}/$seg",
      s"${InvertedIndexStore.posPath(path)}/$seg",
      s"${InvertedIndexStore.posManifestPath(path)}/$seg",
      s"${InvertedIndexStore.doclensPath(path)}/$seg",
      s"${InvertedIndexStore.doclensManifestPath(path)}/$seg",
      s"${InvertedIndexStore.statsPath(path)}/$seg"))

  /** PURGE doc ids from the STREAMED index (round-15 verdict #1's
    * "extend s14 replay safety" clause): resolve each present id's dl
    * through the live segments' doclens manifests (point read),
    * tombstone (doc_id, dl) at the store path — both probes exclude
    * the docs and adjust stats from that moment; the next
    * [[mergeSegments]] makes it physical. Idempotent; replay-safe
    * across merges (post-merge the ids resolve to nothing). */
  def purge(s: SparkSession, path: String, docIds: Seq[Long]): Unit = {
    if (docIds.isEmpty) return
    val live = liveSegments(s, path)
    if (live.isEmpty) return
    val f = Segments.fs(s, path)
    val mans = live.map(sg =>
        s"${InvertedIndexStore.doclensManifestPath(path)}/${sg.name}")
      .filter(m => f.exists(new org.apache.hadoop.fs.Path(m)))
    if (mans.isEmpty) return
    val files = RangeManifest.filesFor(s.read.parquet(mans: _*), docIds)
    if (files.isEmpty) return
    val rows = s.read.parquet(files.toIndexedSeq: _*)
      .filter(col("doc_id").isin(docIds: _*))
      .select(col("doc_id").as("k"), col("dl"))
    graft.sources.IndexTombstones.append(s, path, rows)
  }

  /** BM25 point query over the segmented index — the q86b probe shape
    * against the union of LIVE segments' manifests: only files whose
    * term range can contain a query term are opened; df comes free from
    * the probed postings; corpus stats are the sum of live segments'
    * rows. Segment resolution is the coverage rule above, so the probe
    * is undisturbed by an in-flight or freshly committed merge. */
  def probe(s: SparkSession, path: String,
      terms: Seq[String] = graft.operators.Text.Bm25Query): DataFrame = {
    val live = liveSegments(s, path)
    require(live.nonEmpty, s"no committed segments under $path")
    val m = s.read.parquet(live.map(sg =>
      s"${InvertedIndexStore.manifestPath(path)}/${sg.name}"): _*)
    val selected = RangeManifest.filesFor(m, terms)
    require(selected.nonEmpty, s"no posting files can contain $terms")
    // tombstone-aware (an unpurged store pays one existence probe):
    // candidates anti-joined, summed stats adjusted by the purged docs'
    // exact (count, dl) — the batch store's effectiveStats, on segments
    val tf = graft.sources.IndexTombstones.minus(s, path,
      s.read.parquet(selected: _*)
        .filter(col("term").isin(terms: _*))
        .select(col("doc_id"), col("dl"), col("term"), col("tf")), "doc_id")
    val statsSum = s.read.parquet(live.map(sg =>
        s"${InvertedIndexStore.statsPath(path)}/${sg.name}"): _*)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tot_tokens")).as("tot_tokens"))
    val stats = graft.sources.IndexTombstones.read(s, path).fold(statsSum) {
      t =>
        val adj = t.agg(count(lit(1)).as("t_docs"), sum(col("dl")).as("t_tokens"))
        statsSum.crossJoin(broadcast(adj))
          .select((col("n_docs") - col("t_docs")).as("n_docs"),
            (col("tot_tokens") - coalesce(col("t_tokens"), lit(0L)))
              .as("tot_tokens"))
    }
    graft.operators.Text.bm25Score(tf, stats)
  }

  /** CONJUNCTIVE + PHRASE point query over the segmented index — the
    * q86c probe against the union of LIVE segments' positional
    * manifests (same file skip, same shared scoring arithmetic), so a
    * phrase query served seconds after ingest is bit-identical to the
    * batch-built store's answer over the same corpus. A doc's positions
    * live in exactly one segment, so the union IS the corpus relation. */
  def phraseProbe(s: SparkSession, path: String,
      terms: Seq[String] = graft.operators.Text.Bm25Query): DataFrame = {
    val live = liveSegments(s, path)
    require(live.nonEmpty, s"no committed segments under $path")
    val m = s.read.parquet(live.map(sg =>
      s"${InvertedIndexStore.posManifestPath(path)}/${sg.name}"): _*)
    val selected = RangeManifest.filesFor(m, terms)
    require(selected.nonEmpty, s"no positional files can contain $terms")
    InvertedIndexStore.booleanPhrase(graft.sources.IndexTombstones.minus(
      s, path, s.read.parquet(selected: _*), "doc_id"), terms)
  }
}
