package graft.streaming

import graft.sources.{Band, RangeManifest, VersionedStore}
import graft.streaming.Streams.EntityUpdate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}

/** Keyed upsert sink: the store side of ingest→process→store.
  *
  * Reference origin: ny_taxi/NyTaxiYellowTripStreaming.scala:214-266
  * sendEntityToKudu (newInsert for New, newUpdate for Modified) and the
  * kudu client session around it. Kudu's row-level upsert is re-expressed
  * as a COPY-ON-WRITE KEYED COMMIT into the [[VersionedStore]] layout:
  * every micro-batch rewrites ONLY the data files whose key band the
  * batch touches (the manifest's [[RangeManifest]] bands, paid at write
  * time instead of a store scan), carries every untouched file forward
  * by reference, and commits a new manifest + txn marker (the
  * [[VersionedCommitSink]] exactly-once discipline: a
  * checkpoint-replayed batch id is skipped).
  *
  * Per-trigger cost therefore tracks the BATCH — bytes written =
  * batch rows + the touched files' survivors; bytes read = the touched
  * files — never the store. Superseded files stay referenced by older
  * manifests (time travel through [[VersionedStore.readVersion]]) until
  * [[VersionedStore.vacuum]] reclaims them.
  *
  * The parent's bands are collected to the driver — bounded by the
  * store's FILE COUNT, the table-format norm, fine to O(10^4) files. A
  * compaction's band-less manifest is rebuilt from its member files on
  * read (never written back here); the next commit's manifest carries
  * the bands again.
  */
object UpsertSink {

  /** Read the store's CURRENT state — the newest committed manifest's
    * member files, nothing else (superseded files are invisible even
    * though they share the data directory). */
  def readStore(s: SparkSession, path: String): DataFrame = {
    val vs = VersionedStore.versions(s, path)
    require(vs.nonEmpty, s"no committed version at $path")
    VersionedStore.readVersion(s, path, vs.max)
  }

  /** Read ONLY the current rows that could share a key with `keys` —
    * the read-side twin of the COW prune, for per-batch classification
    * (change capture) and point lookups: cost tracks the TOUCHED
    * files, never the store. None = no committed version yet; an
    * existing store whose files cannot contain any batch key returns
    * an empty (0-file) frame with the store schema. */
  def readTouched(s: SparkSession, path: String, keys: DataFrame,
      keyCol: String): Option[DataFrame] = {
    VersionedStore.requireSupportedKey(keys, keyCol)
    val vs = VersionedStore.versions(s, path)
    if (vs.isEmpty) return None
    val parent = RangeManifest.versionBands(s, path, vs.max, keyCol, heal = false)
    // a committed manifest CAN list zero files (a purge that emptied
    // the store): no prior rows, same contract as no-store-yet —
    // read.parquet over an empty path list would throw instead
    if (parent.isEmpty) return None
    VersionedStore.requireKeyClassMatch(s, path, vs.max, keys, keyCol)
    val owning = RangeManifest.filesFor(keys, keyCol, parent)
    val files = if (owning.nonEmpty) owning
      else parent.map(_.file).take(1) // schema carrier, filtered empty
    val df = s.read.parquet(files.toIndexedSeq: _*)
    Some(if (owning.nonEmpty) df else df.filter(lit(false)))
  }

  /** Commit one keyed micro-batch copy-on-write. Returns the committed
    * version, or None when the batch was empty or already committed
    * (checkpoint replay). `initialPartitions` sizes the FIRST commit's
    * file count (later commits inherit the touched-file count).
    *
    * Optimistic concurrency (the round-12 advice race): the version
    * slot is CLAIMED atomically before any shared-location write, so a
    * concurrent committer or maintenance compaction can never land on
    * the same number and overwrite this txn record. Unlike an append,
    * a COW rewrite is computed AGAINST a specific parent (the touched
    * files' survivors), so after the data lands the commit settles and
    * verifies the tip is still that parent; if another writer committed
    * meanwhile, this attempt's slot is abandoned (vacuum reclaims the
    * leftovers) and the whole rewrite RETRIES against the new tip —
    * correctness over wasted work, bounded attempts. */
  def upsertBatch(batch: DataFrame, path: String, batchId: Long,
      keyCol: String, initialPartitions: Int = 1,
      settleTimeoutMs: Long = 30000L): Option[Int] =
    upsertBatch(batch, path, batchId, keyCol, initialPartitions,
      settleTimeoutMs, None, "upsert")

  /** Generalized COW keyed commit — the MERGE compiler's target
    * ([[graft.sources.StoreMerge]]): `dropKeys` keys REMOVE their store
    * rows without replacement (the WHEN MATCHED DELETE action riding
    * the same single rewrite the upsert pays), and `operation` stamps
    * the txn record's intent. Owning files, the survivors' anti-join
    * and the CDC pre-image set all plan over batch ∪ drop keys, so the
    * change feed classifies merge deletes as `delete` rows for free. */
  private[graft] def upsertBatch(batch: DataFrame, path: String,
      batchId: Long, keyCol: String, initialPartitions: Int,
      settleTimeoutMs: Long, dropKeys: Option[DataFrame],
      operation: String): Option[Int] = {
    if (batch.isEmpty && dropKeys.forall(_.isEmpty)) return None
    VersionedStore.requireSupportedKey(batch, keyCol)
    val s = batch.sparkSession
    // marker-gate commit detection from store birth (the appendCommit
    // race guard): this committer writes txn records, so the txn dir
    // must exist before any claim/settle consults committedTip
    new Path(VersionedCommitSink.txnDir(path))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .mkdirs(new Path(VersionedCommitSink.txnDir(path)))
    val allKeys = dropKeys
      .map(dk => batch.select(col(keyCol)).unionByName(dk.select(col(keyCol))))
      .getOrElse(batch.select(col(keyCol)))
      .distinct()
    // the batch's key band in long space — the disjoint-conflict fast
    // path's overlap probe (one tiny aggregate, paid once per batch)
    val keyBoundsRow = allKeys.agg(
      min(VersionedStore.keyLong(allKeys, keyCol)).as("lo"),
      max(VersionedStore.keyLong(allKeys, keyCol)).as("hi")).head()
    val (keyLo, keyHi) = (keyBoundsRow.getLong(0), keyBoundsRow.getLong(1))
    // lineage check: upserts resolve their parent through txn markers,
    // so a store carrying manifest-only (batch-built) versions above
    // the txn tip would make every settle disagree with `latest`
    // forever — fail loudly instead of spinning the retry loop
    require(VersionedStore.committedTip(s, path)
        == VersionedCommitSink.latestCommitted(s, path),
      s"store $path has manifest-only (batch-built) versions above its " +
        "txn tip: keyed upserts require a txn-lineage store (built " +
        "through upsertBatch/appendBatch/appendCommit)")
    var attempts = 0
    var abandoned = Set.empty[Int]
    // 10 attempts with jittered linear backoff: under sustained N-way
    // contention every loser re-plans against the new tip, so equal-
    // speed writers can trade losses for several rounds — the backoff
    // de-phases them (the Delta ConcurrentModification retry shape)
    // while the bound still fails loudly on a genuinely livelocked
    // store instead of spinning forever
    while (attempts < 10) {
      attempts += 1
      if (attempts > 1)
        Thread.sleep(100L * (attempts - 1) + (System.nanoTime() % 97))
      val latest = VersionedCommitSink.latestCommitted(s, path)
      if (VersionedCommitSink.alreadyCommitted(s, path, latest, batchId)) return None
      val v = VersionedStore.claimVersion(s, path, latest.getOrElse(0) + 1)

      // Parent bands, driver-side and bounded by the store's file count;
      // touched files = those whose band can hold a batch key
      val parent: Array[Band] = latest
        .map(pv => RangeManifest.versionBands(s, path, pv, keyCol, heal = false))
        .getOrElse(Array.empty)
      if (parent.nonEmpty)
        VersionedStore.requireKeyClassMatch(s, path, latest.get, batch, keyCol)
      val owning: Array[String] = RangeManifest.filesFor(allKeys, keyCol, parent)

      // Rewrite = touched files' survivors + the batch (keyed replace:
      // the stream emits full merged entities, newest state wins; drop
      // keys contribute to the anti-join but no replacement rows).
      val rewritten =
        if (owning.isEmpty) batch
        else s.read.parquet(owning.toIndexedSeq: _*)
          .join(allKeys, Seq(keyCol), "left_anti")
          .unionByName(batch)
      val parts = math.max(1, if (owning.isEmpty) initialPartitions else owning.length)
      // per-VERSION data dir: versions allocate fresh above the committed
      // tip and never reuse once committed, so the Overwrite can only
      // clobber an UNCOMMITTED crash leftover. A per-batch-id dir is
      // unsafe under carry-forward: a checkpoint reset restarts ids at 0
      // and batch_0's rewrite would delete files the live manifest still
      // references (round-12 review finding).
      val dataDir = path + s"/data/v$v"
      rewritten.repartitionByRange(parts, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.mode(SaveMode.Overwrite).parquet(dataDir)

      // the COW validity check: the rewrite above is only a correct
      // next version if the tip is STILL the parent it was computed
      // against — or if the interleaved commits are provably DISJOINT
      val settled = VersionedStore.settleBelow(s, path, v, abandoned,
        settleTimeoutMs)
      // DISJOINT-CONFLICT fast path (the Delta conflict-detection rule,
      // round-16 verdict #6): when the tip moved, this rewrite is still
      // a valid next version provided (a) every owning file it
      // supersedes survived the interleaved commits untouched, and
      // (b) no interleaved commit added a file whose key band can
      // overlap this batch's keys (bands over-approximate, so a false
      // overlap costs a replan, never a wrong tip). The commit then
      // carries the SETTLED manifest minus the owning files — nothing
      // re-planned. Without this, N equal-speed writers admit exactly
      // one winner per round and a chronic loser burns all attempts.
      val commitParent: Option[Array[Band]] =
        if (settled == latest) Some(parent)
        else settled.flatMap { sv =>
          val sParent = RangeManifest.versionBands(s, path, sv, keyCol, heal = false)
          val sSet = sParent.map(_.file).toSet
          val latestSet = parent.map(_.file).toSet
          val ownSurvived = owning.forall(sSet.contains)
          val addedOverlap = sParent.exists(f =>
            !latestSet(f.file) && !(f.mx < keyLo || f.mn > keyHi))
          if (ownSurvived && !addedOverlap) Some(sParent) else None
        }
      if (commitParent.isDefined) {
        // bands of the new files: a read-back of ONLY the files this
        // commit wrote (O(batch)); a merge whose every touched row was
        // deleted writes none
        val newFiles = VersionedStore.hadoopLs(s, dataDir)
        val newBands = RangeManifest.collect(s, newFiles.toIndexedSeq, keyCol)
        val ownSet = owning.toSet
        RangeManifest.writeVersion(s, path, v,
          commitParent.get.filterNot(b => ownSet(b.file)).toSeq ++ newBands)
        graft.sources.ColStats.onCommit(s, path, newFiles.toSeq.sorted)
        // write-path CDC (round 15): classify the batch against the
        // pre-images it replaced — MINUS the parent's deletion vector
        // (a dv-erased key's physical leftover is not a pre-image; its
        // re-upsert classifies as the INSERT it logically is, matching
        // the metadata-diff fallback bit for bit) — O(batch) rows
        // persisted at commit, so the change feed never re-diffs the
        // file-sized rewrite; identical-payload replays classify to NO
        // rows (the s15 rule)
        val parentDv = VersionedStore.dvAt(s, path, settled.getOrElse(0))
        val cdcRows =
          if (owning.isEmpty)
            batch.withColumn("_change_type", lit("insert"))
          else {
            val preRaw = s.read.parquet(owning.toIndexedSeq: _*)
              .join(allKeys, Seq(keyCol), "left_semi")
            val pre = parentDv.fold(preRaw)(dv =>
              preRaw.join(broadcast(dv), dv.columns.toSeq, "left_anti"))
            graft.sources.ChangeFeed.keyedDiff(pre, batch.toDF(), keyCol)
          }
        VersionedStore.writeCdc(s, path, v, cdcRows, keyCol)
        // key-based dv RESURRECTION: a keyed write of key K supersedes
        // K's pending deletion — shrink the cumulative vector at this
        // slot, or the re-onboarded subject's new row stays invisible
        // until the fold (the COW purge path's re-upsert contract,
        // PurgeSinkSpec, extended to dv mode; position-based DV formats
        // don't have this hazard, the key-based form must handle it)
        parentDv.foreach { dv =>
          val batchKeys = batch.select(col(keyCol)).distinct()
          if (dv.join(batchKeys, Seq(keyCol), "left_semi")
              .limit(1).count() > 0)
            VersionedStore.writeDvSized(s, path, v,
              dv.join(batchKeys, Seq(keyCol), "left_anti"), keyCol)
        }
        // txn parquet, then the marker LAST — the marker's atomic create is
        // the commit, its name carries the batch id for the replay check
        // (the VersionedCommitSink.appendBatch discipline).
        import s.implicits._
        Seq((batchId, System.currentTimeMillis(), operation))
          .toDF("batch_id", "commit_ts", "operation")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(VersionedCommitSink.txnPath(path, v))
        val fs = new Path(VersionedCommitSink.txnDir(path))
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        graft.sources.StoreIo.ops.createMarker(fs, new Path(
          s"${VersionedCommitSink.txnPath(path, v)}/batch_$batchId.marker"))
        VersionedStore.maybeCheckpoint(s, path, v)
        // POST-COMMIT LINEAGE CHECK (round-13 advice): a slow lower-slot
        // writer that outlived settleBelow's timeout and then committed
        // during this attempt's commit window would have its rows
        // silently missing from the tip lineage — detect and fail loudly
        // (VersionedStore.requireNoLineageGap) instead of returning
        // success.
        VersionedStore.requireNoLineageGap(s, path, settled.getOrElse(0), v)
        return Some(v)
      }
      // tip moved while rewriting: leave the claimed slot burned (the
      // uncommitted data dir is invisible; vacuum reclaims it), MARK it
      // abandoned so concurrent settlers skip it at once, and loop
      abandoned += v
      VersionedStore.abandonSlot(s, path, v)
    }
    throw new IllegalStateException(
      s"upsertBatch on $path lost the commit race 10 times — a writer is " +
        "committing continuously; back off and retry")
  }

  /** Merge one micro-batch of entity updates into the keyed store. */
  def mergeBatch(batch: Dataset[EntityUpdate], storeDir: String,
      batchId: Long): Option[Int] = {
    val incoming = batch.toDF()
      .select(col("custkey"), col("totalTrips"), col("totalAmount"),
        col("maxAmount"), col("openTrips"), col("fulfilledTrips"))
    upsertBatch(incoming, storeDir, batchId, "custkey")
  }

  /** Attach the upsert sink to an entity-update stream. */
  def writeTo(updates: Dataset[EntityUpdate], storeDir: String,
      checkpointDir: String): StreamingQuery = {
    val w: DataStreamWriter[EntityUpdate] = updates.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[EntityUpdate], batchId: Long) =>
        { mergeBatch(batch, storeDir, batchId); () })
    w.start()
  }
}
