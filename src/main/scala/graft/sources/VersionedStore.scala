package graft.sources

import graft.{Engine, Num, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned store with time travel — the table-format
  * transaction-log idea (Delta/Iceberg snapshots) done storage-natively,
  * completing the store family's write-side story: [[ManifestStore]]
  * shows stats-based file SKIP, [[CompactStore]] shows file-count
  * maintenance, this shows how a store EVOLVES without ever rewriting
  * history:
  *
  *   - data files are IMMUTABLE — every write batch lands new files;
  *   - a version is a parquet manifest TABLE listing its member files
  *     (data, not driver metadata — the ManifestStore contract);
  *   - an APPEND version's manifest = parent manifest + the new files
  *     (zero data rewritten — the O(delta) ingest contract at any store
  *     size);
  *   - an UPDATE version copies-on-write ONLY the files whose key band
  *     ([[RangeManifest]]) owns updated rows: every other file is SHARED
  *     with the parent version byte-for-byte;
  *   - reading "as of v" lists exactly v's manifest — old versions stay
  *     readable forever (audit/reproducibility: the training run that
  *     read v1 can be replayed against v1 after v3 shipped).
  *
  * The harness manufactures three versions of the orders entity store:
  * v1 = orders before 1997, v2 = v1 + the 1997 append batch, v3 = v2
  * with a contiguous custkey band's amounts adjusted (+1.00 each — the
  * copy-on-write case). The gated query reads each version THROUGH ITS
  * MANIFEST and reports logical summaries; the oracle restates the three
  * version definitions as cutoff/CASE SQL over the raw table, so a
  * manifest defect (file lost, shared file double-counted, rewrite
  * leaking into v2) breaks row counts or integer-cent sums — ORACLE-
  * EXACT physical time travel. The physical theses (immutability, file
  * sharing, bounded rewrite set) are spec-asserted in
  * VersionedStoreSpec.
  *
  * Scale shape: version commits are O(changed data) + one manifest
  * write; reads are manifest-listing + member-file scan, so an as-of
  * read costs what that version's data costs, independent of how many
  * versions exist. Ref: reference upserts mutate the store in place
  * (Kudu upsert path, `ConnectedCarStreaming.scala`) — versioning is
  * what a 100 TB batch lake does instead so that history stays
  * replayable.
  */
object VersionedStore extends QueryPack {

  private val (cut1, cut2) = ("1997-01-01", "1998-01-01")

  def dataPath(p: String): String = p + "/data"
  def manifestPath(p: String, v: Int): String = p + s"/manifest/v$v"

  /** Canonical file identity: a plain filesystem path, no scheme — the
    * one form under which manifests, directory listings, and
    * `input_file_name()` results (which URI-encode with a scheme) can
    * be compared and subtracted. */
  private[graft] def canon(f: String): String =
    if (f.contains(":/")) new java.net.URI(f).getPath else f

  /** [[canon]] as a Column expression — lets bloom/stats writers emit
    * canonical file names straight from `input_file_name()` without a
    * driver round-trip (the side relations stay fully distributed). */
  private[graft] def canonCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?", "")

  private[graft] def hadoopLs(s: SparkSession, dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isFile).map(st => canon(st.getPath.toString))
      .filter { f =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        // data files only: no _SUCCESS markers, no .crc side files
        name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")
      }.toSet
  }

  private[graft] def writeManifest(s: SparkSession, path: String, v: Int,
      files: Iterable[String]): Unit = {
    import s.implicits._
    files.toSeq.sorted.toDF("file")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(manifestPath(path, v))
  }

  /** Files of version `v`, read from its manifest table. */
  def versionFiles(s: SparkSession, path: String, v: Int): Array[String] =
    s.read.parquet(manifestPath(path, v))
      .select(col("file")).collect().map(_.getString(0)).sorted

  /** DELETION VECTORS — the O(deleted rows) erasure commit
    * ([[deleteCommitDv]]; round-13 verdict #2): a version's dv relation
    * is a small parquet table of purged keys (its one column IS the
    * store's key column), applied as an anti-join riding every read of
    * that version. DVs ACCUMULATE — each dv commit writes the full live
    * set, so resolution is "the newest dv commit at or below the read
    * version" — and are SUPERSEDED by folds: compaction rewrites the
    * data without the dv rows and commits an empty dv; vacuum folds
    * physically once every retained version sits at/above the dv commit
    * (the unrecoverability law extends to dv entries). */
  def dvDir(path: String): String = path + "/dv"
  def dvPath(path: String, v: Int): String = dvDir(path) + s"/v$v"

  private[graft] def dvVersions(s: SparkSession, path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dvDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten.sorted
  }

  /** The deletion-vector relation in force at version `v`: the newest
    * COMMITTED dv commit at or below it. None when the store has no dv
    * lineage there — the common case, costing one existence probe per
    * read. Gating on the committed version set keeps the marker/
    * manifest-last atomicity discipline: a [[deleteCommitDv]] crash
    * between the dv parquet write and the manifest/txn commit leaves an
    * orphan dv at slot v whose deletion never committed — it must stay
    * invisible to every read (its claim file blocks the slot from
    * re-use) until vacuum reclaims claim, staging and dv together. */
  private[graft] def dvAt(s: SparkSession, path: String, v: Int): Option[DataFrame] = {
    val dvs = dvVersions(s, path)
    if (dvs.isEmpty) None
    else {
      val committed = versions(s, path).toSet
      dvs.filter(k => k <= v && committed(k)).lastOption
        .map(k => s.read.parquet(dvPath(path, k)))
    }
  }

  /** Apply a version's deletion vector to its raw file scan: a
    * broadcast-sized anti-join on the dv's key column (Spark's
    * size-based planning broadcasts the small dv side). A store with no
    * dv lineage pays nothing but the existence probe. */
  private[graft] def applyDv(s: SparkSession, path: String, v: Int,
      base: DataFrame): DataFrame =
    dvAt(s, path, v).fold(base)(dv => base.join(dv, dv.columns.toSeq, "left_anti"))

  /** Read the store as of version `v` — the manifest's member files
    * minus the version's deletion vector (if any). A committed manifest
    * can list ZERO files (a purge that emptied the store): that version
    * reads as the empty store-typed frame. */
  def readVersion(s: SparkSession, path: String, v: Int): DataFrame = {
    val files = versionFiles(s, path, v)
    if (files.isEmpty) schemaCarrier(s, path, v)
    else applyDv(s, path, v, s.read.parquet(files.toIndexedSeq: _*))
  }

  /** A ZERO-ROW frame carrying the store's schema — the empty-result
    * carrier for read paths whose pruned (or manifest-listed) file set
    * is empty. A committed manifest can legitimately list zero files (a
    * purge that emptied the store — the UpsertSink.readTouched case),
    * so the carrier falls back to the newest RETAINED version that
    * still lists a file; only a store that has never held a data file
    * in any retained version fails, loudly (its row schema is
    * physically undiscoverable — the Delta/Iceberg equivalent keeps
    * schema in the log, which this layout does not). */
  private[graft] def schemaCarrier(s: SparkSession, path: String,
      v: Int): DataFrame = {
    val own = versionFiles(s, path, v)
    val src =
      if (own.nonEmpty) Some(own.head)
      else versions(s, path).reverseIterator
        .map(w => versionFiles(s, path, w)).find(_.nonEmpty).map(_.head)
    src match {
      case Some(f) => s.read.parquet(f).limit(0)
      case None => throw new IllegalStateException(
        s"store at $path lists no data file in any retained version — " +
          "its row schema is undiscoverable, so an empty read cannot be " +
          "typed; vacuum retention dropped every non-empty ancestor")
    }
  }

  /** The copy-on-write custkey band for a store built over `orders`:
    * 10% of the key space, derived from the v2 frame's key extremes by
    * the same floor arithmetic the oracle restates. */
  private[graft] def updateBand(v2: DataFrame): (Long, Long) = {
    val r = v2.agg(min(col("o_custkey")), max(col("o_custkey"))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    (mn + (mx - mn + 1) * 4 / 10, mn + (mx - mn + 1) * 5 / 10)
  }

  /** Build the three-version store. Each version commit writes only its
    * delta plus a manifest; data files are never modified in place. */
  def build(s: SparkSession, dir: String, path: String): Unit = {
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        Num.cents(col("o_totalprice")).as("amount_c"), col("o_orderdate"))
    val dp = dataPath(path)

    // v1: the initial snapshot, custkey-clustered
    orders.filter(col("o_orderdate") < to_timestamp(lit(cut1)))
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode(SaveMode.Overwrite).parquet(dp)
    val f1 = hadoopLs(s, dp)
    writeManifest(s, path, 1, f1)

    // v2: append-only commit — the 1997 batch lands as NEW files; the
    // manifest inherits every v1 file untouched
    orders.filter(col("o_orderdate") >= to_timestamp(lit(cut1)) &&
        col("o_orderdate") < to_timestamp(lit(cut2)))
      .repartitionByRange(4, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode(SaveMode.Append).parquet(dp)
    // an append removes nothing, so v2's membership IS the listing
    // (the spec asserts f1 ⊆ f2 independently)
    val f2 = hadoopLs(s, dp)
    writeManifest(s, path, 2, f2)

    // v3: copy-on-write update — adjust the band's amounts by +100
    // cents. Per-file key bands find the OWNING files; only those
    // rewrite, every other file is shared with v2.
    val v2df = s.read.parquet(f2.toSeq: _*)
    val (lo, hi) = updateBand(v2df)
    val owning = RangeManifest.filesOverlapping(
      RangeManifest.of(v2df, col("o_custkey")), lo, hi).toSet
    require(owning.nonEmpty && owning.size < f2.size,
      s"degenerate copy-on-write: ${owning.size} of ${f2.size} files own the band")
    s.read.parquet(owning.toSeq: _*)
      .withColumn("amount_c",
        when(col("o_custkey") >= lo && col("o_custkey") <= hi,
          col("amount_c") + 100L).otherwise(col("amount_c")))
      .repartitionByRange(math.max(1, owning.size), col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode(SaveMode.Append).parquet(dp)
    val afterV3 = hadoopLs(s, dp)
    writeManifest(s, path, 3, (f2 -- owning) ++ (afterV3 -- f2))
  }

  /** Per-JVM store cache — the q28/q76 amortized-build contract. */
  private val built = scala.collection.mutable.Map.empty[String, String]

  def store(s: SparkSession, dir: String): String = synchronized {
    built.getOrElseUpdate(dir, {
      val path = Engine.storePath("graft-versioned-store", dir)
      build(s, dir, path)
      path
    })
  }

  /** q109: time travel across the three committed versions — each read
    * lists ONLY that version's manifest, and the logical summaries must
    * match the oracle's restatement of the version definitions (v1/v2
    * cutoffs, v3's banded adjustment) exactly: a manifest defect (lost
    * file, double-counted shared file, rewrite leaking into an older
    * version) breaks a count or an integer-cent sum. */
  def q109TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = store(s, dir)
    (1 to 3).map { v =>
      readVersion(s, path, v)
        .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
          count_distinct(col("o_custkey")).as("n_customers"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("amount_c"),
          col("n_customers"))
    }.reduce(_.unionAll(_)).orderBy(col("version"))
  }

  /** The txn-record directory a STREAMING writer
    * ([[graft.streaming.VersionedCommitSink]]) adds next to the
    * manifests: when it exists, a version's commit record is its txn
    * dir's `batch_<id>.marker` file, created LAST by the sink — not
    * the manifest's existence (a crash mid-commit leaves an
    * uncommitted manifest the next attempt overwrites, which retention
    * and readers must never honor over committed versions). */
  def txnDir(path: String): String = path + "/txn"
  def txnPath(path: String, v: Int): String = txnDir(path) + s"/v$v"

  /** Version-slot CLAIMS — optimistic concurrency between data
    * committers (the round-12 advice race: a compaction and an
    * in-flight micro-batch commit could both resolve "next version"
    * from uncoordinated listings and overwrite each other's txn
    * record). A claim is an empty file `claims/v<N>` created with
    * overwrite=false: the single atomic create decides slot ownership,
    * so exactly one writer ever writes `data/v<N>` / `manifest/v<N>` /
    * `txn/v<N>` — the loser probes upward to the next free slot. Claims
    * live OUTSIDE the txn dir so their existence never flips
    * [[versions]]' marker-gated semantics, and they are never reused:
    * a crashed claimer's slot stays burned (its uncommitted leftovers
    * are invisible to readers and reclaimed by [[vacuum]]). */
  def claimsDir(path: String): String = path + "/claims"
  private def claimFile(path: String, v: Int) =
    new org.apache.hadoop.fs.Path(claimsDir(path) + s"/v$v")

  /** Atomically claim the first free version slot at or above `from`.
    * Steady state is one create (the slot above the committed tip is
    * free); each additional probe means a concurrent writer got there
    * first. */
  private[graft] def claimVersion(s: SparkSession, path: String, from: Int): Int = {
    val dir = new org.apache.hadoop.fs.Path(claimsDir(path))
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // the claim is the protocol's create-no-overwrite primitive —
    // routed through [[StoreIo]] (round-15 verdict #6: the injectable
    // seam a cloud deployment swaps for a conditional-put/catalog
    // implementation without touching this committer)
    val atomicCreate: org.apache.hadoop.fs.Path => Boolean =
      p => StoreIo.ops.createNoOverwrite(fs, p)
    var v = math.max(1, from)
    var probes = 0
    while (!atomicCreate(claimFile(path, v))) {
      v += 1
      probes += 1
      require(probes < 10000, s"claimVersion at $path probed $probes slots " +
        s"above $from without winning one — a concurrent-writer storm or " +
        "claim-dir corruption; inspect the claims directory")
    }
    v
  }

  /** The newest COMMITTED version of a txn-record store: marker probes
    * newest-first over one txn-dir listing, stopping at the first hit —
    * two filesystem calls in steady state (the newest version IS
    * committed); a crash leftover at the tip costs one extra probe. */
  private[graft] def latestCommittedTxn(s: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(txnDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten.sorted.reverse
      .find { v =>
        val d = new org.apache.hadoop.fs.Path(txnPath(path, v))
        fs.exists(d) && fs.listStatus(d).exists { st =>
          val n = st.getPath.getName
          n.startsWith("batch_") && n.endsWith(".marker")
        }
      }
  }

  /** The committed tip regardless of store flavor: marker-gated for
    * txn-record (stream-built) stores, newest manifest otherwise. */
  def committedTip(s: SparkSession, path: String): Option[Int] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(txnDir(path))))
      latestCommittedTxn(s, path)
    else versions(s, path).lastOption
  }

  /** Wait (bounded) for every claimed slot BELOW `v` to resolve — the
    * settle step of the optimistic-commit protocol: the holder of slot
    * `v` must carry forward the files of the freshest committed tip, so
    * it waits for in-flight lower slots to commit (or for the timeout
    * to declare them abandoned — a crashed claimer would otherwise
    * stall the store forever). Returns the tip to build on. A writer
    * that commits a lower slot AFTER the timeout produced a valid
    * non-tip version whose rows later committers do not carry — the
    * documented limit of coordination-free optimistic commits; size the
    * timeout above the slowest commit (default 30 s vs micro-batch
    * cadence). */
  private[graft] def settleBelow(s: SparkSession, path: String, v: Int,
      skip: Set[Int] = Set.empty, timeoutMs: Long = 30000L): Option[Int] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var tip = committedTip(s, path)
    // slots in `skip` are this writer's OWN abandoned claims (a COW
    // retry) — known-resolved, they must not stall their own retrier.
    // OTHER writers' losses surface through their ABANDON markers
    // ([[abandonSlot]], round-16 verdict #6): without them every loser
    // in an N-writer race stalls every settler for the full timeout,
    // and a slot that then commits late trips the lineage guard —
    // marked slots are resolved fact, polled fresh each pass.
    def unresolved = {
      val resolved = skip ++ abandonedSlots(s, path)
      ((tip.getOrElse(0) + 1) until v).exists(!resolved.contains(_))
    }
    while (unresolved && System.currentTimeMillis() < deadline) {
      Thread.sleep(50L)
      tip = committedTip(s, path)
    }
    tip
  }

  /** Mark a claimed-but-never-committed slot as ABANDONED — one atomic
    * marker create beside the claim. A loser that re-plans (the COW
    * burn-and-loop) marks its burned slot so concurrent settlers skip
    * it immediately instead of waiting out their timeout; the slot
    * number stays claimed (never reused), and vacuum reclaims the
    * marker with the claim. Abandon-then-commit cannot happen: only
    * the slot's own claimer may mark it, and it marks only after
    * walking away for good. */
  private[graft] def abandonSlot(s: SparkSession, path: String, v: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(claimsDir(path) + s"/v$v.abandoned")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    StoreIo.ops.createMarker(fs, p)
  }

  private def abandonedSlots(s: SparkSession, path: String): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(claimsDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".abandoned"))
      .flatMap(_.stripPrefix("v").stripSuffix(".abandoned").toIntOption)
      .toSet
  }

  /** Committed versions STRICTLY inside (lo, hi) — bounded marker
    * probes (hi − lo − 1 existence checks, never a history walk) for
    * the post-commit lineage check: the slots between a commit's
    * settled parent and its own number are the only places a
    * settle-timeout could have silently dropped a slow writer's commit
    * from the tip lineage (round-13 advice). */
  private[graft] def committedIn(s: SparkSession, path: String,
      lo: Int, hi: Int): Seq[Int] = {
    val fs = new org.apache.hadoop.fs.Path(txnDir(path))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    ((lo + 1) until hi).filter { v =>
      val d = new org.apache.hadoop.fs.Path(txnPath(path, v))
      fs.exists(d) && fs.listStatus(d).exists { st =>
        val n = st.getPath.getName
        n.startsWith("batch_") && n.endsWith(".marker")
      }
    }
  }

  /** The settle-timeout lineage detector (round-13 advice, shared by
    * the streaming sinks and the batch appender): called AFTER a commit
    * wrote its marker, with the parent tip the commit carried forward.
    * A slow lower-slot writer that outlived settleBelow's timeout and
    * then committed has its rows missing from this commit's lineage
    * while both callers would report success — probe the gap slots and
    * fail LOUDLY so the gap is repaired (re-merge the gap versions'
    * delta files or re-submit their batches) instead of discovered
    * months later. A commit landing in the gap AFTER this probe is the
    * residual coordination-free window — size the settle timeout above
    * the slowest commit, as documented on [[settleBelow]]. */
  private[graft] def requireNoLineageGap(s: SparkSession, path: String,
      parent: Int, v: Int): Unit = {
    val gap = committedIn(s, path, parent, v)
    if (gap.nonEmpty) throw new IllegalStateException(
      s"commit v$v on $path carried parent v$parent, but version(s) " +
        s"${gap.mkString(", ")} committed during the settle-timeout " +
        "window: their rows are missing from the tip lineage — repair " +
        "by re-merging those versions' delta files (or re-submitting " +
        "their batches) before trusting the tip")
  }

  /** METADATA CHECKPOINTS (round-13 verdict #3): commit-time and
    * replay resolution used to read one txn record per committed
    * version — O(versions) driver metadata cost on a long-lived stream
    * store, bounded only by retention. Every [[CheckpointInterval]]-th
    * commit consolidates (version, batch_id, commit_ts) for the full
    * committed history into ONE small driver-readable text file (the
    * Delta checkpoint idea; text, not parquet, so readers pay a single
    * filesystem read instead of a Spark job per metadata call).
    * Readers load the newest checkpoint and walk only the TAIL records
    * above it — per-call metadata cost is O(interval), constant in
    * store age. Superseded checkpoints are reclaimed by [[vacuum]];
    * checkpoint rows for vacuumed versions are inert (every consumer
    * intersects with the live txn listing). */
  val CheckpointInterval = 10
  def checkpointDir(path: String): String = path + "/checkpoint"

  /** Newest checkpoint: (its tip version, rows (version, batch_id,
    * commit_ts) sorted by version). One listing + one full file read. */
  private[graft] def readCheckpoint(s: SparkSession,
      path: String): Option[(Int, Seq[(Int, Long, Long)])] = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    fs.listStatus(p).toSeq.filter(_.isFile)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten.sorted.lastOption.flatMap { tip =>
        // a checkpoint is an ACCELERATOR, never a source of truth: a
        // malformed file (torn copy, manual edit) degrades to the full
        // marker walk instead of bricking version resolution
        try {
          val in = fs.open(new org.apache.hadoop.fs.Path(
            checkpointDir(path) + s"/v$tip"))
          val out = new java.io.ByteArrayOutputStream(4096)
          val buf = new Array[Byte](4096)
          try {
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
          val rows = out.toString("UTF-8").split('\n').toSeq.filter(_.nonEmpty)
            .map(_.split(',')).collect {
              case Array(v, bid, ts) => (v.toInt, bid.toLong, ts.toLong)
            }.sortBy(_._1)
          Some((tip, rows))
        } catch { case _: java.io.IOException | _: NumberFormatException =>
          None
        }
      }
  }

  /** (batch_id from the marker name, commit_ts from the txn record —
    * marker mtime when a pre-commit_ts record lacks the column) of a
    * committed version: one listing + one tiny parquet read. */
  private def readTxnMeta(s: SparkSession, path: String, v: Int): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(txnDir(path))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val sts = fs.listStatus(new org.apache.hadoop.fs.Path(txnPath(path, v)))
    val markers = sts.filter { st =>
      val n = st.getPath.getName
      n.startsWith("batch_") && n.endsWith(".marker")
    }
    val bid = markers.map(_.getPath.getName
      .stripPrefix("batch_").stripSuffix(".marker").toLong).max
    val recs = hadoopLs(s, txnPath(path, v))
    val ts =
      if (recs.isEmpty) markers.map(_.getModificationTime).max
      else {
        val df = s.read.parquet(recs.toIndexedSeq: _*)
        if (df.columns.contains("commit_ts"))
          df.select(max(col("commit_ts"))).head().getLong(0)
        else markers.map(_.getModificationTime).max
      }
    (bid, ts)
  }

  /** Consolidate the committed history into a checkpoint when `v` is a
    * multiple of the interval: prior checkpoint rows + one txn-meta
    * read per TAIL version — O(interval) work, amortized O(1)/commit.
    * Written tmp-then-rename so a crash mid-write leaves no torn file;
    * the checkpoint name is version-unique, so concurrent committers
    * (who each own a distinct slot) can never contend on one. */
  private[graft] def maybeCheckpoint(s: SparkSession, path: String, v: Int): Unit =
    if (v > 0 && v % CheckpointInterval == 0) {
      val prior = readCheckpoint(s, path)
      val from = prior.map(_._1).getOrElse(0)
      val tail = committedIn(s, path, from, v + 1)
        .map(tv => { val (bid, ts) = readTxnMeta(s, path, tv); (tv, bid, ts) })
      val rows = prior.map(_._2.filter(_._1 <= from)).getOrElse(Seq.empty) ++ tail
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(checkpointDir(path)))
      val tmp = new org.apache.hadoop.fs.Path(checkpointDir(path) + s"/.v$v.tmp")
      val out = fs.create(tmp, true)
      try out.write(rows.sortBy(_._1)
        .map { case (ver, bid, ts) => s"$ver,$bid,$ts" }
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
      StoreIo.ops.rename(fs, tmp,
        new org.apache.hadoop.fs.Path(checkpointDir(path) + s"/v$v"))
    }

  /** Versions whose txn record carries its commit marker — ONE txn-dir
    * listing, with marker probes only for versions ABOVE the newest
    * checkpoint (a checkpointed version's commit is already durable
    * fact): O(interval) filesystem calls however old the store. */
  private[graft] def committedTxnVersions(s: SparkSession, path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(txnDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val ckptSet = readCheckpoint(s, path)
      .map(_._2.map(_._1).toSet).getOrElse(Set.empty)
    fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten
      .filter(v => ckptSet(v) ||
        fs.listStatus(new org.apache.hadoop.fs.Path(txnPath(path, v)))
          .exists { st =>
            val n = st.getPath.getName
            n.startsWith("batch_") && n.endsWith(".marker")
          })
      .sorted
  }

  /** COMMITTED version numbers at `path` (driver-side listing, bounded
    * by version count). Batch-built stores have no txn dir — their
    * manifests ARE the commits; under a streaming writer only versions
    * whose txn record committed count. */
  def versions(s: SparkSession, path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(path + "/manifest")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val listed = fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten.sorted
    if (!fs.exists(new org.apache.hadoop.fs.Path(txnDir(path)))) listed
    else {
      val committed = committedTxnVersions(s, path).toSet
      listed.filter(committed)
    }
  }

  /** Retention: expire all but the newest `keepVersions` versions —
    * drop their manifests and physically delete every data file no
    * RETAINED manifest references (the Delta VACUUM / Iceberg
    * expire_snapshots service; without it a store that commits daily
    * keeps every superseded file forever). File sharing makes the
    * reference count the ONLY safe deletion rule: a file written for
    * v1 and still listed by v3's manifest survives v1's expiry —
    * deletable = (files referenced only by expired manifests) −
    * (files referenced by any retained manifest). Manifests drop LAST,
    * so a crash mid-vacuum leaves dangling manifests over partially
    * deleted data (loud failure on read) rather than silently
    * corrupted retained versions; re-running completes the expiry.
    *
    * METADATA is reclaimed with the data, so listings stay bounded by
    * the retained-version count on a long-lived stream store: an
    * expired version's TXN record goes with its manifest (a commit
    * marker exists for replay checks, and an expired version is far
    * behind any replay horizon — on restart a stream can only replay
    * its LAST batch, whose version keepVersions >= 1 always retains),
    * and crash leftovers BELOW the tip — an uncommitted manifest or a
    * marker-less txn dir whose version number the writer can never
    * claim again (it claims tip + 1) — are dropped too. An uncommitted
    * manifest AT or above the tip is left alone: that is the in-flight
    * slot the writer's next attempt overwrites.
    *
    * SINGLE-WRITER REQUIREMENT (shared with [[compactCommit]]): run
    * retention from the one writer's maintenance schedule, never
    * concurrently with a live commit — vacuum deletes uncommitted
    * metadata a concurrent committer may be mid-write on.
    *
    * Cost: manifest-table reads + a bounded driver file-set diff +
    * one delete per expired file — no data scanned. Returns
    * (expired version count, deleted file count).
    *
    * `fileGraceMs > 0` adds a READER GRACE window: expiry drops
    * manifests immediately but tombstones the files, and only a vacuum
    * after the window reaps them — an in-flight reader of a
    * just-expired version finishes its scan. `nowMs` is the clock seam
    * the grace spec pins. */
  /** Tombstones: files whose versions expired INSIDE the reader-grace
    * window — one text file per vacuum pass, named by its expiry stamp,
    * listing the paths to reap once the window closes. */
  def tombstonesDir(path: String): String = path + "/tombstones"

  private def writeTombstone(s: SparkSession, path: String,
      files: Iterable[String], ts: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(tombstonesDir(path)))
    var n = 0
    var p = new org.apache.hadoop.fs.Path(tombstonesDir(path) + s"/t$ts")
    while (fs.exists(p)) {
      n += 1
      p = new org.apache.hadoop.fs.Path(tombstonesDir(path) + s"/t${ts}_$n")
    }
    val out = fs.create(p, false)
    try out.write(files.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Reap every tombstone whose expiry stamp has aged past the grace —
    * delete its listed files, then the tombstone itself (files first,
    * so a crash re-reaps idempotently). Returns files deleted. */
  private def reapTombstones(s: SparkSession, path: String,
      fileGraceMs: Long, now: Long): Int = {
    val td = new org.apache.hadoop.fs.Path(tombstonesDir(path))
    val fs = td.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(td)) return 0
    var reaped = 0
    fs.listStatus(td).toSeq.filter(_.isFile).foreach { st =>
      val name = st.getPath.getName
      val ts = name.stripPrefix("t").takeWhile(_ != '_').toLongOption
      if (ts.exists(t => now - t >= fileGraceMs)) {
        val in = fs.open(st.getPath)
        val bytes = new java.io.ByteArrayOutputStream(4096)
        val buf = new Array[Byte](4096)
        try {
          var r = in.read(buf)
          while (r >= 0) { bytes.write(buf, 0, r); r = in.read(buf) }
        } finally in.close()
        bytes.toString("UTF-8").split('\n').filter(_.nonEmpty).foreach { f =>
          if (fs.delete(new org.apache.hadoop.fs.Path(f), false)) reaped += 1
        }
        fs.delete(st.getPath, false)
      }
    }
    reaped
  }

  /** Restore any manifest a crashed [[IndexTombstones.swapManifest]]
    * left mid-swap (`v<N>.mold` present, `v<N>` missing) and sweep dead
    * staging — run at vacuum entry, BEFORE the version listing is
    * trusted: a half-swapped manifest would otherwise make its version
    * vanish from [[versions]] and be mis-planned as expired. */
  private def healManifests(s: SparkSession, path: String): Unit = {
    val mdir = new org.apache.hadoop.fs.Path(path + "/manifest")
    val fs = mdir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(mdir)) return
    fs.listStatus(mdir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.endsWith(".mold") || n.endsWith(".mstage"))
      .map(_.replaceAll("\\.(mold|mstage)$", "")).distinct
      .foreach(v =>
        IndexTombstones.healManifest(s, path + s"/manifest/$v"))
  }

  def vacuum(s: SparkSession, path: String, keepVersions: Int,
      claimGraceMs: Long = 600000L, fileGraceMs: Long = 0L,
      nowMs: () => Long = () => System.currentTimeMillis()): (Int, Int) =
    WriterLease.withLease(s, path, "vacuum") {
    require(keepVersions >= 1, s"must retain at least one version")
    healManifests(s, path)
    val vs = versions(s, path)
    // TAG PINS (StoreLineage): a tagged version is retained past the
    // count-based window — the Iceberg tag-retention rule, so a named
    // training snapshot stays reproducible however many commits land
    // after it. NOTE the erasure interplay: a tag pinning a PRE-purge
    // version legitimately keeps subject rows readable (exactly like
    // COW's retained history); completing an erasure SLA means dropping
    // such tags first — StoreLineage.tags makes them auditable.
    val pinned = StoreLineage.taggedVersions(s, path).filter(vs.toSet)
    val keep = (vs.takeRight(keepVersions) ++ pinned).distinct.sorted
    val drop = vs.filterNot(keep.toSet)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    var deleted = 0
    if (drop.nonEmpty) {
      val retained = keep.flatMap(v => versionFiles(s, path, v)).toSet
      // OWNERSHIP RULE (shallow clones): a store physically deletes only
      // files under ITS OWN data root. A clone's manifests reference the
      // SOURCE's files (StoreLineage.cloneFrom) — expiring a clone
      // version drops the references but must never reap bytes the
      // source still owns; the source's own vacuum governs those.
      val deletable = (drop.flatMap(v => versionFiles(s, path, v)).toSet
        -- retained).filter(_.startsWith(dataPath(path)))
      // READER GRACE (round-14 verdict #5, the Delta
      // deletedFileRetentionDuration idea): an in-flight reader of a
      // just-expired version holds file paths, not locks — deleting the
      // bytes under it fails its scan mid-query. With a grace window the
      // expiry drops the MANIFESTS now (the version stops being
      // resolvable) but TOMBSTONES the exclusively-referenced files;
      // only a vacuum running after the window reaps them. Grace 0 (the
      // default, and every erasure-law spec) deletes immediately. Note
      // the dv fold's superseded originals are NOT tombstoned: purged
      // keys' unrecoverability is an erasure SLA and outranks reader
      // convenience there.
      if (fileGraceMs > 0 && deletable.nonEmpty)
        writeTombstone(s, path, deletable, nowMs())
      else {
        deletable.foreach(f =>
          fs.delete(new org.apache.hadoop.fs.Path(f), false))
        deleted = deletable.size
      }
      drop.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(manifestPath(path, v)), true)
        fs.delete(new org.apache.hadoop.fs.Path(txnPath(path, v)), true)
        fs.delete(new org.apache.hadoop.fs.Path(
          Expectations.quarantinePath(path, v)), true)
      }
    }
    deleted += reapTombstones(s, path, fileGraceMs, nowMs())
    val committed = vs.toSet
    val tip = vs.lastOption.getOrElse(0)
    if (fs.exists(new org.apache.hadoop.fs.Path(txnDir(path)))) {
      def subTipOrphans(parent: String): Seq[Int] = {
        val p = new org.apache.hadoop.fs.Path(parent)
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName)
          .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
          .flatten.filter(v => !committed.contains(v) && v < tip)
      }
      subTipOrphans(path + "/manifest").foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(manifestPath(path, v)), true))
      subTipOrphans(txnDir(path)).foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(txnPath(path, v)), true))
    }
    // Claims reclamation runs whenever the claims dir exists — NOT only
    // on txn-record stores: compaction and delete commits claim slots on
    // batch-built (manifest-only) stores too, so a crashed maintenance
    // attempt there leaves claim files and staging no txn-gated path
    // ever saw (round-13 advice). A claimed-but-never-committed slot is
    // an abandoned optimistic commit.
    // Its per-version staging was never referenced by any committed
    // manifest, so slot + leftovers reclaim together; claims for
    // COMMITTED sub-tip versions are spent too — new claims probe from
    // tip+1, so those slots can never be re-contested.
    val claims = {
      val cd = new org.apache.hadoop.fs.Path(claimsDir(path))
      if (!fs.exists(cd)) Nil
      else fs.listStatus(cd).toSeq.filter(_.isFile)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
        .flatten
    }
    // An at/above-tip claim is ambiguous between a crashed maintenance
    // attempt (reclaimable) and a commit IN FLIGHT right now — streaming
    // appendBatch/upsertBatch claim tip+1 without taking the maintenance
    // lease, so an unconditional reclaim racing a live sink would delete
    // its claim file and staging mid-commit (re-opening the slot to a
    // double-claim, or letting a manifest commit over deleted files).
    // Those claims are reclaimed only once their claim file is older
    // than `claimGraceMs` — a crashed attempt ages past any grace, a
    // live commit never does (size the grace above the slowest commit
    // wall, the settle-timeout sizing rule). Sub-tip uncommitted claims
    // are settled history: claimers probe from tip+1, so the slot can
    // never be re-contested, and the burn-and-loop protocol already
    // classified their writer as abandoned when the tip passed them.
    val now = nowMs()
    claims.filterNot(committed.contains)
      .filter { v =>
        v < tip || {
          try now - fs.getFileStatus(claimFile(path, v))
            .getModificationTime >= claimGraceMs
          catch { case _: java.io.FileNotFoundException => false }
        }
      }
      .foreach { v =>
        // every writer family's per-version staging dir: stream/batch
        // appends and upserts (v<N>), failed compactions (compact_v<N>),
        // abandoned delete commits (delete_v<N>), crashed dv commits
        Seq(s"/v$v", s"/compact_v$v", s"/delete_v$v").foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(dataPath(path) + d), true))
        fs.delete(new org.apache.hadoop.fs.Path(dvPath(path, v)), true)
        fs.delete(new org.apache.hadoop.fs.Path(cdcPath(path, v)), true)
        fs.delete(new org.apache.hadoop.fs.Path(
          Expectations.quarantinePath(path, v)), true)
        fs.delete(claimFile(path, v), false)
        fs.delete(new org.apache.hadoop.fs.Path(
          claimsDir(path) + s"/v$v.abandoned"), false)
      }
    claims.filter(v => committed.contains(v) && v < tip)
      .foreach { v =>
        fs.delete(claimFile(path, v), false)
        fs.delete(new org.apache.hadoop.fs.Path(
          claimsDir(path) + s"/v$v.abandoned"), false)
      }
    // superseded metadata checkpoints: only the newest serves readers
    locally {
      val cd = new org.apache.hadoop.fs.Path(checkpointDir(path))
      if (fs.exists(cd)) {
        val cps = fs.listStatus(cd).toSeq.filter(_.isFile)
          .map(_.getPath.getName)
          .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
          .flatten.sorted
        cps.dropRight(1).foreach(c =>
          fs.delete(new org.apache.hadoop.fs.Path(checkpointDir(path) + s"/v$c"),
            false))
      }
    }
    // DELETION-VECTOR retention — the fold-at-vacuum half of
    // [[deleteCommitDv]]'s design. Two regimes:
    //  - every retained version sits at/above the newest dv commit: the
    //    dv keys are logically invisible in ALL retained reads, so fold
    //    them PHYSICAL — rewrite (per file, bands carried over as still-
    //    correct over-approximations) exactly the retained files whose
    //    band can hold a dv key, swap the entries in every retained
    //    manifest, delete the superseded originals and every dv dir.
    //    After this no parquet byte NOR dv entry holds a purged key —
    //    the unrecoverability law, extended to dv mode (spec-asserted).
    //    A crash mid-fold leaves some manifests updated and the dv dirs
    //    in place; re-running vacuum re-folds idempotently (an already-
    //    clean file anti-joins to itself).
    //  - some retained version predates the dv commit: that history
    //    legitimately still reads the purged rows (the same window COW
    //    mode keeps its superseded owning files), so keep each retained
    //    version's effective dv and drop only unreferenced dv dirs.
    val dvs = dvVersions(s, path)
    if (dvs.nonEmpty) {
      val retained = versions(s, path)
      val newestDv = dvs.last
      // CLONE PIN defers the physical fold (round-16 advice, medium):
      // a shallow clone's manifest is a VERBATIM COPY of the pinned
      // source version's — the fold below swaps entries in the source's
      // own retained manifests and deletes the superseded originals,
      // which the clone's copy would still reference (dangling clone).
      // While any clone pin lives, fall to the keep-dv regime — the
      // same deferral a pre-purge tag imposes on COW erasure; dropping
      // the pin (releaseClone) re-arms the fold at the next vacuum.
      val clonePinned = StoreLineage.tags(s, path)
        .exists(_._1.startsWith("clone_"))
      if (retained.nonEmpty && newestDv <= retained.head && !clonePinned) {
        val dv = s.read.parquet(dvPath(path, newestDv))
        val keyCol = dv.columns.head
        if (dv.limit(1).count() > 0) {
          import s.implicits._
          val owningAll = retained.flatMap { rv =>
            RangeManifest.filesFor(dv, keyCol,
              RangeManifest.versionBands(s, path, rv, keyCol, heal = true))
          }.distinct.sorted
          // per-file rewrite preserves the file↔manifest sharing
          // structure; a file whose every row was purged maps to None
          // and drops out of the manifests entirely.
          // Each fold ATTEMPT stages under its own unique dir: a re-run
          // after a crash (some manifests already swapped, dv dirs still
          // present) re-selects the first attempt's fold files as owning
          // files — writing into the same fold_v$tip/$i slots would
          // Overwrite-delete the very file being read (guaranteed for
          // the lexicographically-first fold file), failing the rewrite
          // and leaving retained manifests over deleted data. A fresh
          // attempt dir makes the re-fold genuinely idempotent: prior
          // fold files are read, rewritten clean elsewhere, then deleted
          // as superseded originals like any other owning file.
          val (foldBase, foldAttempt) = {
            val dp = new org.apache.hadoop.fs.Path(dataPath(path))
            val taken =
              if (!fs.exists(dp)) Set.empty[String]
              else fs.listStatus(dp).map(_.getPath.getName)
                .filter(_.startsWith(s"fold_v${tip}_a")).toSet
            var a = 0
            while (taken.contains(s"fold_v${tip}_a$a")) a += 1
            (dataPath(path) + s"/fold_v${tip}_a$a", a)
          }
          // ONE distributed rewrite job over the whole owning set
          // (round-16 verdict #1): rows tagged with their source file's
          // basename, dv keys anti-joined out once, one shuffle
          // clustering rows back per file, one write fanning out
          // per-file outputs — fold wall tracks owning BYTES over the
          // cores, not files x a per-job scheduler floor. Basenames
          // identify files because data-file names carry writer UUIDs
          // and fold outputs carry (tip, attempt) — both unique; the
          // require guards the invariant. Per-file outputs then rename
          // to stable names so the manifest swap below stays the
          // all-or-nothing commit point.
          val owningNames =
            owningAll.map(f => f.substring(f.lastIndexOf('/') + 1))
          require(owningNames.distinct.length == owningAll.length,
            s"dv fold: non-unique data-file basenames under $path")
          val nameToIdx = owningNames.zipWithIndex.toSeq
            .toDF("_gfold_src", "_gfold_i")
          val owningData = s.read.parquet(owningAll.toIndexedSeq: _*)
          val foldStage = foldBase + "/.stage"
          owningData
            .withColumn("_gfold_src",
              element_at(split(input_file_name(), "/"), -1))
            .join(dv.select(col(keyCol)), Seq(keyCol), "left_anti")
            .join(broadcast(nameToIdx), Seq("_gfold_src"))
            .select(owningData.columns.map(col).toIndexedSeq :+
              col("_gfold_i"): _*)
            .repartition(owningAll.length, col("_gfold_i"))
            .sortWithinPartitions(col("_gfold_i"), keyLong(owningData, keyCol))
            .write.partitionBy("_gfold_i").mode(SaveMode.Overwrite)
            .parquet(foldStage)
          val mapping: Map[String, Option[String]] =
            owningAll.zipWithIndex.map { case (f, i) =>
              f -> hadoopLs(s, foldStage + s"/_gfold_i=$i").headOption.map { p =>
                val target = new org.apache.hadoop.fs.Path(
                  foldBase + s"/fold_v${tip}_a${foldAttempt}_$i.parquet")
                require(StoreIo.ops.rename(fs,
                  new org.apache.hadoop.fs.Path(p), target),
                  s"dv fold rename failed: $p -> $target")
                canon(target.toString)
              }
            }.toMap
          fs.delete(new org.apache.hadoop.fs.Path(foldStage), true)
          // fold files get fresh side-relation entries (bloom + exact
          // rows) — one scan of the just-written, still-cached files;
          // inheriting the original's bloom would be a correct
          // over-approximation but its ROW COUNT would not be
          if (readBlooms(s, path).isDefined) {
            val foldFiles = mapping.values.flatten.toSeq.sorted
            appendBlooms(s, path, foldFiles, keyCol)
          }
          retained.foreach { rv =>
            // stage -> rename swap (round-16 verdict #5): the manifest
            // is the version's authority file; an in-place Overwrite
            // would have a crash window with no manifest on disk
            val mf = s.read.parquet(manifestPath(path, rv))
            if (mf.columns.contains("mn")) {
              val rows = mf.select(col("file"), col("mn"), col("mx")).as[Band]
                .collect().flatMap { b =>
                  mapping.get(b.file) match {
                    case None => Some(b)
                    case Some(nf) => nf.map(f => b.copy(file = f))
                  }
                }
              IndexTombstones.swapManifest(s, manifestPath(path, rv),
                rows.sortBy(_.file).toSeq.toDF())
            } else {
              val rows = mf.select(col("file")).collect().map(_.getString(0))
                .flatMap(f => mapping.get(f) match {
                  case None => Some(f)
                  case Some(nf) => nf
                })
              IndexTombstones.swapManifest(s, manifestPath(path, rv),
                rows.toSeq.sorted.toDF("file"))
            }
          }
          // the superseded originals hold the only remaining purged
          // bytes: no retained manifest references them anymore. The
          // ownership rule applies here too — a clone's fold rewrites
          // its VIEW clean but must not delete borrowed source files
          // (the source's own erasure lifecycle governs those bytes).
          val owned = owningAll.filter(_.startsWith(dataPath(path)))
          owned.foreach(f =>
            fs.delete(new org.apache.hadoop.fs.Path(f), false))
          deleted += owned.size
        }
        fs.delete(new org.apache.hadoop.fs.Path(dvDir(path)), true)
      } else {
        val needed = retained.flatMap(v => dvs.filter(_ <= v).lastOption).toSet
        dvs.filterNot(needed).foreach(k =>
          fs.delete(new org.apache.hadoop.fs.Path(dvPath(path, k)), true))
      }
    }
    // side-relation GC — one shared computation of the retained
    // versions and their live file set (vacuum holds the writer lease,
    // so neither can change mid-call; recomputing per relation would
    // re-read every retained manifest three times)
    val retainedNow = versions(s, path)
    val live = retainedNow.flatMap(v => versionFiles(s, path, v)).toSet
    // bloom side-relation GC: keep only entries whose file some retained
    // manifest still lists — a bounded metadata rewrite (the relation is
    // file-count sized); an empty survivor set drops the dir entirely
    // distributed left-semi against the live file names (round-16
    // verdict #2): the bloom BYTES never reach the driver; only the
    // k-row name list broadcasts. Stage -> swap keeps the rewrite from
    // reading its own input dir; a crash window leaves no relation =
    // fail open (less pruning, never wrong).
    readBlooms(s, path).foreach { bl =>
      import s.implicits._
      val liveDf = live.toSeq.sorted.toDF("file")
      val keep = bl.join(broadcast(liveDf), Seq("file"), "left_semi")
      if (keep.isEmpty)
        fs.delete(new org.apache.hadoop.fs.Path(bloomsDir(path)), true)
      else IndexTombstones.swapManifest(s, bloomsDir(path),
        keep.orderBy(col("file")))
    }
    // per-column stats side relations GC: same rule as the blooms
    ColStats.gc(s, path, live)
    // CDC retention: a commit's cdc relation is askable only while a
    // diff base BELOW it is retained; past that, reap it — which also
    // extends the erasure unrecoverability law to the delete commit's
    // persisted pre-images (they expire with the history that could
    // read those rows anyway)
    cdcVersions(s, path)
      .filter(n => !retainedNow.exists(_ < n))
      .foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(cdcPath(path, n)), true))
    (drop.size, deleted)
  }

  /** OPTIMIZE as a table-format COMMIT: rewrite the CURRENT version's
    * files into `ceil(bytes/targetFileBytes)` files clustered+sorted on
    * `clusterCol`, and commit the result as a NEW version whose
    * manifest lists only the compacted files — the logical content is
    * unchanged, so the commit removes every old file and adds the
    * replacements, which is exactly the shape q110b's retract-and-merge
    * refresh already handles: a downstream view follows a compaction
    * incrementally and provably does not move (all contributions
    * cancel — spec-asserted). Old versions stay readable until
    * [[vacuum]] reclaims them ([[CompactStore]] swaps a POINTER and
    * keeps one version; this keeps them all, the table-format way).
    * On a stream-built store ([[graft.streaming.VersionedCommitSink]])
    * the commit writes a txn record with the pseudo batch id
    * `-(new version)` — negative, so it can never collide with a
    * stream batch id — keeping the marker-commit rule uniform.
    *
    * CONCURRENCY (round-13 verdict #5): the version slot is claimed
    * atomically and the commit follows the UpsertSink burn-and-loop
    * pattern — a data commit landing mid-compaction abandons this
    * attempt's slot (vacuum reclaims the staging) and the WHOLE rewrite
    * retries against the new tip, bounded attempts, correctness over
    * wasted work. A claimed-but-crashed lower slot resolves through the
    * settle timeout (the abandoned-claimer rule), so an orphaned claim
    * no longer bricks maintenance. The maintenance LEASE still
    * serializes compaction against vacuum/delete commits; an erasure
    * SLA on a hot store sizes `settleTimeoutMs` above the stream's
    * commit wall.
    *
    * Returns the committed version number. */
  def compactCommit(s: SparkSession, path: String, clusterCol: String,
      targetFileBytes: Long, settleTimeoutMs: Long = 30000L): Int =
    WriterLease.withLease(s, path, "compactCommit") {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    var attempts = 0
    var abandoned = Set.empty[Int]
    var done: Option[Int] = None
    while (done.isEmpty && attempts < 3) {
      attempts += 1
      val vs = versions(s, path)
      require(vs.nonEmpty, s"no committed versions under $path")
      val cur = vs.last
      val v = claimVersion(s, path, cur + 1)
      // pre-settle: winning a slot above cur+1 means writers are (or
      // recently were) in flight — resolve them BEFORE paying the
      // rewrite; a crashed claimer times out into the abandoned rule
      val pre = if (v == cur + 1) Some(cur)
        else settleBelow(s, path, v, abandoned, settleTimeoutMs)
      if (pre.contains(cur)) {
        val files = versionFiles(s, path, cur)
        val bytes = files.map(f =>
          fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
        val n = math.max(1L,
          (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        val outDir = dataPath(path) + s"/compact_v$v"
        // compaction is the dv FOLD point: the rewrite drops the
        // deletion vector's rows from the data, so the compacted version
        // commits an EMPTY dv to supersede the lineage (deleteCommitDv's
        // design) — reads of v and later stop paying the anti-join
        val dv = dvAt(s, path, cur)
        val folded = dv.fold(s.read.parquet(files: _*))(d =>
          s.read.parquet(files: _*).join(d, d.columns.toSeq, "left_anti"))
        folded
          .repartitionByRange(n, col(clusterCol))
          .sortWithinPartitions(clusterCol)
          .write.mode(SaveMode.Overwrite).parquet(outDir)
        // commit validity: the rewrite is a correct next version only if
        // the tip is STILL the one it compacted
        val settled = settleBelow(s, path, v, abandoned, settleTimeoutMs)
        if (settled.contains(cur)) {
          val outFiles = hadoopLs(s, outDir)
          writeManifest(s, path, v, outFiles)
          ColStats.onCommit(s, path, outFiles.toSeq.sorted)
          dv.foreach(d => d.limit(0).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(dvPath(path, v)))
          // a stream-built store commits through its txn-marker rule;
          // the pseudo id is negative so replay checks never match
          writeMaintenanceTxn(s, path, v, "optimize")
          requireNoLineageGap(s, path, cur, v)
          done = Some(v)
        }
      }
      if (done.isEmpty) { abandoned += v; abandonSlot(s, path, v) } // tip moved: re-plan
    }
    done.getOrElse(throw new IllegalStateException(
      s"compactCommit on $path lost the commit race 3 times — a writer " +
        "is committing continuously; quiesce the stream or re-run from " +
        "the maintenance schedule"))
  }

  /** The band/bloom machinery compares keys in LONG space. Integral
    * keys CAST (order-preserving — bands prune ranges); string and
    * binary keys HASH through xxhash64 (round-15 verdict #2: real
    * erasure batches carry string subject ids — emails, UUIDs). A
    * hashed key space is membership-exact but order-free: a file's
    * (mn, mx) over hashes is near-vacuous for pruning, so the per-file
    * BLOOMS carry the point-probe prune for string-keyed stores —
    * exactly the planning split the Parquet bloom-filter spec makes.
    * Anything else (floats, structs, maps) fails loudly. */
  private[graft] def keyAsLong(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => c.cast("long")
      case StringType | BinaryType => xxhash64(c)
      case other => throw new IllegalArgumentException(
        s"unsupported store key type $other — keys must be integral " +
          "(byte/short/int/long) or string/binary")
    }
  }

  /** [[keyAsLong]] resolved against a frame's own schema. */
  private[graft] def keyLong(df: DataFrame,
      keyCol: String): org.apache.spark.sql.Column =
    keyAsLong(col(keyCol), df.schema(keyCol).dataType)

  /** Loud contract check shared by the upsert sink, the erasure commits
    * and the point reads: the key column must be integral OR
    * string/binary (hashed key space) — never the all-null-cast NPE or
    * a silently no-op'd erasure an unsupported type would hit. */
  private[graft] def requireSupportedKey(df: DataFrame, keyCol: String): Unit =
    keyAsLong(col(keyCol), df.schema(keyCol).dataType)

  /** The batch's key type must live in the SAME key space as the
    * store's: integral-vs-integral (cast-compatible long images) or the
    * EXACT string/binary type. Without this, a string batch probed
    * against a long-keyed store hashes into a disjoint long space, the
    * blooms admit nothing, and the erasure SILENTLY no-ops — worse than
    * the old loud rejection (round-15 verdict #2's hazard). Costs one
    * schema-carrier footer read, on planning paths that read manifests
    * anyway. */
  private[graft] def requireKeyClassMatch(s: SparkSession, path: String,
      v: Int, keys: DataFrame, keyCol: String): Unit = {
    import org.apache.spark.sql.types._
    val storeDt = schemaCarrier(s, path, v).schema(keyCol).dataType
    val batchDt = keys.schema(keyCol).dataType
    def integral(dt: DataType) = dt == LongType || dt == IntegerType ||
      dt == ShortType || dt == ByteType
    require((integral(storeDt) && integral(batchDt)) || storeDt == batchDt,
      s"key batch type $batchDt does not match the store's '$keyCol' " +
        s"type $storeDt — hashed key spaces are type-scoped, so a " +
        "mismatched batch would silently match nothing")
  }

  /** Per-FILE key blooms as a shared SIDE relation (file, bloom) —
    * round-14 verdict #3. A bloom is a property of an immutable data
    * file, so it lives OUTSIDE the per-version manifests and is shared
    * by reference across every version listing the file: written once
    * when the file is first planned against (heal) or created (COW
    * rewrite / fold), never copied per commit — a dv commit's write
    * cost stays O(keys) + the small band manifest, not
    * O(files x bloom bytes). Append-only between vacuums; [[vacuum]]
    * garbage-collects entries whose file no retained manifest lists. */
  def bloomsDir(path: String): String = path + "/blooms"

  private def readBlooms(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(bloomsDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(s.read.parquet(bloomsDir(path)).dropDuplicates("file"))
  }

  /** Compute and append blooms + exact ROW COUNTS for `files` (one
    * bounded scan of exactly those files — rows ride the same aggregate
    * free; they are the store-size basis for [[deleteCommitDv]]'s
    * automatic fold trigger, the Delta AddFile.numRecords idea).
    * Callers hold the maintenance lease — the side relation is a
    * write-path artifact, like the stats heal. */
  private[graft] def appendBlooms(s: SparkSession, path: String,
      files: Seq[String], keyCol: String): Unit = {
    if (files.isEmpty) return
    // fully distributed (round-16 verdict #2): at heal time `files` can
    // be the whole store, so the bloom bytes go straight from the
    // aggregate to the writer — never through a driver collect
    val data = s.read.parquet(files: _*)
    data
      .groupBy(input_file_name().as("file0"))
      .agg(KeyBloom.bloomAgg(keyLong(data, keyCol)).as("bloom"),
        count(lit(1)).as("rows"))
      .select(canonCol(col("file0")).as("file"), col("bloom"), col("rows"))
      .orderBy(col("file"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(bloomsDir(path))
  }

  /** Tip row count from the side relation: sum of per-file rows over
    * the version's manifest — a k-row driver join, no data scanned.
    * None when any member file lacks an entry (pre-heal store) — the
    * fold trigger then stays off rather than guessing. */
  private def storeRowsOf(s: SparkSession, path: String, v: Int): Option[Long] =
    readBlooms(s, path).flatMap { bl =>
      if (!bl.columns.contains("rows")) None
      else {
        val byFile = bl.select(col("file"), col("rows")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        val files = versionFiles(s, path, v)
        val counts = files.flatMap(byFile.get)
        if (counts.length == files.length) Some(counts.sum) else None
      }
    }

  /** BLOOM-extended key bands of version `v` as a broadcast-ready
    * (file, mn, mx, bloom) frame — the planning input for the erasure
    * commits: bands alone admit every file a SCATTERED key batch's
    * range overlaps, so the presence check reads every owning file's
    * key column; the per-file bloom lets the planner subtract files
    * that hold no probed key before any data file opens (zero false
    * negatives — [[KeyBloom]]). A band-less manifest is healed
    * ([[RangeManifest.versionBands]]); files still missing a bloom are
    * scanned once here and their blooms appended to the side relation;
    * a file whose bloom is absent for any reason joins as null =
    * might-contain (fail open). WRITE-PATH ONLY (lease-holding callers). */
  private[graft] def fileKeyStatsBloomed(s: SparkSession, path: String, v: Int,
      keyCol: String): DataFrame = {
    import s.implicits._
    val bands = RangeManifest.versionBands(s, path, v, keyCol, heal = true)
    val bandsDf = bands.toSeq.toDF()
    val have = readBlooms(s, path)
      .map(_.select(col("file")).collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    appendBlooms(s, path, bands.map(_.file).filterNot(have).toIndexedSeq, keyCol)
    val blooms = readBlooms(s, path)
      .getOrElse(Seq.empty[(String, Array[Byte])].toDF("file", "bloom"))
    bandsDf.join(blooms, Seq("file"), "left_outer")
      .select(col("file"), col("mn"), col("mx"), col("bloom"))
  }

  /** Band+bloom owning-file prune shared by every key-batch planner
    * (erasure commits, the change feed's dv term, the subject-access
    * read): files whose recorded key band contains a probed key AND
    * whose bloom admits it; a null bloom fails open to might-contain.
    * Driver cost: one broadcast join over the k-row stats table. */
  private[graft] def owningFilesFor(keys: DataFrame, statsDf: DataFrame,
      keyCol: String): Seq[String] =
    keys.select(keyLong(keys, keyCol).as("k")).distinct()
      .join(broadcast(statsDf),
        RangeManifest.holds(col("k")) &&
          KeyBloom.mightContainCol(col("bloom"), col("k")))
      .select(col("file")).distinct().collect()
      .map(_.getString(0)).toSeq.sorted

  /** WRITE-PATH CDC (round 15 — the Delta `_change_data` idea): a COW
    * committer that already knows its changed rows persists them at
    * commit time under `cdc/v<N>`, so the change feed reads O(changed
    * rows) instead of re-diffing the file-sized rewrite. Readers use a
    * commit's cdc relation ONLY for strictly-adjacent version pairs
    * (vb = va+1) — across a vacuumed/burned gap the net diff is the
    * only correct answer and the feed falls back to it. Retention: a
    * cdc relation is reaped by [[vacuum]] once NO version below it is
    * retained — exactly the window in which the feed can still be
    * asked for it, and (for delete commits) the same window in which
    * the purged pre-images it holds are time-travel-readable anyway,
    * so the erasure unrecoverability law extends to cdc bytes. */
  def cdcDir(path: String): String = path + "/cdc"
  def cdcPath(path: String, v: Int): String = cdcDir(path) + s"/v$v"

  private[graft] def cdcVersions(s: SparkSession, path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(cdcDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten.sorted
  }

  private[graft] def readCdc(s: SparkSession, path: String,
      v: Int): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(cdcPath(path, v))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // committed-gated, like dvAt: a crashed pre-marker writer can leave
    // an orphaned cdc/ dir at an uncommitted slot (vacuum reclaims it
    // later) — serving those rows as the feed would replay a commit
    // that never happened
    if (!fs.exists(p) || !versions(s, path).contains(v)) None
    else Some(s.read.parquet(cdcPath(path, v)))
  }

  /** Estimated on-disk bytes per full-width cdc row — the sizing input
    * for [[writeCdc]] (the dv write's ceil rule, applied to the wider
    * pre-image relation). */
  private val CdcBytesPerRow = 64L

  /** Persist one commit's change rows SIZED from their count (the
    * [[deleteCommitDv]] ceil rule — a small feed lands in one file, one
    * nearing file scale splits instead of a single monolithic task). */
  private[graft] def writeCdc(s: SparkSession, path: String, v: Int,
      rows: DataFrame, keyCol: String, targetFileBytes: Long = 64L << 20)
      : Unit = {
    val r = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = r.count()
      val nf = math.max(1L,
        (n * CdcBytesPerRow + targetFileBytes - 1) / targetFileBytes).toInt
      r.repartitionByRange(nf, col(keyCol)).sortWithinPartitions(keyCol)
        .write.mode(SaveMode.Overwrite).parquet(cdcPath(path, v))
    } finally r.unpersist(false)
  }

  /** READ-ONLY twin of [[fileKeyStatsBloomed]] for read-path planners
    * (the change feed's dv term): manifest bands when the writer
    * carried them (no heal-rewrite), blooms only from the existing side
    * relation (no append; a missing bloom joins as null = might-contain).
    * None when the manifest carries no stats — callers fail open to
    * scanning their candidate set. */
  private[graft] def fileKeyStatsReadOnly(s: SparkSession, path: String,
      v: Int): Option[DataFrame] = {
    val mf = s.read.parquet(manifestPath(path, v))
    if (!(mf.columns.contains("mn") && mf.columns.contains("mx"))) None
    else {
      val base = mf.select(col("file"), col("mn"), col("mx"))
      Some(readBlooms(s, path) match {
        case None => base.withColumn("bloom", lit(null).cast("binary"))
        case Some(b) => base.join(b.select(col("file"), col("bloom")),
          Seq("file"), "left_outer")
          .select(col("file"), col("mn"), col("mx"), col("bloom"))
      })
    }
  }

  /** MULTI-KEY POINT READ — the subject-access-request verb (the read
    * twin of the erasure family: before a subject's rows are purged,
    * the pipeline must be able to EXPORT them): read version `v`'s rows
    * whose `keyCol` is in `keys`, opening only the band+bloom-admitted
    * owning files ([[fileKeyStatsReadOnly]] — a READ path: no heal, no
    * bloom append; a store without stats fails open to the full
    * manifest, never wrong). The version's deletion vector applies as
    * on any read. Cost at 100 TB: a k-key request opens the handful of
    * files whose band AND bloom admit a key — a scattered batch no
    * longer reads every in-range file (round-14 missing #4, surfaced
    * as a user-facing read). */
  def readKeys(s: SparkSession, path: String, v: Int, keys: DataFrame,
      keyCol: String): DataFrame = {
    val files = versionFiles(s, path, v)
    requireSupportedKey(keys, keyCol)
    if (files.nonEmpty) requireKeyClassMatch(s, path, v, keys, keyCol)
    val owning: Seq[String] =
      if (files.isEmpty) Nil // a purge can empty a committed manifest
      else fileKeyStatsReadOnly(s, path, v) match {
        case None => files.toSeq
        case Some(st) => owningFilesFor(keys, st, keyCol)
      }
    val base =
      if (owning.isEmpty) schemaCarrier(s, path, v)
      else s.read.parquet(owning: _*)
    applyDv(s, path, v,
      base.join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi"))
  }

  /** ERASURE EXECUTION — the copy-on-write DELETE commit closing the
    * right-to-be-forgotten loop that q107 only SIZES and s16 only
    * GATES: remove every row whose `keyCol` is in `keys` from the
    * store's tip, as a new version that rewrites ONLY the files whose
    * key band can contain a purged key and shares every other file
    * byte-for-byte with the parent.
    *
    *  - PLANNING is the band+bloom prune ([[fileKeyStatsBloomed]]), so
    *    cost is bounded by the OWNING files — at 100 TB a thousand-key
    *    erasure touches the handful of files that own those keys, never
    *    the store;
    *  - the REWRITE is one anti-join of the owning files' rows against
    *    the key list, range-reclustered into at most `owning` files;
    *  - the COMMIT claims its slot atomically ([[claimVersion]]) and,
    *    racing a live data commit, abandons the slot and RETRIES the
    *    plan+rewrite against the new tip (the UpsertSink burn-and-loop,
    *    round-13 verdict #5 — an erasure SLA on a hot store must land
    *    without quiescing the stream), bounded attempts; on a
    *    stream-built store it writes the negative-pseudo-id txn record
    *    so replay checks stay uniform, and the manifest keeps the
    *    parent's stats columns when present (shared rows keep their
    *    bands — still-correct over-approximations; rewritten files get
    *    fresh bands);
    *  - HISTORY IS PRESERVED until retention: parent versions still
    *    read the purged rows (auditable tombstone-free lineage), and
    *    [[vacuum]] is what makes the erasure PHYSICAL — once the purge
    *    version leaves the retention window's tail, the owning files
    *    (the only ones holding purged bytes) are unreferenced and
    *    deleted from disk; the spec asserts the purged keys are then
    *    unrecoverable from any remaining file.
    *
    * Returns the committed version (the current tip unchanged when no
    * file can contain a purged key — a no-op erasure commits nothing).
    * Ref: the reference's Kudu sink mutates rows in place
    * (KuduDStreamFunctions.scala delete/upsert ops) and its
    * drop_*.impala DDL drops whole tables; versioned COW deletion is
    * what a 100 TB lake does instead so erasure and reproducibility
    * can coexist. */
  def deleteCommit(s: SparkSession, path: String, keys: DataFrame,
      keyCol: String, settleTimeoutMs: Long = 30000L): Int =
    WriterLease.withLease(s, path, "deleteCommit") {
    requireSupportedKey(keys, keyCol)
    var attempts = 0
    var abandoned = Set.empty[Int]
    var done: Option[Int] = None
    while (done.isEmpty && attempts < 5) {
      attempts += 1
      val vs = versions(s, path)
      require(vs.nonEmpty, s"no committed versions under $path")
      val cur = vs.last
      requireKeyClassMatch(s, path, cur, keys, keyCol)
      // planning stats with per-file blooms (heals the manifest if they
      // are missing — one bounded scan, then k-row reads forever after)
      val statsDf = fileKeyStatsBloomed(s, path, cur, keyCol)
      val bands = {
        import s.implicits._
        statsDf.select(col("file"), col("mn"), col("mx")).as[Band].collect()
      }
      // owning = band overlap AND bloom membership: a scattered batch
      // overlaps every band, but only files whose bloom admits at least
      // one probed key are candidates — the rest never open
      val owning = owningFilesFor(keys, statsDf, keyCol)
      // bands and blooms are over-approximations, so "some file admits
      // a key" does not mean the key is PRESENT — a replayed erasure
      // batch (keys already purged) can still select a rewritten file.
      // The present set also subtracts the tip's deletion vector: a key
      // physically in a file but already dv-erased is not a change this
      // commit makes (mixed dv-then-COW replays would otherwise commit
      // spurious versions and feed phantom deletes). Zero present rows
      // = a no-op erasure that commits NOTHING — the idempotent-replay
      // contract the streaming purge sink relies on.
      def presentRows = {
        val inFiles = s.read.parquet(owning.toIndexedSeq: _*)
          .join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
        dvAt(s, path, cur).fold(inFiles)(dv =>
          inFiles.join(broadcast(dv), dv.columns.toSeq, "left_anti"))
      }
      val hit = owning.nonEmpty && presentRows.limit(1).count() > 0
      if (!hit) done = Some(cur) // no purged key present: no-op
      else {
        val v = claimVersion(s, path, cur + 1)
        val outDir = dataPath(path) + s"/delete_v$v"
        s.read.parquet(owning.toIndexedSeq: _*)
          .join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
          .repartitionByRange(owning.length, col(keyCol))
          .sortWithinPartitions(keyCol)
          .write.mode(SaveMode.Overwrite).parquet(outDir)
        // write-path CDC: the rows this commit LOGICALLY deletes (the
        // present set — already-vectored keys are not changes) ARE its
        // feed; sized write, orphans reclaimed with the claim
        writeCdc(s, path, v,
          presentRows.withColumn("_change_type", lit("delete")), keyCol)
        // commit validity (the UpsertSink burn-and-loop, round-13
        // verdict #5): the rewrite is correct only against the tip it
        // planned from — a data commit landing meanwhile abandons this
        // slot (vacuum reclaims the staging) and the erasure re-plans
        // against the new tip instead of demanding a quiesced stream
        val settled = settleBelow(s, path, v, abandoned, settleTimeoutMs)
        if (!settled.contains(cur)) { abandoned += v; abandonSlot(s, path, v) }
        else {
          val newFiles = hadoopLs(s, outDir)
          val ownSet = owning.toSet
          // rewritten files get fresh bands in the manifest and their
          // blooms appended ONCE to the shared side relation (they sit
          // in executor cache from the rewrite); shared files keep both
          val newBands = RangeManifest.collect(s, newFiles.toIndexedSeq, keyCol)
          appendBlooms(s, path, newFiles.toSeq.sorted, keyCol)
          ColStats.onCommit(s, path, newFiles.toSeq.sorted)
          RangeManifest.writeVersion(s, path, v,
            bands.filterNot(b => ownSet(b.file)).toSeq ++ newBands)
          writeMaintenanceTxn(s, path, v, "delete")
          requireNoLineageGap(s, path, cur, v)
          done = Some(v)
        }
      }
    }
    done.getOrElse(throw new IllegalStateException(
      s"deleteCommit on $path lost the commit race 5 times — a writer is " +
        "committing continuously; back off and retry"))
  }

  /** Maintenance-commit txn record — the negative pseudo batch id +
    * marker a stream-built store's commit rule requires (compaction,
    * delete commits); a no-op on batch-built (manifest-only) stores.
    * `op` is the commit's INTENT stamp ([[StoreLineage.history]]'s
    * `operation` column — the Delta commitInfo idea): what the writer
    * meant, beside what the manifest diff shows it did. */
  private def writeMaintenanceTxn(s: SparkSession, path: String, v: Int,
      op: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(txnDir(path)))) {
      import s.implicits._
      Seq((-v.toLong, System.currentTimeMillis(), op))
        .toDF("batch_id", "commit_ts", "operation")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(txnPath(path, v))
      StoreIo.ops.createMarker(fs, new org.apache.hadoop.fs.Path(
        s"${txnPath(path, v)}/batch_${-v}.marker"))
      maybeCheckpoint(s, path, v)
    }
  }

  /** ERASURE EXECUTION, DELETION-VECTOR MODE — the O(deleted rows)
    * twin of [[deleteCommit]] for the scale regime copy-on-write
    * handles badly (round-13 verdict #2): an erasure batch whose keys
    * SCATTER across most key bands makes COW rewrite nearly every
    * owning file — worst case O(store) write amplification for a
    * thousand-row purge. The Iceberg-v2/Delta deletion-vector idea
    * instead makes the commit cost O(deleted rows):
    *
    *  - the commit writes NO data files: the new version's manifest is
    *    the parent's verbatim (every file shared by reference), plus a
    *    small dv relation ([[dvPath]]) holding the full live purged-key
    *    set (parent dv ∪ this batch's present keys — cumulative, so
    *    readers resolve ONE dv per read);
    *  - every read of the version ([[readVersion]]/[[readVersionMerged]])
    *    anti-joins the dv riding the pruned scan — the dv side is
    *    O(unfolded deletions), broadcast by Spark's size-based planning;
    *  - the erasure goes PHYSICAL at the fold: [[compactCommit]]
    *    rewrites the data without the dv rows and supersedes the
    *    lineage with an empty dv; [[vacuum]] folds in place once every
    *    retained version sits at/above the dv commit, extending the
    *    unrecoverability law — after it, no parquet byte NOR dv entry
    *    holds a purged key (spec-asserted). The fold also SELF-
    *    SCHEDULES: a commit that pushes the vector past
    *    `autoFoldFraction` of the tip's rows (exact per-file counts
    *    from the blooms side relation — no scan) runs the compaction
    *    immediately after its lease releases, so an unattended store
    *    cannot grow an unbounded vector;
    *  - replay is idempotent through the same presence check as COW
    *    mode, additionally subtracting keys the current dv already
    *    holds: a replayed batch commits nothing.
    *
    * CONTRACT: dv mode is for append/maintenance lineages. A keyed
    * UPSERT store must fold (compact) before re-inserting a purged key
    * — the dv is version-resolved, so a re-inserted key's rows would be
    * hidden until the fold; [[graft.streaming.UpsertSink]] stores keep
    * COW mode (the default) for exactly this reason.
    *
    * Returns the committed version (the tip unchanged on a no-op).
    * Ref: the reference's Kudu sink deletes rows in place
    * (KuduDStreamFunctions.scala) — DVs are how a lake gets that
    * per-row delete cost without giving up immutable files. */
  def deleteCommitDv(s: SparkSession, path: String, keys: DataFrame,
      keyCol: String, settleTimeoutMs: Long = 30000L,
      dvTargetFileBytes: Long = 64L << 20,
      autoFoldFraction: Double = 0.25,
      foldTargetFileBytes: Long = 128L << 20): Int = {
    var needFold = false
    val committed = WriterLease.withLease(s, path, "deleteCommit") {
    requireSupportedKey(keys, keyCol)
    var attempts = 0
    var abandoned = Set.empty[Int]
    var done: Option[Int] = None
    while (done.isEmpty && attempts < 5) {
      attempts += 1
      val vs = versions(s, path)
      require(vs.nonEmpty, s"no committed versions under $path")
      val cur = vs.last
      requireKeyClassMatch(s, path, cur, keys, keyCol)
      // band AND bloom pruning (round-14 verdict #3): dv mode exists for
      // SCATTERED batches, where bands alone admit every file and the
      // presence check degrades to a full key-column scan — the per-file
      // bloom subtracts the files holding no probed key before any opens
      val statsDf = fileKeyStatsBloomed(s, path, cur, keyCol)
      val keysD = keys.select(col(keyCol)).distinct()
      val owning = owningFilesFor(keysD, statsDf, keyCol)
      // present = in some owning file's bytes AND not already dv-purged:
      // both a replayed batch and an all-absent batch commit NOTHING
      val curDv = dvAt(s, path, cur)
      val presentKeys = if (owning.isEmpty) None else {
        val inFiles = keysD.join(
          s.read.parquet(owning.toIndexedSeq: _*).select(col(keyCol)),
          Seq(keyCol), "left_semi")
        val fresh = curDv.fold(inFiles)(dv =>
          inFiles.join(dv, Seq(keyCol), "left_anti"))
        Some(fresh).filter(_.limit(1).count() > 0)
      }
      presentKeys match {
        case None => done = Some(cur) // no-op erasure: nothing newly purged
        case Some(fresh) =>
          val v = claimVersion(s, path, cur + 1)
          // commit validity (burn-and-loop, round-13 verdict #5): a data
          // commit landing meanwhile abandons this slot and the erasure
          // re-plans against the new tip — no quiesce required
          val settled = settleBelow(s, path, v, abandoned, settleTimeoutMs)
          if (!settled.contains(cur)) { abandoned += v; abandonSlot(s, path, v) }
          else {
            // the cumulative dv: parent's live set ∪ this batch —
            // O(unfolded deletions) bytes, the commit's ONLY data write,
            // SIZED from its key volume (the CompactStore ceil rule —
            // round-14 verdict #4; a small vector still lands in one
            // file, one nearing file scale splits instead of growing a
            // single monolith)
            val newDv = curDv.fold(fresh)(dv => dv.unionByName(fresh).distinct())
            val nDv = writeDvSized(s, path, v, newDv, keyCol, dvTargetFileBytes)
            // AUTOMATIC FOLD TRIGGER (round-14 verdict #4): once the
            // vector crosses the configured fraction of the tip's
            // rows (exact per-file counts from the side relation — a
            // k-row driver sum, no scan), the store is overdue for
            // its physical fold; the compaction runs AFTER this lease
            // releases (compactCommit takes its own)
            needFold = autoFoldFraction > 0 &&
              storeRowsOf(s, path, cur)
                .exists(total => total > 0 && nDv >= autoFoldFraction * total)
            // write-path CDC: the freshly-vectored keys' pre-images —
            // O(deleted rows) bytes the owning-file presence scan
            // already touched; the adjacent-pair feed then reads ZERO
            // data files for this commit
            writeCdc(s, path, v,
              s.read.parquet(owning.toIndexedSeq: _*)
                .join(fresh.select(col(keyCol)).distinct(), Seq(keyCol),
                  "left_semi")
                .withColumn("_change_type", lit("delete")), keyCol)
            // manifest = parent's, verbatim (stats columns and all):
            // every data file shared by reference — zero amplification
            s.read.parquet(manifestPath(path, cur))
              .coalesce(1).write.mode(SaveMode.Overwrite)
              .parquet(manifestPath(path, v))
            writeMaintenanceTxn(s, path, v, "delete_dv")
            requireNoLineageGap(s, path, cur, v)
            done = Some(v)
          }
      }
    }
    done.getOrElse(throw new IllegalStateException(
      s"deleteCommitDv on $path lost the commit race 5 times — a writer " +
        "is committing continuously; back off and retry"))
    }
    // the triggered fold: a compaction commit rewrites the data without
    // the dv rows and supersedes the lineage with an empty vector — the
    // erasure goes physical without waiting for the operator's vacuum
    if (needFold)
      compactCommit(s, path, keyCol, foldTargetFileBytes, settleTimeoutMs)
    committed
  }

  /** Estimated on-disk bytes per dv key (one int64 column + parquet
    * structure) — the sizing input for the cumulative vector's write. */
  private val DvBytesPerKey = 16L

  /** Write a cumulative deletion vector at slot `v`, SIZED from its key
    * volume (the CompactStore ceil rule). Returns the vector's row
    * count (the auto-fold trigger's input). Shared by the dv erasure
    * commit and the keyed upsert's resurrection shrink. */
  private[graft] def writeDvSized(s: SparkSession, path: String, v: Int,
      dvRows: DataFrame, keyCol: String,
      targetFileBytes: Long = 64L << 20): Long = {
    val r = dvRows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = r.count()
      val nf = math.max(1L,
        (n * DvBytesPerKey + targetFileBytes - 1) / targetFileBytes).toInt
      r.repartitionByRange(nf, col(keyCol)).sortWithinPartitions(keyCol)
        .write.mode(SaveMode.Overwrite).parquet(dvPath(path, v))
      n
    } finally r.unpersist(false)
  }

  // ---- GENERIC maintained MV (round-14 verdict #6): the q110–q110d
  // ladder behind ONE verb ----

  def mvAutoDir(path: String): String = path + "/mv_auto"
  private def mvAutoPath(path: String, v: Int): String =
    mvAutoDir(path) + s"/v$v"

  /** The newest maintained-MV snapshot at or below `tip`. */
  private def mvAutoVersion(s: SparkSession, path: String,
      tip: Int): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(mvAutoDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten.filter(_ <= tip).sorted.lastOption
  }

  /** REFRESH the maintained additive aggregate
    * `groupBy(groupCol).agg(count(*) AS cnt, sum(valueCol) AS total)`
    * at `path`'s mv_auto slot, resolving EVERY commit kind since the
    * last refresh automatically — the q110 (append), q110b (COW
    * update/compaction), q110c (COW delete) and q110d (deletion-vector)
    * refreshes unified behind one verb (round-14 verdict #6):
    *
    * walking consecutive committed versions va → vb, with
    * rows(v) = files(v) minus dv(v) keys, the step refresh is the exact
    * algebra of both diffs:
    *
    *   mv(vb) = mv(va)
    *          − partial(removed files minus dv(va))   — retract departed
    *          + partial(added files minus dv(vb))     — merge arrivals
    *          − partial(shared ∩ (dv(vb) \ dv(va)))   — newly dv-hidden
    *          + partial(shared ∩ (dv(va) \ dv(vb)))   — dv-unhidden (fold)
    *
    * Each term scans only the step's own delta: removed/added ARE the
    * commit's file diff, and the dv-diff terms read only the
    * stats+bloom-pruned owning subset of the shared files semi-joined
    * to the diff keys — refresh cost ∝ the commit, never the store.
    * Additive aggregates retract exactly; a group retracted to zero
    * rows LEAVES the view (the q110b rule). A missing snapshot
    * initializes at the OLDEST committed version (one full compute of
    * that version — the CREATE step), so the incremental ladder covers
    * every later commit. Runs under the writer lease (it writes mv
    * state and may heal the blooms side relation via the pruned dv
    * read). Returns (fromVersion, toVersion) — equal when current. */
  def refreshMv(s: SparkSession, path: String, groupCol: String,
      valueCol: String, keyCol: String): (Int, Int) =
    WriterLease.withLease(s, path, "refreshMv") {
    import s.implicits._
    val vs = versions(s, path)
    require(vs.nonEmpty, s"no committed versions under $path")
    val tip = vs.last
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

    def aggOf(df: DataFrame): DataFrame =
      df.groupBy(col(groupCol))
        .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("total"))

    val from = mvAutoVersion(s, path, tip) match {
      case Some(v) if vs.contains(v) => v
      case stale =>
        // absent (the CREATE step) — or the snapshot's base version was
        // vacuumed below retention, so its manifest (the diff base) is
        // gone: (re)initialize with one full compute of the oldest
        // retained version and let the ladder cover the rest
        stale.foreach(v =>
          fs.delete(new org.apache.hadoop.fs.Path(mvAutoPath(path, v)), true))
        val v0 = vs.head
        aggOf(readVersion(s, path, v0)).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(mvAutoPath(path, v0))
        v0
    }
    val steps = vs.dropWhile(_ < from) // from :: later committed versions
    steps.sliding(2).filter(_.size == 2).foreach { case Seq(va, vb) =>
      val fa = versionFiles(s, path, va).toSet
      val fb = versionFiles(s, path, vb).toSet
      val removed = (fa -- fb).toSeq.sorted
      val added = (fb -- fa).toSeq.sorted
      val shared = (fa & fb).toSeq.sorted
      val dvA = dvAt(s, path, va)
      val dvB = dvAt(s, path, vb)
      def minusDv(df: DataFrame, dv: Option[DataFrame]) =
        dv.fold(df)(d => df.join(d, d.columns.toSeq, "left_anti"))
      var mv = s.read.parquet(mvAutoPath(path, va))
        .select(col(groupCol), col("cnt"), col("total"))
      def applySigned(part: DataFrame, sign: Int): Unit = {
        val p = part.select(col(groupCol), col("cnt").as("dc"),
          col("total").as("dt"))
        mv = mv.join(p, Seq(groupCol), "full_outer")
          .select(col(groupCol),
            (coalesce(col("cnt"), lit(0L))
              + lit(sign.toLong) * coalesce(col("dc"), lit(0L))).as("cnt"),
            (coalesce(col("total"), lit(0L))
              + lit(sign.toLong) * coalesce(col("dt"), lit(0L))).as("total"))
      }
      if (removed.nonEmpty)
        applySigned(aggOf(minusDv(s.read.parquet(removed: _*), dvA)), -1)
      if (added.nonEmpty)
        applySigned(aggOf(minusDv(s.read.parquet(added: _*), dvB)), +1)
      // dv diffs over the SHARED files: owning subset only (bands +
      // blooms), semi-joined to the diff keys
      def dvDiffRows(newer: Option[DataFrame], older: Option[DataFrame])
          : Option[DataFrame] = newer.map { n =>
        val diff = older.fold(n)(o => n.join(o, o.columns.toSeq, "left_anti"))
        // restrict to the SHARED files via a semi-join against a small
        // frame, not an In-literal: at lake scale the shared set is tens
        // of thousands of names and an In expression that long bloats
        // the plan and driver memory (round-15 advice)
        import s.implicits._
        val statsDf = fileKeyStatsBloomed(s, path, vb, keyCol)
          .join(broadcast(shared.toDF("file")), Seq("file"), "left_semi")
        val owning = owningFilesFor(diff, statsDf, keyCol)
        if (owning.isEmpty) s.read.parquet(shared.head).limit(0)
        else s.read.parquet(owning.toIndexedSeq: _*)
          .join(diff.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
      }
      if (shared.nonEmpty) {
        dvDiffRows(dvB, dvA).foreach(r => applySigned(aggOf(r), -1))
        dvDiffRows(dvA, dvB).foreach(r => applySigned(aggOf(r), +1))
      }
      mv.filter(col("cnt") > 0).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(mvAutoPath(path, vb))
      // the superseded snapshot goes once its successor is durable; a
      // crash between the two leaves both and resolution takes the newer
      fs.delete(new org.apache.hadoop.fs.Path(mvAutoPath(path, va)), true)
    }
    (from, tip)
  }

  /** The maintained MV's current content (the newest snapshot). */
  def readMv(s: SparkSession, path: String): DataFrame = {
    val vs = versions(s, path)
    val v = mvAutoVersion(s, path, vs.lastOption.getOrElse(Int.MaxValue))
      .getOrElse(throw new IllegalStateException(
        s"no maintained MV under $path — CALL graft_store_refresh_mv first"))
    s.read.parquet(mvAutoPath(path, v))
  }

  /** Per-version commit wall clock, adjusted MONOTONE: committed
    * versions' `commit_ts` from their txn records (marker-file
    * modification time when a pre-commit_ts record lacks the column),
    * with any non-increasing stamp lifted to predecessor+1 ms — the
    * Delta `TIMESTAMP AS OF` adjustment, so version order and time
    * order can never disagree even across writer clock skew. Driver
    * cost: one tiny parquet read per committed version (bounded by
    * retention). */
  def commitTimes(s: SparkSession, path: String): Seq[(Int, Long)] =
    commitTimesRaw(s, path)
      .foldLeft(List.empty[(Int, Long)]) { case (acc, (v, ts, _)) =>
        val adj = acc.headOption.map(p => math.max(ts, p._2 + 1)).getOrElse(ts)
        (v, adj) :: acc
      }.reverse

  /** Pre-adjustment stamps with their source: `true` = resolved from
    * the newest checkpoint (zero per-version reads), `false` = a tail
    * txn-record read. The spec asserts the tail stays bounded by the
    * checkpoint interval however many versions the stream commits. */
  private[graft] def commitTimesRaw(s: SparkSession,
      path: String): Seq[(Int, Long, Boolean)] = {
    val ckptTs = readCheckpoint(s, path)
      .map(_._2.map(r => r._1 -> r._3).toMap).getOrElse(Map.empty[Int, Long])
    committedTxnVersions(s, path).map { v =>
      ckptTs.get(v) match {
        case Some(ts) => (v, ts, true)
        case None => (v, readTxnMeta(s, path, v)._2, false)
      }
    }
  }

  /** TIMESTAMP-based time travel — the wall-clock half of q109's
    * `VERSION AS OF`: read the store as it was at `tsMillis`, i.e. the
    * NEWEST version whose (monotone-adjusted) commit time is <= the
    * probe. A probe at a commit's exact stamp reads THAT commit
    * (inclusive boundary, the Delta semantics); a probe before the
    * first commit is an error (the store did not exist yet). */
  /** The newest committed version at or before `tsMillis` — the
    * TIMESTAMP AS OF resolver (inclusive boundary; pre-first-commit
    * probes fail loudly). Shared by [[readAsOf]] and the
    * `graft_snapshot('<path>', '<timestamp>')` TVF form. */
  def versionAsOf(s: SparkSession, path: String, tsMillis: Long): Int = {
    val times = commitTimes(s, path)
    require(times.nonEmpty, s"no committed versions under $path")
    val at = times.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis precedes the first commit (${times.head._2}) of $path")
    at.last._1
  }

  def readAsOf(s: SparkSession, path: String, tsMillis: Long): DataFrame =
    readVersion(s, path, versionAsOf(s, path, tsMillis))

  /** The append delta between two versions, straight from the manifest
    * diff — the file set an incremental consumer scans INSTEAD of the
    * store. */
  def deltaFiles(s: SparkSession, path: String, from: Int, to: Int): Array[String] =
    (versionFiles(s, path, to).toSet -- versionFiles(s, path, from).toSet)
      .toArray.sorted

  /** Materialized per-customer aggregate of version 1, built once per
    * JVM next to the store — the downstream table q110 maintains. */
  private def mvPath(path: String): String = path + "/mv/v1"
  private val mvBuilt = scala.collection.mutable.Set.empty[String]

  private def mv1(s: SparkSession, path: String): DataFrame = synchronized {
    if (!mvBuilt.contains(path)) {
      readVersion(s, path, 1)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("trips"), sum(col("amount_c")).as("amount_c"))
        .write.mode(SaveMode.Overwrite).parquet(mvPath(path))
      mvBuilt += path
    }
    s.read.parquet(mvPath(path))
  }

  /** q110: incremental view maintenance — the reason the store keeps
    * versions at all: a downstream aggregate is brought from v1 to v2
    * by scanning ONLY the append delta (the v1→v2 manifest diff) and
    * merging its partial aggregate into the materialized v1 table —
    * the v1 FACTS are never rescanned. At 100 TB this is the difference
    * between an O(delta) nightly refresh and an O(store) recompute; the
    * merge is a co-partitioned entity-sized outer join (the q100 CDC
    * shape), and additive aggregates (counts, integer-cent sums) merge
    * losslessly by construction. The oracle recomputes the v2 aggregate
    * from scratch, so the gate PROVES incremental ≡ full — the IVM
    * correctness statement itself; the spec additionally asserts the
    * plan's fact scan touches only the delta files. */
  def q110IncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val path = store(s, dir)
    incrementalMv(s, path)
  }

  private[graft] def incrementalMv(s: SparkSession, path: String): DataFrame = {
    val base = mv1(s, path)
      .select(col("o_custkey"), col("trips").as("t1"), col("amount_c").as("a1"))
    val delta = s.read.parquet(deltaFiles(s, path, 1, 2): _*)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("td"), sum(col("amount_c")).as("ad"))
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("t1"), lit(0L)) + coalesce(col("td"), lit(0L))).as("trips"),
        (coalesce(col("a1"), lit(0L)) + coalesce(col("ad"), lit(0L))).as("amount_c"))
      .orderBy(col("o_custkey"))
  }

  /** Materialized v2-level aggregate (q110's refresh result), built
    * once per JVM next to the store — the table q110b maintains across
    * the copy-on-write commit. */
  private def mv2Path(path: String): String = path + "/mv/v2"
  private val mv2Built = scala.collection.mutable.Set.empty[String]

  private def mv2(s: SparkSession, path: String): DataFrame = synchronized {
    if (!mv2Built.contains(path)) {
      incrementalMv(s, path)
        .write.mode(SaveMode.Overwrite).parquet(mv2Path(path))
      mv2Built += path
    }
    s.read.parquet(mv2Path(path))
  }

  /** q110b: IVM across the UPDATE commit (v2→v3) — the refresh q110
    * cannot do: a copy-on-write commit REMOVES files (the rewritten
    * band owners) as well as adding their replacements, so the delta
    * consumer must RETRACT the removed files' partial aggregates and
    * merge the added files' in. The manifest diff yields both sets;
    * the refresh is
    *
    *   mv3(c) = mv2(c) − partial(removed)(c) + partial(added)(c)
    *
    * — additive aggregates (counts, integer-cent sums) retract as
    * exactly as they merge, and the three-way merge is the same
    * co-partitioned entity-sized outer join as q110 (the q100 CDC
    * shape). Customers whose every fact was removed leave the view
    * (trips = 0 rows drop — exact retraction semantics). The fact
    * scans touch ONLY removed ∪ added files (spec-asserted via
    * inputFiles): at 100 TB the correction batch costs its own size,
    * never the store's. The oracle recomputes the v3 aggregate from
    * scratch — the gate PROVES incremental-across-update ≡ full. */
  def q110bIncrementalMvCow(s: SparkSession, dir: String): DataFrame = {
    val path = store(s, dir)
    val f2 = versionFiles(s, path, 2).toSet
    val f3 = versionFiles(s, path, 3).toSet
    val removed = (f2 -- f3).toSeq.sorted
    val added = (f3 -- f2).toSeq.sorted
    require(removed.nonEmpty && added.nonEmpty,
      "v2->v3 is not a copy-on-write commit")
    def partial(files: Seq[String], t: String, a: String) =
      s.read.parquet(files: _*)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(t), sum(col("amount_c")).as(a))
    val base = mv2(s, path)
      .select(col("o_custkey"), col("trips").as("t2"), col("amount_c").as("a2"))
    base
      .join(partial(removed, "tr", "ar"), Seq("o_custkey"), "full_outer")
      .join(partial(added, "ta", "aa"), Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("t2"), lit(0L)) - coalesce(col("tr"), lit(0L))
          + coalesce(col("ta"), lit(0L))).as("trips"),
        (coalesce(col("a2"), lit(0L)) - coalesce(col("ar"), lit(0L))
          + coalesce(col("aa"), lit(0L))).as("amount_c"))
      .filter(col("trips") > 0)
      .orderBy(col("o_custkey"))
  }

  /** The q107 erasure list projected onto the store's key: AUTOMOBILE-
    * segment customers with custkey % 10 = 7 — the same stand-in
    * erasure-request batch the q107 audit SIZES; q107b EXECUTES it. */
  private def purgeKeys(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE" && col("c_custkey") % 10 === 7)
      .select(col("c_custkey").as("o_custkey"))

  /** The store with the erasure EXECUTED: version 4 = version 3 minus
    * the purge keys' rows, committed once per JVM through
    * [[deleteCommit]] (idempotent across queries: q107b and q110c share
    * the commit; versions 1-3 and their manifest diffs are untouched,
    * so q109/q110/q110b read exactly what they always read). */
  private val purgedBuilt = scala.collection.mutable.Set.empty[String]

  private[graft] def purgedStore(s: SparkSession, dir: String): String = synchronized {
    val path = store(s, dir)
    if (!purgedBuilt.contains(path)) {
      if (versions(s, path).lastOption.getOrElse(0) < 4)
        deleteCommit(s, path, purgeKeys(s, dir), "o_custkey")
      purgedBuilt += path
    }
    path
  }

  /** q107b: erasure EXECUTION — the operator q107's audit plans for
    * and s16's gate assumes exists. The delete commit rewrites ONLY the
    * files whose key band owns a purged customer and shares the rest,
    * so the gate proves the physical semantics end to end: a purged row
    * surviving in a shared file, a retained row lost in the rewrite, or
    * a rewrite leaking into version 3 each break a count or an
    * integer-cent sum against the oracle's logical restatement
    * (v3 = the q109 definition; v4 = v3 minus the erasure list).
    * History stays readable (that is the versioned-store promise);
    * [[vacuum]] + the spec's unrecoverability law make it physical. */
  def q107bPurgeExecute(s: SparkSession, dir: String): DataFrame = {
    val path = purgedStore(s, dir)
    Seq(3, 4).map { v =>
      readVersion(s, path, v)
        .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
          count_distinct(col("o_custkey")).as("n_customers"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("amount_c"),
          col("n_customers"))
    }.reduce(_.unionAll(_)).orderBy(col("version"))
  }

  /** Single-commit store holding q109's VERSION 3 logical content
    * (orders < cut2 with the banded +100¢ adjustment, custkey-clustered
    * with a STATS manifest so dv planning prunes with zero heal scans),
    * then the q107 erasure committed in DELETION-VECTOR mode — the
    * lineage [[q107cPurgeExecuteDv]] gates. Built once per JVM. */
  private val dvDemoBuilt = scala.collection.mutable.Map.empty[String, String]

  private[graft] def dvStore(s: SparkSession, dir: String): String = synchronized {
    dvDemoBuilt.getOrElseUpdate(dir, {
      val path = Engine.storePath("graft-versioned-dvstore", dir)
      resetIfPartial(s, path)
      if (versions(s, path).isEmpty) {
        val orders = Tables.orders(s, dir)
          .filter(col("o_orderdate") < to_timestamp(lit(cut2)))
          .select(col("o_orderkey"), col("o_custkey"),
            Num.cents(col("o_totalprice")).as("amount_c"))
        val r = orders.agg(min(col("o_custkey")), max(col("o_custkey"))).head()
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        val (lo, hi) = (mn + (mx - mn + 1) * 4 / 10, mn + (mx - mn + 1) * 5 / 10)
        val dp = dataPath(path)
        orders.withColumn("amount_c",
            when(col("o_custkey").between(lo, hi), col("amount_c") + 100L)
              .otherwise(col("amount_c")))
          .repartitionByRange(12, col("o_custkey"))
          .sortWithinPartitions("o_custkey")
          .write.mode(SaveMode.Overwrite).parquet(dp)
        RangeManifest.writeVersion(s, path, 1,
          RangeManifest.collect(s, Seq(dp), "o_custkey"))
        deleteCommitDv(s, path, purgeKeys(s, dir), "o_custkey")
      }
      path
    })
  }

  /** q107c: erasure execution in DELETION-VECTOR mode — the SAME purge
    * predicate as q107b committed as an O(deleted rows) dv commit
    * instead of a copy-on-write rewrite: zero data files written, every
    * file shared by reference, the erasure riding reads as a broadcast
    * anti-join until compaction/vacuum folds it physical. The probe
    * labels match q107b's (version 3 = the pre-purge logical content,
    * version 4 = post-purge), the oracle is the identical logical
    * restatement, and the spec additionally asserts the two modes
    * return BIT-IDENTICAL frames and that a scattered erasure batch
    * costs O(keys) bytes where COW would rewrite most of the store —
    * the regime (round-13 verdict #2) dv mode exists for. */
  def q107cPurgeExecuteDv(s: SparkSession, dir: String): DataFrame = {
    val path = dvStore(s, dir)
    Seq(3L -> 1, 4L -> 2).map { case (label, v) =>
      readVersion(s, path, v)
        .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
          count_distinct(col("o_custkey")).as("n_customers"))
        .select(lit(label).as("version"), col("n_rows"), col("amount_c"),
          col("n_customers"))
    }.reduce(_.unionAll(_)).orderBy(col("version"))
  }

  /** Materialized v1-level aggregate of the DV store (its v1 holds
    * q109's v3 logical content), built once per JVM — the table q110d
    * maintains across the DELETION-VECTOR commit. */
  private def dvMvPath(path: String): String = path + "/mv/v1"
  private val dvMvBuilt = scala.collection.mutable.Set.empty[String]

  private def dvMv1(s: SparkSession, path: String): DataFrame = synchronized {
    if (!dvMvBuilt.contains(path)) {
      readVersion(s, path, 1)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("trips"), sum(col("amount_c")).as("amount_c"))
        .write.mode(SaveMode.Overwrite).parquet(dvMvPath(path))
      dvMvBuilt += path
    }
    s.read.parquet(dvMvPath(path))
  }

  /** q110d: IVM across the DELETION-VECTOR commit — the refresh q110c
    * cannot express: a dv commit's MANIFEST DIFF IS EMPTY (every file
    * shared by reference), so the retraction derives from the DV DIFF
    * instead — the keys newly purged between the parent's vector and
    * the commit's. The view subtracts exactly those keys' partial
    * aggregates, computed by reading ONLY the stats-pruned owning files
    * semi-joined to the purged keys: refresh cost ∝ deleted rows (plus
    * the owning read), never the store — the same O(delta) promise as
    * q110/q110b/q110c, carried to the erasure mode whose COMMIT is also
    * O(deleted rows). Customers whose every fact was purged LEAVE the
    * view (zero-trip rows drop). The oracle is q110c's statement
    * VERBATIM (the dv store's v2 content equals the COW store's v4), so
    * the driver hash proves IVM-across-dv ≡ IVM-across-COW ≡ full
    * recompute. */
  def q110dIncrementalMvDv(s: SparkSession, dir: String): DataFrame = {
    val path = dvStore(s, dir)
    val base = dvMv1(s, path)
      .select(col("o_custkey"), col("trips").as("t1"), col("amount_c").as("a1"))
    // the dv delta v1 -> v2: v1 predates the vector, so the delta IS v2's
    val purged = dvAt(s, path, 2).getOrElse(
      throw new IllegalStateException("dv store lacks its v2 vector"))
    val owning = RangeManifest.filesFor(purged, "o_custkey",
      RangeManifest.versionBands(s, path, 2, "o_custkey", heal = true))
    val removedRows = s.read.parquet(owning.toIndexedSeq: _*)
      .join(purged, Seq("o_custkey"), "left_semi")
    val part = removedRows.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("tr"), sum(col("amount_c")).as("ar"))
    base.join(part, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("t1"), lit(0L)) - coalesce(col("tr"), lit(0L))).as("trips"),
        (coalesce(col("a1"), lit(0L)) - coalesce(col("ar"), lit(0L))).as("amount_c"))
      .filter(col("trips") > 0)
      .orderBy(col("o_custkey"))
  }

  /** Materialized v3-level aggregate (q110b's refresh result), built
    * once per JVM — the table q110c maintains across the DELETE commit. */
  private def mv3Path(path: String): String = path + "/mv/v3"
  private val mv3Built = scala.collection.mutable.Set.empty[String]

  private def mv3(s: SparkSession, path: String, dir: String): DataFrame =
    synchronized {
      if (!mv3Built.contains(path)) {
        q110bIncrementalMvCow(s, dir)
          .write.mode(SaveMode.Overwrite).parquet(mv3Path(path))
        mv3Built += path
      }
      s.read.parquet(mv3Path(path))
    }

  /** q110c: IVM across the DELETE commit (v3→v4) — the retraction case
    * an erasure pipeline actually exercises: the purge's manifest diff
    * yields removed (owning) and added (rewritten-survivor) files, the
    * view retracts the removed files' partial aggregates and merges the
    * added files' back in, and customers whose every fact was purged
    * LEAVE the view (trips = 0 rows drop — the downstream table forgets
    * them too, which is the point of the erasure). Fact scans touch
    * only removed ∪ added files; the oracle recomputes the post-purge
    * aggregate from scratch, so the gate proves
    * incremental-across-delete ≡ full. */
  def q110cIncrementalMvDelete(s: SparkSession, dir: String): DataFrame = {
    val path = purgedStore(s, dir)
    val f3 = versionFiles(s, path, 3).toSet
    val f4 = versionFiles(s, path, 4).toSet
    val removed = (f3 -- f4).toSeq.sorted
    val added = (f4 -- f3).toSeq.sorted
    require(removed.nonEmpty, "v3->v4 is not a delete commit")
    def partial(files: Seq[String], t: String, a: String) =
      s.read.parquet(files: _*)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(t), sum(col("amount_c")).as(a))
    val base = mv3(s, path, dir)
      .select(col("o_custkey"), col("trips").as("t3"), col("amount_c").as("a3"))
    val merged = base
      .join(partial(removed, "tr", "ar"), Seq("o_custkey"), "full_outer")
    val withAdded =
      if (added.isEmpty) merged
        .select(col("o_custkey"), col("t3"), col("a3"), col("tr"), col("ar"),
          lit(null).cast("long").as("ta"), lit(null).cast("long").as("aa"))
      else merged.join(partial(added, "ta", "aa"), Seq("o_custkey"), "full_outer")
    withAdded
      .select(col("o_custkey"),
        (coalesce(col("t3"), lit(0L)) - coalesce(col("tr"), lit(0L))
          + coalesce(col("ta"), lit(0L))).as("trips"),
        (coalesce(col("a3"), lit(0L)) - coalesce(col("ar"), lit(0L))
          + coalesce(col("aa"), lit(0L))).as("amount_c"))
      .filter(col("trips") > 0)
      .orderBy(col("o_custkey"))
  }

  /** Batch-side APPEND COMMIT under the full txn discipline — the
    * batch twin of the streaming commit sink (claimed slot, settle,
    * carry-forward manifest, commit_ts txn record, marker LAST), so a
    * batch backfill and a live stream can share one store without
    * coordination: the claim protocol serializes them. The pseudo
    * batch id is `-(version)` — negative like maintenance commits, so
    * stream replay checks can never mistake a backfill for a replayed
    * trigger. */
  def appendCommit(s: SparkSession, path: String, batch: DataFrame,
      clusterCol: String, parts: Int,
      beforeMarker: Int => Unit = _ => ()): Int = {
    // STORE-BIRTH race guard: this committer writes txn records, so
    // commit detection must be MARKER-GATED from the first claim — a
    // missing txn dir makes committedTip fall back to the manifest
    // listing, where a concurrent writer's in-flight manifest reads as
    // a committed version (caught by ConcurrentCommitSpec's 4-appender
    // case: settle landed on a half-written manifest at store birth)
    val bfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    bfs.mkdirs(new org.apache.hadoop.fs.Path(txnDir(path)))
    val latest = committedTip(s, path)
    val v = claimVersion(s, path, latest.getOrElse(0) + 1)
    val dataDir = dataPath(path) + s"/v$v"
    batch.repartitionByRange(math.max(1, parts), col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(dataDir)
    val newFiles = hadoopLs(s, dataDir)
    val settled = settleBelow(s, path, v)
    val parent = settled.map(pv => versionFiles(s, path, pv).toSet)
      .getOrElse(Set.empty[String])
    writeManifest(s, path, v, parent ++ newFiles)
    ColStats.onCommit(s, path, newFiles.toSeq.sorted)
    // side relations ride the version's atomicity: written INSIDE the
    // claimed slot, before the marker that commits it (a crash leaves
    // them invisible leftovers vacuum reclaims with the slot) — the
    // Expectations quarantine hook
    beforeMarker(v)
    import s.implicits._
    Seq((-v.toLong, System.currentTimeMillis(), "append"))
      .toDF("batch_id", "commit_ts", "operation")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(txnPath(path, v))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    StoreIo.ops.createMarker(fs, new org.apache.hadoop.fs.Path(
      s"${txnPath(path, v)}/batch_${-v}.marker"))
    maybeCheckpoint(s, path, v)
    // post-commit lineage check — the streaming sinks' settle-gap
    // detection (round-13 advice) applied to the batch appender too
    requireNoLineageGap(s, path, settled.getOrElse(0), v)
    v
  }

  /** [[readVersion]] with parquet schema merging — the reader an
    * EVOLVED store needs: files written before an add-column commit
    * lack the new column and surface it as null. Reading a version
    * whose files all share one schema costs the same as readVersion
    * (merge of identical schemas); only evolved stores pay the
    * per-file footer union. */
  def readVersionMerged(s: SparkSession, path: String, v: Int): DataFrame =
    applyDv(s, path, v, s.read.option("mergeSchema", "true")
      .parquet(versionFiles(s, path, v): _*))

  /** The orders columns every ts/evo store commit shares. */
  private def ordersSlice(s: SparkSession, dir: String,
      lo: Option[String], hi: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .filter(col("o_orderdate") < to_timestamp(lit(hi)))
    lo.fold(base)(l => base.filter(col("o_orderdate") >= to_timestamp(lit(l))))
  }

  /** Two-commit store for TIMESTAMP AS OF: v1 = pre-1997 orders, v2 =
    * +1997, committed through [[appendCommit]] so each version carries
    * a wall-clock txn record. Built once per JVM. */
  private val tsBuilt = scala.collection.mutable.Map.empty[String, String]

  /** Wipe a half-built two-commit store (a prior process crashed
    * between commits): claims burn permanently, so a resumed build
    * would land its FIRST slice at slot 2 with the wrong content —
    * rebuilding from scratch is the only consistent recovery. */
  private def resetIfPartial(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // "partial" includes an uncommitted leftover with burned claims but
    // zero committed versions — a resumed build would claim past slot 1
    if (fs.exists(p) && versions(s, path) != Seq(1, 2))
      fs.delete(p, true)
  }

  private[graft] def tsStore(s: SparkSession, dir: String): String = synchronized {
    tsBuilt.getOrElseUpdate(dir, {
      val path = Engine.storePath("graft-versioned-ts", dir)
      resetIfPartial(s, path)
      if (versions(s, path).isEmpty) {
        appendCommit(s, path, ordersSlice(s, dir, None, cut1)
          .select(col("o_orderkey"), col("o_custkey"),
            Num.cents(col("o_totalprice")).as("amount_c")), "o_custkey", 4)
        appendCommit(s, path, ordersSlice(s, dir, Some(cut1), cut2)
          .select(col("o_orderkey"), col("o_custkey"),
            Num.cents(col("o_totalprice")).as("amount_c")), "o_custkey", 2)
      }
      path
    })
  }

  /** q109b: TIMESTAMP-based time travel — the wall-clock half of
    * q109's `VERSION AS OF` (the Delta `TIMESTAMP AS OF` semantics):
    * probe 1 reads the store as of an instant strictly BETWEEN the two
    * commits' recorded wall clocks and must see exactly version 1;
    * probe 2 reads as of version 2's own commit stamp (inclusive
    * boundary) and must see version 2. The commit stamps come from the
    * txn records ([[commitTimes]], monotone-adjusted), so a resolution
    * defect — boundary off by one, stamps read from the wrong version,
    * adjustment breaking order — surfaces as the WRONG VERSION's
    * logical content against the oracle's restatement of the two
    * commit definitions. */
  def q109bTimeTravelTs(s: SparkSession, dir: String): DataFrame = {
    val path = tsStore(s, dir)
    val times = commitTimes(s, path)
    require(times.map(_._1) == Seq(1, 2), s"ts store has versions ${times.map(_._1)}")
    val (t1, t2) = (times.head._2, times.last._2)
    val probes = Seq(1L -> (t1 + (t2 - t1) / 2), 2L -> t2)
    probes.map { case (label, ts) =>
      readAsOf(s, path, ts)
        .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
          count_distinct(col("o_custkey")).as("n_customers"))
        .select(lit(label).as("probe"), col("n_rows"), col("amount_c"),
          col("n_customers"))
    }.reduce(_.unionAll(_)).orderBy(col("probe"))
  }

  /** Two-commit store for SCHEMA EVOLUTION: v1's files lack
    * `o_orderpriority`, v2's add-column commit carries it. Built once
    * per JVM. */
  private val evoBuilt = scala.collection.mutable.Map.empty[String, String]

  private def evoStore(s: SparkSession, dir: String): String = synchronized {
    evoBuilt.getOrElseUpdate(dir, {
      val path = Engine.storePath("graft-versioned-evo", dir)
      resetIfPartial(s, path)
      if (versions(s, path).isEmpty) {
        appendCommit(s, path, ordersSlice(s, dir, None, cut1)
          .select(col("o_orderkey"), col("o_custkey"),
            Num.cents(col("o_totalprice")).as("amount_c")), "o_custkey", 4)
        appendCommit(s, path, ordersSlice(s, dir, Some(cut1), cut2)
          .select(col("o_orderkey"), col("o_custkey"),
            Num.cents(col("o_totalprice")).as("amount_c"),
            col("o_orderpriority")), "o_custkey", 2)
      }
      path
    })
  }

  /** q109c: SCHEMA EVOLUTION on the versioned store — the add-column
    * commit Delta/Iceberg treat as a core capability: version 2 adds
    * `o_orderpriority` WITHOUT rewriting version 1's files (the commit
    * is a plain append; old files never carry the column), and the
    * merged-schema read surfaces pre-evolution rows with a null the
    * report folds to 'NONE'. The oracle restates the null-fill from the
    * raw table (pre-cut rows have no priority, post-cut rows keep
    * theirs), so a reader that drops old files, fails to merge, or
    * leaks the new column's default into old rows breaks a count or a
    * sum. The old-reader-new-data direction is spec-asserted. */
  def q109cSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = evoStore(s, dir)
    readVersionMerged(s, path, versions(s, path).last)
      .groupBy(coalesce(col("o_orderpriority"), lit("NONE")).as("priority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"))
      .orderBy(col("priority"))
  }

  // ---- STRING-KEYED store (round-15 verdict #2): the purge/subject-
  // access family on the subject ids real erasure batches carry ----

  /** The q107 subject rule, carried as NAMES — the string subject ids
    * (emails, UUIDs) a real erasure batch holds. */
  private def subjectNames(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE" && col("c_custkey") % 10 === 7)
      .select(col("c_name"))

  private val subjectSql =
    "SELECT c_name FROM customer " +
      "WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7"

  /** A customer store KEYED BY c_name (unique string identity): v1 =
    * the full slice via [[appendCommit]] (plain manifest — the first
    * planning call heals hashed bands + blooms), v2 = the COW erasure
    * of the subject names through [[deleteCommit]], exercising the
    * whole key machinery in hashed-long space. Built once per JVM. */
  private[graft] def strStore(s: SparkSession, dir: String): String =
    synchronized {
      built.getOrElseUpdate("str:" + dir, {
        val path = Engine.storePath("graft-versioned-store-str", dir)
        val cust = Tables.customer(s, dir)
          .select(col("c_name"), col("c_custkey"),
            Num.cents(col("c_acctbal")).as("acct_c"), col("c_mktsegment"))
        appendCommit(s, path, cust, "c_name", 8)
        deleteCommit(s, path, subjectNames(s, dir), "c_name")
        path
      })
    }

  /** q125: STRING-KEYED erasure execution — the q107b loop with the
    * subject list as names: per-segment totals of the post-purge tip.
    * The oracle restates the erasure over raw customer; a hashed band
    * that misses an owning file leaves a subject's row behind and
    * breaks a count, a broken rewrite loses innocents. */
  def q125PurgeString(s: SparkSession, dir: String): DataFrame = {
    val path = strStore(s, dir)
    readVersion(s, path, versions(s, path).last)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"), sum(col("acct_c")).as("acct_c"))
      .orderBy(col("c_mktsegment"))
  }

  /** q126: STRING-KEYED subject-access read — q122 with name keys:
    * export the subjects' rows from the PRE-purge version through the
    * hashed band+bloom prune, summarized per subject name. */
  def q126ExportString(s: SparkSession, dir: String): DataFrame = {
    val path = strStore(s, dir)
    readKeys(s, path, 1, subjectNames(s, dir), "c_name")
      .select(col("c_name"), col("c_custkey"), col("acct_c"))
      .orderBy(col("c_name"))
  }

  val queries: Map[String, Q] = Map(
    "q109_time_travel" -> (q109TimeTravel _),
    "q109b_time_travel_ts" -> (q109bTimeTravelTs _),
    "q109c_schema_evolution" -> (q109cSchemaEvolution _),
    "q110_incremental_mv" -> (q110IncrementalMv _),
    "q110b_incremental_mv_cow" -> (q110bIncrementalMvCow _),
    "q107b_purge_execute" -> (q107bPurgeExecute _),
    "q107c_purge_execute_dv" -> (q107cPurgeExecuteDv _),
    "q110c_incremental_mv_delete" -> (q110cIncrementalMvDelete _),
    "q110d_incremental_mv_dv" -> (q110dIncrementalMvDv _),
    "q122_subject_read" -> (q122SubjectRead _),
    "q125_purge_string" -> (q125PurgeString _),
    "q126_export_string" -> (q126ExportString _))

  /** q122: SUBJECT ACCESS READ — export the q107 erasure subjects' rows
    * from the PRE-purge version (the compliance step that precedes
    * q107b/q107c's execution), through [[readKeys]]'s band+bloom prune;
    * per-subject totals against the oracle's logical restatement of v3.
    * A file wrongly skipped by the bloom loses a subject's order; a
    * leaked post-purge read returns nothing for every subject. */
  def q122SubjectRead(s: SparkSession, dir: String): DataFrame = {
    val path = purgedStore(s, dir)
    readKeys(s, path, 3, purgeKeys(s, dir), "o_custkey")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("amount_c")).as("amount_c"))
      .orderBy(col("o_custkey"))
  }

  /** The post-purge IVM statement, shared verbatim by the COW (q110c)
    * and DV (q110d) refreshes: both must equal the from-scratch
    * post-purge aggregate, so one oracle proves
    * IVM-across-dv ≡ IVM-across-COW ≡ full recompute. */
  private val purgeIvmSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$cut2'),
       |mm AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM o),
       |k AS (SELECT mn + ((mx - mn + 1) * 4) // 10 AS lo,
       |  mn + ((mx - mn + 1) * 5) // 10 AS hi FROM mm),
       |del AS (SELECT c_custkey FROM customer
       |  WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7)
       |SELECT o_custkey, count(*) AS trips,
       |  CAST(sum(a + CASE WHEN o_custkey BETWEEN lo AND hi
       |    THEN 100 ELSE 0 END) AS BIGINT) AS amount_c
       |FROM o, k WHERE o_custkey NOT IN (SELECT c_custkey FROM del)
       |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** The erasure-execution logical restatement, shared verbatim by the
    * COW (q107b) and DELETION-VECTOR (q107c) modes: the two commits
    * differ only in PHYSICAL strategy, so one oracle gates both — and
    * the driver's hash compare proves the modes agree bit-for-bit. */
  private val purgeExecuteSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$cut2'),
       |mm AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM o),
       |k AS (SELECT mn + ((mx - mn + 1) * 4) // 10 AS lo,
       |  mn + ((mx - mn + 1) * 5) // 10 AS hi FROM mm),
       |del AS (SELECT c_custkey FROM customer
       |  WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7)
       |SELECT 3 AS version, count(*) AS n_rows,
       |  CAST(sum(a + CASE WHEN o_custkey BETWEEN lo AND hi
       |    THEN 100 ELSE 0 END) AS BIGINT) AS amount_c,
       |  count(DISTINCT o_custkey) AS n_customers
       |FROM o, k
       |UNION ALL
       |SELECT 4, count(*),
       |  CAST(sum(a + CASE WHEN o_custkey BETWEEN lo AND hi
       |    THEN 100 ELSE 0 END) AS BIGINT),
       |  count(DISTINCT o_custkey)
       |FROM o, k WHERE o_custkey NOT IN (SELECT c_custkey FROM del)
       |ORDER BY version""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the IVM correctness statement: incremental maintenance from the
    // delta must equal the from-scratch v2 aggregate
    "q110_incremental_mv" ->
      s"""SELECT o_custkey, count(*) AS trips,
         |  CAST(sum(${Num.sql.cents("o_totalprice")}) AS BIGINT) AS amount_c
         |FROM orders WHERE o_orderdate < TIMESTAMP '$cut2'
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // the update-commit IVM statement: retract-and-merge from the
    // manifest diff must equal the from-scratch v3 aggregate
    "q110b_incremental_mv_cow" ->
      s"""WITH o AS (
         |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$cut2'),
         |mm AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM o),
         |k AS (SELECT mn + ((mx - mn + 1) * 4) // 10 AS lo,
         |  mn + ((mx - mn + 1) * 5) // 10 AS hi FROM mm)
         |SELECT o_custkey, count(*) AS trips,
         |  CAST(sum(a + CASE WHEN o_custkey BETWEEN lo AND hi
         |    THEN 100 ELSE 0 END) AS BIGINT) AS amount_c
         |FROM o, k GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // the TIMESTAMP AS OF statement: probe 1 (between the commits) IS
    // version 1's definition, probe 2 (at v2's stamp) IS version 2's
    "q109b_time_travel_ts" ->
      s"""WITH o AS (
         |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a, o_orderdate
         |  FROM orders)
         |SELECT 1 AS probe, count(*) AS n_rows,
         |  CAST(sum(a) AS BIGINT) AS amount_c,
         |  count(DISTINCT o_custkey) AS n_customers
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut1'
         |UNION ALL
         |SELECT 2, count(*), CAST(sum(a) AS BIGINT), count(DISTINCT o_custkey)
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut2'
         |ORDER BY probe""".stripMargin,
    // the schema-evolution statement: rows committed before the
    // add-column commit carry no priority (null -> 'NONE'), rows after
    // keep theirs — a reader that drops old files or leaks a default
    // into old rows breaks a group's count or sum
    "q109c_schema_evolution" ->
      s"""SELECT CASE WHEN o_orderdate < TIMESTAMP '$cut1' THEN 'NONE'
         |  ELSE o_orderpriority END AS priority,
         |  count(*) AS n_rows,
         |  CAST(sum(${Num.sql.cents("o_totalprice")}) AS BIGINT) AS amount_c
         |FROM orders WHERE o_orderdate < TIMESTAMP '$cut2'
         |GROUP BY 1 ORDER BY priority""".stripMargin,
    // the erasure-execution statement: v3 = the q109 logical definition,
    // v4 = v3 minus the q107 erasure list — a purged row surviving a
    // shared file or a retained row lost in the rewrite breaks a sum;
    // shared verbatim by both physical modes (COW and deletion-vector)
    "q107b_purge_execute" -> purgeExecuteSql,
    "q107c_purge_execute_dv" -> purgeExecuteSql,
    // the subject-access statement: the erasure subjects' per-customer
    // totals at v3's logical content (banded +100¢ adjustment included)
    "q122_subject_read" ->
      s"""WITH o AS (
         |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$cut2'),
         |mm AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM o),
         |k AS (SELECT mn + ((mx - mn + 1) * 4) // 10 AS lo,
         |  mn + ((mx - mn + 1) * 5) // 10 AS hi FROM mm)
         |SELECT o_custkey, count(*) AS n_orders,
         |  CAST(sum(a + CASE WHEN o_custkey BETWEEN lo AND hi
         |    THEN 100 ELSE 0 END) AS BIGINT) AS amount_c
         |FROM o, k WHERE o_custkey IN (
         |  SELECT c_custkey FROM customer
         |  WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7)
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // the STRING-KEYED twins (round-15 verdict #2): erasure and
    // subject-access by name keys, restated over raw customer — a
    // hashed band/bloom false NEGATIVE leaves a subject behind (q125)
    // or loses one from the export (q126)
    "q125_purge_string" ->
      s"""SELECT c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(${Num.sql.cents("c_acctbal")}) AS BIGINT) AS acct_c
         |FROM customer
         |WHERE c_name NOT IN ($subjectSql)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q126_export_string" ->
      s"""SELECT c_name, c_custkey,
         |  ${Num.sql.cents("c_acctbal")} AS acct_c
         |FROM customer
         |WHERE c_name IN ($subjectSql)
         |ORDER BY c_name""".stripMargin,
    // the delete-IVM statement: retract-and-merge across the purge's
    // manifest diff (COW) or dv diff (DV) must equal the from-scratch
    // post-purge aggregate — shared verbatim by both physical modes
    "q110c_incremental_mv_delete" -> purgeIvmSql,
    "q110d_incremental_mv_dv" -> purgeIvmSql,
    "q109_time_travel" ->
      s"""WITH o AS (
         |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a, o_orderdate
         |  FROM orders),
         |v2 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '$cut2'),
         |mm AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM v2),
         |k AS (SELECT mn + ((mx - mn + 1) * 4) // 10 AS lo,
         |  mn + ((mx - mn + 1) * 5) // 10 AS hi FROM mm)
         |SELECT 1 AS version, count(*) AS n_rows,
         |  CAST(sum(a) AS BIGINT) AS amount_c,
         |  count(DISTINCT o_custkey) AS n_customers
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut1'
         |UNION ALL
         |SELECT 2, count(*), CAST(sum(a) AS BIGINT), count(DISTINCT o_custkey)
         |FROM v2
         |UNION ALL
         |SELECT 3, count(*),
         |  CAST(sum(a + CASE WHEN o_custkey BETWEEN lo AND hi
         |    THEN 100 ELSE 0 END) AS BIGINT),
         |  count(DISTINCT o_custkey)
         |FROM v2, k
         |ORDER BY version""".stripMargin)
}
