package graft

import graft.sources.VersionedStore
import graft.streaming.UpsertSink
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical laws of the erasure-execution commit (round-12 verdict
  * order #1): the rewrite set is bounded by the OWNING files (cost ∝
  * erasure batch, never the store), history stays readable until
  * retention, and after vacuum the purged keys are UNRECOVERABLE from
  * any byte left on disk — the property that makes the
  * right-to-be-forgotten story real rather than logical. */
class DeleteCommitSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** A key-clustered 8-file store: keys 1..800, file i owns
    * (100i, 100(i+1)]. */
  private def buildStore(): String = {
    val path = Files.createTempDirectory("graft_del_").toString + "/store"
    (1L to 800L).map(k => (k, k * 10)).toDF("key", "amount")
      .repartitionByRange(8, col("key")).sortWithinPartitions("key")
      .write.mode(SaveMode.Overwrite).parquet(VersionedStore.dataPath(path))
    VersionedStore.writeManifest(spark, path, 1,
      VersionedStore.hadoopLs(spark, VersionedStore.dataPath(path)))
    path
  }

  test("delete rewrites ONLY the owning files; everything else is shared") {
    val path = buildStore()
    val f1 = VersionedStore.versionFiles(spark, path, 1).toSet
    assert(f1.size == 8)
    // erase 5 keys confined to one 100-key band -> exactly 1 owning file
    val keys = Seq(101L, 120L, 150L, 180L, 199L).toDF("key")
    val v = VersionedStore.deleteCommit(spark, path, keys, "key")
    assert(v == 2)
    val f2 = VersionedStore.versionFiles(spark, path, 2).toSet
    val removed = f1 -- f2
    val added = f2 -- f1
    assert(removed.size == 1, s"rewrite touched ${removed.size} files, not the 1 owner")
    assert(added.size <= 1)
    assert((f1 & f2).size == 7, "shared files must carry by reference")
    // tip content: everything except the 5 purged keys
    val tip = VersionedStore.readVersion(spark, path, 2)
      .select("key").as[Long].collect().toSet
    assert(tip == (1L to 800L).toSet -- Set(101L, 120L, 150L, 180L, 199L))
    // history preserved: v1 still reads the purged rows
    assert(VersionedStore.readVersion(spark, path, 1).count() == 800L)
    // no-op erasure (keys outside every band) commits nothing
    assert(VersionedStore.deleteCommit(spark, path,
      Seq(5000L).toDF("key"), "key") == 2)
    assert(VersionedStore.versions(spark, path) == Seq(1, 2))
  }

  test("vacuum makes the erasure physical: purged keys unrecoverable from disk") {
    val path = buildStore()
    val purge = (201L to 300L by 7).toSeq // all inside file 3's band
    VersionedStore.deleteCommit(spark, path, purge.toDF("key"), "key")
    // before retention the purged bytes are still on disk (auditable)
    val fsp = new org.apache.hadoop.fs.Path(VersionedStore.dataPath(path))
    val fs = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def allKeysOnDisk(): Set[Long] = {
      val files = fs.listFiles(fsp, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (files.hasNext) {
        val f = files.next().getPath.toString
        if (f.endsWith(".parquet")) buf += f
      }
      spark.read.parquet(buf.toSeq: _*).select("key").as[Long].collect().toSet
    }
    assert(purge.toSet.subsetOf(allKeysOnDisk()),
      "pre-retention, history must still hold the purged rows")
    // retention: only the purge version survives; owning file deleted
    val (expired, deletedFiles) = VersionedStore.vacuum(spark, path, keepVersions = 1)
    assert(expired == 1 && deletedFiles >= 1)
    val after = allKeysOnDisk()
    assert((purge.toSet & after).isEmpty,
      "purged keys recoverable from disk after retention — erasure not physical")
    assert(after == (1L to 800L).toSet -- purge,
      "vacuum deleted retained data")
    // the tip still reads correctly through its manifest
    assert(VersionedStore.readVersion(spark, path,
      VersionedStore.versions(spark, path).last).count() == 800L - purge.size)
  }

  test("delete commits through the txn discipline on a stream-built store") {
    val path = Files.createTempDirectory("graft_delstream_").toString + "/store"
    // stream-shaped store: two upsert commits with stats manifests
    UpsertSink.upsertBatch((1L to 100L).map(k => (k, k)).toDF("custkey", "v"),
      path, 0L, "custkey", initialPartitions = 4)
    UpsertSink.upsertBatch(Seq((101L, 101L)).toDF("custkey", "v"),
      path, 1L, "custkey")
    val v = VersionedStore.deleteCommit(spark, path,
      (1L to 20L).toDF("custkey"), "custkey")
    // the commit carries a negative pseudo batch id marker, so the
    // marker-gated versions() listing honors it like any stream commit
    assert(VersionedStore.versions(spark, path).last == v)
    assert(UpsertSink.readStore(spark, path).count() == 81L)
    // the stats manifest survived the delete: a follow-up upsert still
    // prunes by key band and the store stays correct
    UpsertSink.upsertBatch(Seq((50L, 999L)).toDF("custkey", "v"),
      path, 2L, "custkey")
    val fin = UpsertSink.readStore(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin.keySet == ((21L to 101L).toSet + 50L))
    assert(fin(50L) == 999L && fin(101L) == 101L)
  }

  test("deleteCommit rejects a key batch whose type mismatches the " +
      "store's key space loudly") {
    // string keys are supported (round-15 verdict #2) — but a STRING
    // batch against a LONG-keyed store hashes into a disjoint long
    // space and would silently no-op the erasure; the key-class check
    // fails it loudly instead, and unsupported types fail outright
    val path = buildStore()
    val e = intercept[IllegalArgumentException] {
      VersionedStore.deleteCommit(spark, path,
        Seq("101").toDF("key"), "key")
    }
    assert(e.getMessage.contains("does not match"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedStore.deleteCommit(spark, path,
        Seq(1.5).toDF("key"), "key")
    }
    assert(e2.getMessage.contains("unsupported store key type"))
    assert(VersionedStore.versions(spark, path) == Seq(1),
      "a rejected erasure must commit nothing")
  }

  test("fileKeyStats heals the manifest-only store: second planning call reads zero data files") {
    // round-13 verdict #6: the manifest-only fallback used to recompute
    // the per-file bands with a full-store scan on EVERY planning call;
    // the rebuild must persist back into the manifest (one-time heal).
    val path = buildStore()
    val first = sources.RangeManifest.versionBands(spark, path, 1, "key", heal = true)
    assert(first.length == 8)
    val mf = spark.read.parquet(VersionedStore.manifestPath(path, 1))
    assert(mf.columns.toSet == Set("file", "mn", "mx"),
      "rebuilt bands were not persisted into the manifest")
    // hide the data files: the second planning call must resolve the
    // bands from the healed manifest ALONE — any data-file read throws
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(VersionedStore.dataPath(path)),
      new org.apache.hadoop.fs.Path(path + "/data_hidden"))
    val second = sources.RangeManifest.versionBands(spark, path, 1, "key", heal = true)
    assert(second.sortBy(_.file).toSeq == first.sortBy(_.file).toSeq,
      "healed-manifest bands differ from the rebuilt ones")
  }

  test("vacuum reclaims a crashed compaction's claim on a manifest-only store") {
    // round-13 advice: compactCommit claims slots on batch-built stores
    // too; a crashed attempt leaves a claim file + compact_v staging
    // that the txn-gated reclamation never saw. (The burn-and-loop
    // protocol can also ride PAST the orphan via the settle timeout —
    // ConcurrentCommitSpec — but reclamation keeps the slot space and
    // staging from accreting on maintenance-only stores.)
    val path = buildStore()
    assert(VersionedStore.claimVersion(spark, path, 2) == 2) // the crash
    Seq((1L, 1L)).toDF("key", "amount").write
      .parquet(VersionedStore.dataPath(path) + "/compact_v2") // its staging
    // grace 0 = the operator KNOWS no commit is in flight (quiesced
    // maintenance); the default grace instead protects a live sink's
    // fresh tip+1 claim from being reclaimed mid-commit
    VersionedStore.vacuum(spark, path, keepVersions = 10, claimGraceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      VersionedStore.claimsDir(path) + "/v2")),
      "vacuum left the crashed compaction's claim behind")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      VersionedStore.dataPath(path) + "/compact_v2")),
      "vacuum left the crashed compaction's staging behind")
    // the reclaimed slot is committed by the next maintenance pass on
    // the FAST path (claim == cur+1, no settle wait)
    val v = VersionedStore.compactCommit(spark, path, "key",
      targetFileBytes = 1L << 20)
    assert(v == 2)
    assert(VersionedStore.readVersion(spark, path, 2).count() == 800L)
  }

  test("IVM retract-and-merge across a delete commit equals full recompute") {
    val path = buildStore()
    // the maintained view at v1
    val mv1 = VersionedStore.readVersion(spark, path, 1)
      .withColumn("g", col("key") % 10)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("amount").as("a"))
    val purge = (301L to 400L by 3).toSeq
    VersionedStore.deleteCommit(spark, path, purge.toDF("key"), "key")
    val f1 = VersionedStore.versionFiles(spark, path, 1).toSet
    val f2 = VersionedStore.versionFiles(spark, path, 2).toSet
    def partial(files: Set[String], tn: String, an: String) =
      spark.read.parquet(files.toSeq: _*)
        .withColumn("g", col("key") % 10)
        .groupBy("g").agg(count(lit(1)).as(tn), sum("amount").as(an))
    val inc = mv1.select(col("g"), col("n").as("n1"), col("a").as("a1"))
      .join(partial(f1 -- f2, "rn", "ra"), Seq("g"), "full_outer")
      .join(partial(f2 -- f1, "an2", "aa"), Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("n1"), lit(0L)) - coalesce(col("rn"), lit(0L))
          + coalesce(col("an2"), lit(0L))).as("n"),
        (coalesce(col("a1"), lit(0L)) - coalesce(col("ra"), lit(0L))
          + coalesce(col("aa"), lit(0L))).as("a"))
      .filter(col("n") > 0)
    val full = VersionedStore.readVersion(spark, path, 2)
      .withColumn("g", col("key") % 10)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("amount").as("a"))
    assert(inc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq ==
      full.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq)
  }
}
