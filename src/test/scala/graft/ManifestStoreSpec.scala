package graft

import java.nio.file.Files

import graft.sources.{ManifestStore, RangeManifest}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The manifest's contract: planning through per-file stats opens only
  * the overlapping file subset (numFiles = |selected| < total), the
  * answer is identical to filtering the whole store, and the planning
  * path is DISTRIBUTED — the manifest is a parquet table filtered
  * cluster-side; the driver only ever materializes the selected paths,
  * never the full stats log. */
class ManifestStoreSpec extends AnyFunSuite {
  import TestSpark.spark

  test("manifest-planned scan opens only overlapping files, same answer") {
    val ev = Tables.eventsTs(spark, "/root/testdata/sf0.01")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    val dir = Files.createTempDirectory("mstore").toFile
    val path = dir.getAbsolutePath + "/events"
    try {
    ManifestStore.build(ev, path, files = 32)
    val manifest = ManifestStore.manifest(spark, path)
    val total = manifest.count()
    assert(total == 32)
    // files are range-clustered: stats ranges must be (near) disjoint —
    // total span covered without every file spanning everything
    val mm = manifest.agg(min(col("mn")), max(col("mx"))).head()
    val (umn, umx) = (mm.getLong(0), mm.getLong(1))
    val (lo, hi) = (umn + (umx - umn + 1) * 3 / 10, umn + (umx - umn + 1) * 6 / 10)
    val selected = RangeManifest.filesOverlapping(manifest, lo, hi)
    assert(selected.nonEmpty && selected.length < total,
      s"manifest pruned nothing: ${selected.length} of $total")

    val planned = spark.read.parquet(selected: _*)
      .filter(col("user_id") >= lo && col("user_id") <= hi)
    val plain = spark.read.parquet(path)
      .filter(col("user_id") >= lo && col("user_id") <= hi)
    val a = planned.collect().map(_.getAs[Long]("event_id")).toSet
    val b = plain.collect().map(_.getAs[Long]("event_id")).toSet
    assert(a == b && a.nonEmpty, "manifest planning changed the answer")

    val scan = planned.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec"))
    assert(scan.metrics("numFiles").value == selected.length,
      s"opened ${scan.metrics("numFiles").value} files, planned ${selected.length}")
    val plainScan = plain.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(plainScan.metrics("numFiles").value == total,
      "plain read did not list the whole store — comparison vacuous")
    } finally {
      // deleteOnExit cannot remove populated directories; clean up the
      // written store recursively so test runs do not accumulate junk
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }
}
