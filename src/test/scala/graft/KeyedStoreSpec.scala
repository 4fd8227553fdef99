package graft

import java.nio.file.Files

import graft.sources.KeyedStore
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The point-lookup store's contract: a k-key multi-get opens at most k
  * of the store's files (numFiles = |selected| ≤ |keys| < total), the
  * answer is identical to filtering the whole store, and the planning
  * path is distributed (manifest filtered cluster-side, only selected
  * paths materialized). Also records the latency-gap memo the design
  * owes: pruned probe vs full-store scan-filter wall clock. */
class KeyedStoreSpec extends AnyFunSuite {
  import TestSpark.spark

  test("keyed multi-get opens only the owning files, same answer; latency memo") {
    val cust = Tables.customer(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("kstore").toFile
    val path = dir.getAbsolutePath + "/customer"
    try {
      KeyedStore.build(cust, "c_custkey", path, files = 32)
      val m = spark.read.parquet(KeyedStore.manifestPath(path))
      val total = m.count()
      assert(total == 32)

      val r = m.agg(min(col("mn")), max(col("mx"))).head()
      val keys = KeyedStore.probeKeys(r.getLong(0), r.getLong(1))
      assert(keys.size == 10, s"probe key derivation degenerate: $keys")
      val selected = KeyedStore.filesFor(m, keys)
      // an empty multi-get selects no files and runs no job
      assert(KeyedStore.filesFor(m, Nil).isEmpty)
      assert(selected.nonEmpty && selected.length <= keys.size &&
        selected.length < total,
        s"multi-get not file-bounded: ${selected.length} files for ${keys.size} keys of $total")

      val planned = spark.read.parquet(selected: _*)
        .filter(col("c_custkey").isin(keys: _*))
      val plain = spark.read.parquet(path)
        .filter(col("c_custkey").isin(keys: _*))
      val a = planned.collect().map(_.getAs[Long]("c_custkey")).toSet
      val b = plain.collect().map(_.getAs[Long]("c_custkey")).toSet
      assert(a == b && a.nonEmpty, "manifest planning changed the answer")

      val scan = planned.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec"))
      assert(scan.metrics("numFiles").value == selected.length,
        s"opened ${scan.metrics("numFiles").value} files, planned ${selected.length}")
      // the key predicate must reach the scan so row-group stats can
      // finish the job inside the opened files (the B-tree leaf walk)
      assert(scan.metadata("PushedFilters").contains("c_custkey"),
        s"key filter not pushed: ${scan.metadata("PushedFilters")}")

      // latency memo (informational — at toy scale the extra PLANNING
      // job dominates wall clock; the contract that holds at any scale
      // is the deterministic files/bytes assertions above, and the
      // read-only walls below show the served read itself is smaller)
      def wall(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def plannedOnce(): Double = wall {
        spark.read.parquet(KeyedStore.filesFor(m, keys): _*)
          .filter(col("c_custkey").isin(keys: _*)).count()
      }
      def readOnce(): Double = wall {
        spark.read.parquet(selected: _*)
          .filter(col("c_custkey").isin(keys: _*)).count()
      }
      def scanOnce(): Double = wall {
        spark.read.parquet(path)
          .filter(col("c_custkey").isin(keys: _*)).count()
      }
      plannedOnce(); readOnce(); scanOnce() // warm
      val planned3 = (1 to 3).map(_ => plannedOnce()).min
      val read3 = (1 to 3).map(_ => readOnce()).min
      val scan3 = (1 to 3).map(_ => scanOnce()).min
      info(f"multi-get walls: plan+read ${planned3 * 1000}%.0f ms, read-only ${read3 * 1000}%.0f ms, full scan-filter ${scan3 * 1000}%.0f ms " +
        f"(files ${selected.length}/$total)")
      // the deterministic pruning contract: the probe reads a strict
      // subset of the store's files. The wall-clock comparison above is
      // informational ONLY — sub-second timings on this shared host
      // invert under co-tenant bursts (observed 1.2s vs 0.2s for the
      // SMALLER read), so asserting on them manufactures flakes; the
      // files/filters/answer assertions are the scale thesis.
      assert(selected.length < total,
        s"probe reads the whole store: ${selected.length}/$total files")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("q99 gated query is oracle-shaped and non-empty") {
    val out = KeyedStore.q99PointLookup(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty, "q99 returned no rows")
    assert(out.columns.toSeq == Seq("c_custkey", "c_name", "c_nationkey",
      "c_acctbal", "c_mktsegment"))
    val ks = rows.map(_.getAs[Long]("c_custkey"))
    assert(ks.sorted.sameElements(ks), "q99 not ordered by key")
    assert(ks.distinct.length == ks.length, "q99 duplicated a key row")
  }
}
