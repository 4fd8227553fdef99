package graft

import graft.sources.InvertedIndexStore
import graft.streaming.IndexRefreshSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The streamed segmented index must serve bit-identically to a batch
  * rebuild over the same corpus, stay idempotent under batch replay,
  * and keep the probe's read bounded by the query terms' files — the
  * NRT ingest→index→query loop closed with the batch tier as oracle. */
class IndexRefreshSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def docs(dir: String) = Tables.documents(spark, dir)
    .select(col("doc_id"), col("text"))

  /** Batch-tier expected scores over `corpus`: the same shared postings
    * + Okapi arithmetic, computed in one shot (no segments). */
  private def expected(corpus: org.apache.spark.sql.DataFrame) =
    graft.operators.Text.bm25Score(
      InvertedIndexStore.postings(corpus)
        .filter(col("term").isin(graft.operators.Text.Bm25Query: _*))
        .select(col("doc_id"), col("dl"), col("term"), col("tf")),
      InvertedIndexStore.statsAgg(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  test("streamed segments serve scores identical to a batch rebuild; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_ixr_").toString
    val (path, ckpt) = (s"$base/index", s"$base/ckpt")
    val all = docs("/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = all.partition(_._1 % 2 == 0)

    val in = MemoryStream[(Long, String)]
    val q = IndexRefreshSink.writeTo(
      in.toDF().toDF("doc_id", "text"), path, ckpt)
    try {
      in.addData(b1.toSeq: _*)
      q.processAllAvailable()
      // NRT contract: the probe already serves batch-1 docs, exactly
      val afterB1 = IndexRefreshSink.probe(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expB1 = expected(b1.toSeq.toDF("doc_id", "text"))
      assert(afterB1.sameElements(expB1),
        s"segment serving != batch tier after batch 1")

      in.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val afterB2 = IndexRefreshSink.probe(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expAll = expected(all.toSeq.toDF("doc_id", "text"))
      assert(afterB2.sameElements(expAll),
        s"segment serving != batch tier after batch 2")

      // replay idempotence: re-indexing an already-committed batch id
      // (the foreachBatch retry case) must not duplicate postings
      IndexRefreshSink.appendBatch(
        b1.toSeq.toDF("doc_id", "text"), path, batchId = 0L)
      val replayed = IndexRefreshSink.probe(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(replayed.sameElements(expAll), "batch replay changed the index")

      // an empty micro-batch is a no-op, not a part-file-less segment
      // dir that would break the manifest read
      IndexRefreshSink.appendBatch(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), path, batchId = 99L)
      assert(!new java.io.File(s"$path/${IndexRefreshSink.segName(99L)}").exists,
        "empty batch landed a segment directory")
      val afterEmpty = IndexRefreshSink.probe(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(afterEmpty.sameElements(expAll), "empty batch changed the index")
    } finally q.stop()
  }

  test("probe reads only the query terms' posting files across segments") {
    // many small segments (4 docs per batch) => many posting files; the
    // manifest must keep the probe's file list a strict subset
    val base = Files.createTempDirectory("graft_ixr_prune_").toString
    val path = s"$base/index"
    val all = docs("/root/testdata/sf0.001").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    all.grouped(4).zipWithIndex.foreach { case (g, i) =>
      IndexRefreshSink.appendBatch(
        g.toSeq.toDF("doc_id", "text"), path, batchId = i.toLong)
    }
    val m = spark.read.option("recursiveFileLookup", "true")
      .parquet(InvertedIndexStore.manifestPath(path))
    val total = m.count()
    val selected = sources.RangeManifest.filesFor(
      m, graft.operators.Text.Bm25Query)
    assert(selected.nonEmpty && selected.length < total,
      s"manifest pruned nothing: ${selected.length} of $total")
    // and the pruned read still yields the exact batch-tier answer
    val got = IndexRefreshSink.probe(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exp = expected(all.toSeq.toDF("doc_id", "text"))
    assert(got.sameElements(exp))
  }

  test("segment merge: bit-identical serving, fewer files, replay-safe, vacuum-safe") {
    def liveFiles(path: String): Long =
      IndexRefreshSink.liveSegments(spark, path).map { sg =>
        Option(new java.io.File(s"$path/${sg.name}").listFiles()).toSeq
          .flatten.count(_.getName.endsWith(".parquet")).toLong
      }.sum

    val base = Files.createTempDirectory("graft_ixr_merge_").toString
    val path = s"$base/index"
    val all = docs("/root/testdata/sf0.001").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batches = all.grouped(6).toSeq
    batches.zipWithIndex.foreach { case (g, i) =>
      IndexRefreshSink.appendBatch(
        g.toSeq.toDF("doc_id", "text"), path, batchId = i.toLong)
    }
    val before = IndexRefreshSink.probe(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val filesBefore = liveFiles(path)
    val segsBefore = IndexRefreshSink.liveSegments(spark, path).size
    assert(segsBefore == batches.size, "one live segment per batch")

    // OPTIMIZE: one merged segment, strictly fewer live posting files,
    // and the probe serves the SAME bits (scores and stats are exact
    // sums, so the layout change is invisible)
    val merged = IndexRefreshSink.mergeSegments(spark, path)
    assert(merged.contains(IndexRefreshSink.mergedSegName(0, batches.size - 1)))
    val after = IndexRefreshSink.probe(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(after.sameElements(before), "merge changed served scores")
    assert(IndexRefreshSink.liveSegments(spark, path).size == 1,
      "merge did not collapse the live set")
    assert(liveFiles(path) < filesBefore,
      s"merge did not reduce live files: ${liveFiles(path)} vs $filesBefore")

    // pre-vacuum, the folded base segments still EXIST physically; the
    // coverage rule must already hide them from serving (asserted by
    // the identity check above). vacuum then reclaims them.
    IndexRefreshSink.vacuum(spark, path)
    batches.indices.foreach { i =>
      assert(!new java.io.File(s"$path/${IndexRefreshSink.segName(i.toLong)}").exists,
        s"vacuum left folded segment $i")
    }
    val afterVacuum = IndexRefreshSink.probe(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(afterVacuum.sameElements(before), "vacuum changed serving")

    // replay idempotence ACROSS the merge: re-appending a folded batch
    // id must be a SKIP — with the base segment vacuumed, Overwrite
    // idempotence alone would re-create it and double-count its docs
    IndexRefreshSink.appendBatch(
      batches(2).toSeq.toDF("doc_id", "text"), path, batchId = 2L)
    assert(!new java.io.File(s"$path/${IndexRefreshSink.segName(2L)}").exists,
      "replayed folded batch re-created its base segment")
    val replayed = IndexRefreshSink.probe(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(replayed.sameElements(before), "replay after merge changed serving")

    // the NRT loop continues: new batches append beside the merged
    // segment, and a SECOND merge folds merged + new into one range
    val seen = all.map(_._1).toSet
    val extra = docs("/root/testdata/sf0.001")
      .filter(!col("doc_id").isin(seen.toSeq: _*)).limit(10).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    IndexRefreshSink.appendBatch(
      extra.toSeq.toDF("doc_id", "text"), path, batchId = batches.size.toLong)
    val exp2 = expected((all ++ extra).toSeq.toDF("doc_id", "text"))
    val got2 = IndexRefreshSink.probe(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got2.sameElements(exp2), "post-merge append diverged from batch tier")
    val merged2 = IndexRefreshSink.mergeSegments(spark, path)
    assert(merged2.contains(IndexRefreshSink.mergedSegName(0, batches.size)))
    IndexRefreshSink.vacuum(spark, path)
    val got3 = IndexRefreshSink.probe(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got3.sameElements(exp2), "second merge changed serving")
    assert(IndexRefreshSink.liveSegments(spark, path).size == 1)
  }

  test("phrase probe over streamed segments ≡ batch store; stable across merge+vacuum") {
    val base = Files.createTempDirectory("graft_ixr_phrase_").toString
    val path = s"$base/index"
    val all = docs("/root/testdata/sf0.001").limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    all.grouped(30).zipWithIndex.foreach { case (g, i) =>
      IndexRefreshSink.appendBatch(
        g.toSeq.toDF("doc_id", "text"), path, batchId = i.toLong)
    }
    // batch-tier expected: the SAME shared scoring over a one-shot
    // positional build of the identical corpus
    val expectedPhrase = InvertedIndexStore.booleanPhrase(
      InvertedIndexStore.positionalPostings(all.toSeq.toDF("doc_id", "text")),
      graft.operators.Text.Bm25Query)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def served() = IndexRefreshSink.phraseProbe(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served() == expectedPhrase,
      "segment phrase serving != batch positional build")
    // merge + vacuum keep phrase serving bit-stable (the positional
    // segments fold under the same commit marker)
    IndexRefreshSink.mergeSegments(spark, path)
    assert(served() == expectedPhrase, "merge changed phrase serving")
    IndexRefreshSink.vacuum(spark, path)
    assert(served() == expectedPhrase, "vacuum changed phrase serving")
    // the folded positional base segments left disk with their twins
    (0 until 4).foreach { i =>
      assert(!new java.io.File(
        s"${InvertedIndexStore.posPath(path)}/${IndexRefreshSink.segName(i.toLong)}")
        .exists, s"vacuum left folded positional segment $i")
    }
  }
}
