package graft

import java.nio.file.Files

import graft.sources.{InvertedIndexStore, RangeManifest}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The inverted index's contract: the point-query probe returns
  * BIT-IDENTICAL BM25 results to q86's corpus scan (same arithmetic,
  * same SQL twin), while reading only the query terms' postings — the
  * manifest opens a strict subset of the index files, and the
  * term-sorted layout lets the scan emit a strict subset of the opened
  * files' rows. */
class InvertedIndexStoreSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.01"

  test("q86b index probe scores bit-identically to q86's corpus scan") {
    val fromIndex = sources.InvertedIndexStore.q86bBm25Index(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fromCorpus = operators.Text.q86Bm25(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromIndex.nonEmpty, "probe returned nothing — vacuous")
    assert(fromIndex == fromCorpus,
      s"index probe diverged from corpus scan:\n  index=$fromIndex\n  corpus=$fromCorpus")
  }

  test("probe opens only manifest-selected files and reads only matching postings") {
    val dir = Files.createTempDirectory("invidx").toFile
    val path = dir.getAbsolutePath + "/postings"
    try {
      InvertedIndexStore.build(Tables.documents(spark, sf), path, files = 16)
      val manifest = spark.read.parquet(InvertedIndexStore.manifestPath(path))
      val total = manifest.count()
      val terms = operators.Text.Bm25Query
      val selected = RangeManifest.filesFor(manifest, terms)
      // no terms select no files and run no job
      assert(RangeManifest.filesFor(manifest, Nil).isEmpty)
      // the query's 3 terms land in at most 3 term-range files; a probe
      // that opened the whole index would defeat the store's purpose
      assert(selected.nonEmpty && selected.length < total,
        s"manifest pruned nothing: ${selected.length} of $total files")

      val probe = spark.read.parquet(selected: _*)
        .filter(col("term").isin(terms: _*))
      probe.collect()
      val scan = probe.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec"))
      assert(scan.metrics("numFiles").value == selected.length,
        s"opened ${scan.metrics("numFiles").value} files, planned ${selected.length}")
      // the term predicate reaches the parquet reader (row-group skip
      // inside multi-group files at production sizes; at this test scale
      // each small file is one row group, so file-level pruning above is
      // the observable skip)
      assert(scan.metadata("PushedFilters").contains("In(term"),
        s"term filter not pushed: ${scan.metadata("PushedFilters")}")
      // the probe touches a vanishing fraction of the index: the opened
      // files' combined postings are far below the full posting count
      val allPostings = spark.read.parquet(path).count()
      assert(scan.metrics("numOutputRows").value < allPostings / 4,
        s"probe read ${scan.metrics("numOutputRows").value} of $allPostings postings")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("q86c: phrase adjacency on handcrafted docs; AND semantics hold against the corpus") {
    import spark.implicits._
    // handcrafted corpus: known adjacency counts, incl. the repeated-
    // lead trap ("a a b" has ONE phrase hit) and a lead-at-end doc
    val docs = Seq(
      (1L, "a b c a b"),   // "a b" twice, all of a/b/c present
      (2L, "a a b c"),     // "a b" once (second a leads), all present
      (3L, "b a c"),       // no adjacency, all present
      (4L, "a b a"),       // one hit, c missing -> AND fails
      (5L, "c c c")        // only c
    ).toDF("doc_id", "text")
    val path = Files.createTempDirectory("graft_pos_").toString + "/idx"
    InvertedIndexStore.build(docs, path, files = 2)
    val pos = spark.read.parquet(InvertedIndexStore.posPath(path))
      .filter(col("term").isin("a", "b", "c"))
    val conj = pos.groupBy("doc_id")
      .agg(count_distinct(col("term")).as("n")).filter(col("n") === 3)
      .select("doc_id").as[Long].collect().toSet
    assert(conj == Set(1L, 2L, 3L), s"AND intersection wrong: $conj")
    val hits = pos.filter(col("term") === "a")
      .select(col("doc_id"), col("positions").as("p0"))
      .join(pos.filter(col("term") === "b")
        .select(col("doc_id"), col("positions").as("p1")), Seq("doc_id"))
      .select(col("doc_id"),
        size(array_intersect(transform(col("p0"), p => p + 1), col("p1")))
          .as("h"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hits == Map(1L -> 2, 2L -> 1, 3L -> 0, 4L -> 1), s"phrase hits wrong: $hits")

    // the real store's probe: every q86c row genuinely contains all
    // query terms and its phrase count matches a direct text scan
    val out = InvertedIndexStore.q86cBooleanIndex(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val terms = graft.operators.Text.Bm25Query
    val txt = graft.Tables.documents(spark, sf)
      .filter(col("doc_id").isin(out.map(_._1): _*))
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    out.foreach { case (id, ph) =>
      val tk = txt(id)
      assert(terms.forall(tk.contains), s"doc $id missing a query term")
      val direct = tk.indices.dropRight(1)
        .count(i => tk(i) == terms(0) && tk(i + 1) == terms(1))
      assert(direct == ph, s"doc $id phrase count $ph != direct $direct")
    }
    // the positional probe pruned: fewer files opened than the relation has
    val allPos = spark.read.parquet(InvertedIndexStore.posPath(
      InvertedIndexStore.store(spark, sf))).inputFiles.length
    val sel = RangeManifest.filesFor(
      spark.read.parquet(InvertedIndexStore.posManifestPath(
        InvertedIndexStore.store(spark, sf))), terms).length
    assert(sel < allPos, s"pos probe opened $sel of $allPos files — no skip")
  }
}
