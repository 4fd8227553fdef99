package graft.sources

import graft.{Engine, QueryPack, Tables}
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index — the store-family member that serves the
  * SEARCH side of the reference's Solr story natively. The reference
  * ships documents INTO an index (`common/SolrSupport.java:79-135` batch
  * indexer, `solr/ny_taxi/schema.xml`) precisely so point queries can
  * probe posting lists instead of scanning the corpus; graft had the
  * sink ([[graft.streaming.SearchDocSink]]) and the scorer (q86 BM25)
  * but q86 re-tokenizes the whole corpus per query — correct for a
  * batch audit, wrong for the interactive path a search user actually
  * hits. This store materializes what Solr/Lucene keeps on disk, as
  * plain parquet relations:
  *
  *  - `postings`: one row per (term, doc) — term, doc_id, tf, dl —
  *    range-clustered and SORTED on term, so a term-set predicate
  *    prunes at row-group level inside every file it opens;
  *  - `postings.manifest`: per-file (min term, max term) bands
  *    ([[RangeManifest]]), so the planner opens ONLY files whose term
  *    range can contain a query term;
  *  - `postings.stats`: the one-row corpus aggregate (n_docs,
  *    tot_tokens) BM25's length normalization needs — over ALL
  *    documents, including those sharing no term with the query, which
  *    the probe could never reconstruct from its pruned read.
  *
  * Build cost is one tokenize pass + one range shuffle (the q38/q86
  * pass the pipeline runs anyway), amortized per JVM like the other
  * stores. Document frequency is NOT stored: df of a probed term =
  * that term's posting-row count, which the probe holds for free after
  * reading exactly those postings.
  *
  * The probe (q86b) computes bit-identical scores to q86's corpus scan
  * — same [[graft.operators.Text.bm25Score]] arithmetic over the same
  * (doc_id, dl, term, tf) relation — so the SAME DuckDB twin gates
  * both: an ORACLE-EXACT index-serving path. The pruning thesis
  * (files opened = manifest subset < store files; rows read < total
  * postings) is spec-asserted in InvertedIndexStoreSpec.
  */
object InvertedIndexStore extends QueryPack {

  def manifestPath(storePath: String): String = storePath + ".manifest"
  def statsPath(storePath: String): String = storePath + ".stats"
  /** POSITIONAL postings — the schema addition phrase queries need
    * (Lucene's position index): one row per (term, doc) carrying the
    * sorted token offsets of every occurrence. Kept as a SEPARATE
    * relation so the tf postings (and the s14 streaming segments built
    * over them) stay byte-identical; a deployment that never issues
    * phrase queries can skip building it. Range-clustered and manifest-
    * pruned exactly like the tf relation. */
  def posPath(storePath: String): String = storePath + ".pos"
  def posManifestPath(storePath: String): String = storePath + ".pos.manifest"
  /** DOC LENGTHS as their own doc_id-clustered relation (+ manifest) —
    * Lucene's norms/doc-values file: the erasure verb's point-read
    * source. A purge must adjust the corpus stats by exactly the purged
    * docs' lengths, and a doc's postings scatter across term-clustered
    * files — this relation answers "dl of doc d" from the file subset
    * whose doc_id range holds d, so purge cost tracks the BATCH, never
    * the corpus. */
  def doclensPath(storePath: String): String = storePath + ".doclens"
  def doclensManifestPath(storePath: String): String =
    storePath + ".doclens.manifest"

  /** The posting relation for `docs` — one row per (term, doc):
    * (term, doc_id, dl, tf). Shared by the batch build and the
    * streaming segment refresh ([[graft.streaming.IndexRefreshSink]]),
    * so both tiers index with the identical tokenization. */
  def postings(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      TextOps.toks(lower(col("text"))).as("tk"))
    toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
  }

  /** The corpus-stats aggregate BM25's length normalization needs —
    * one row (n_docs, tot_tokens); segment stores keep one per segment
    * and SUM them at probe time. */
  def statsAgg(docs: DataFrame): DataFrame = docs
    .agg(count(lit(1)).as("n_docs"),
      sum(size(TextOps.toks(lower(col("text")))).cast("long")).as("tot_tokens"))

  /** The positional posting relation: (term, doc_id, positions) with
    * positions the SORTED 0-based token offsets — adjacency (phrase)
    * and proximity predicates become integer-array arithmetic on the
    * probe's pruned read. */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.toks(lower(col("text"))).as("tk"))
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Tokenize `docs` once and write the term-clustered posting relation,
    * its per-file term-range manifest, the one-row corpus stats, and the
    * positional relation (own files + manifest). Nothing is collected;
    * the only shuffles are the posting groupBys and the range partitions
    * on term. */
  def build(docs: DataFrame, path: String, files: Int): Unit = {
    val s = docs.sparkSession
    RangeManifest.writeClustered(postings(docs), "term", files, path,
      manifestPath(path), sortCols = Seq("term", "doc_id"))
    statsAgg(docs)
      .write.mode(SaveMode.Overwrite).parquet(statsPath(path))
    RangeManifest.writeClustered(positionalPostings(docs), "term", files,
      posPath(path), posManifestPath(path), sortCols = Seq("term", "doc_id"))
    // the doc-length relation (doc_id-clustered + doc_id-range manifest)
    // and per-file doc_id blooms over every relation: the erasure verb's
    // point-read and fold-prune inputs, paid once at build
    RangeManifest.writeClustered(docs.select(col("doc_id"),
        size(TextOps.toks(lower(col("text")))).cast("long").as("dl")),
      "doc_id", math.max(1, files / 2), doclensPath(path),
      doclensManifestPath(path))
    Seq(path, posPath(path), doclensPath(path)).foreach { rel =>
      IndexTombstones.appendBlooms(s, rel,
        VersionedStore.hadoopLs(s, rel).toSeq.sorted, "doc_id")
    }
  }

  /** Per-JVM store cache: dir → store path (the store-family
    * amortization contract — tokenize + cluster once, probe many). */
  private val built = scala.collection.mutable.Map.empty[String, String]

  def store(s: SparkSession, dir: String): String = synchronized {
    built.getOrElseUpdate(dir, {
      val path = Engine.storePath("graft-inverted-index", dir)
      build(Tables.documents(s, dir), path, files = 16)
      path
    })
  }

  // ---- ERASURE (round-15 verdict #1): purge / fold / adjusted stats ----

  /** PURGE doc ids from the index, logically and immediately: resolve
    * each present id's dl through the doclens manifest (a point read of
    * the owning file subset — cost tracks the batch, never the corpus),
    * tombstone (doc_id, dl), and every probe excludes the docs from that
    * moment (candidates anti-joined, corpus stats adjusted by exactly
    * the purged lengths). Idempotent: already-tombstoned and absent ids
    * append nothing, so stats never double-subtract. Physical erasure
    * is [[fold]]'s job, at the store's maintenance point. */
  def purge(s: SparkSession, path: String, docIds: Seq[Long]): Unit = {
    if (docIds.isEmpty) return
    val files = RangeManifest.filesFor(
      s.read.parquet(doclensManifestPath(path)), docIds)
    if (files.isEmpty) return // no file can hold any id: nothing present
    val rows = s.read.parquet(files.toIndexedSeq: _*)
      .filter(col("doc_id").isin(docIds: _*))
      .select(col("doc_id").as("k"), col("dl"))
    IndexTombstones.append(s, path, rows)
  }

  /** Corpus stats minus the tombstoned docs' exact contributions — the
    * one-row frame every BM25 probe normalizes by. Integer-exact, so a
    * purged store's scores are BIT-IDENTICAL to a rebuild over the
    * surviving corpus (spec-asserted). */
  def effectiveStats(s: SparkSession, path: String): DataFrame = {
    val base = s.read.parquet(statsPath(path))
    IndexTombstones.read(s, path) match {
      case None => base
      case Some(t) =>
        val adj = t.agg(count(lit(1)).as("t_docs"),
          sum(col("dl")).as("t_tokens"))
        base.crossJoin(broadcast(adj)).select(
          (col("n_docs") - col("t_docs")).as("n_docs"),
          (col("tot_tokens") - coalesce(col("t_tokens"), lit(0L)))
            .as("tot_tokens"))
    }
  }

  /** PHYSICAL erasure — the index's OPTIMIZE-point fold: rewrite exactly
    * the posting/positional/doclens files whose doc_id bloom admits a
    * tombstoned id (dropping those docs' rows, order-preserving),
    * refresh manifests incrementally, materialize the adjusted corpus
    * stats, then clear the tombstone relation LAST — after this no file
    * of any relation holds a purged doc's rows (the unrecoverability
    * law, spec-asserted), and probes return to zero-tombstone cost.
    * Returns the rewritten-file count across relations. */
  def fold(s: SparkSession, path: String): Int =
    WriterLease.withLease(s, path, "indexFold") {
      val keys = IndexTombstones.keySet(s, path)
      if (keys.isEmpty) 0
      else {
        val n = IndexTombstones.foldAll(Seq(
          () => IndexTombstones.foldRelationMulti(s, path, manifestPath(path),
            Seq("doc_id"), "term", keys, sortCols = Seq("term", "doc_id")),
          () => IndexTombstones.foldRelationMulti(s, posPath(path),
            posManifestPath(path), Seq("doc_id"), "term", keys,
            sortCols = Seq("term", "doc_id")),
          () => IndexTombstones.foldRelation(s, doclensPath(path),
            doclensManifestPath(path), "doc_id", "doc_id", keys)))
        // adjusted stats become the persisted stats (collected first:
        // the write overwrites its own input dir)
        val row = effectiveStats(s, path).head()
        import s.implicits._
        Seq((row.getLong(0), row.getLong(1))).toDF("n_docs", "tot_tokens")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsPath(path))
        IndexTombstones.clear(s, path)
        n
      }
    }

  /** q86b: BM25 point query against the PERSISTED index — reads only
    * the query terms' postings (manifest file skip + term-sorted
    * row-group skip), never the corpus, and scores them through the
    * exact q86 arithmetic. Oracle-exact against q86's own SQL twin.
    * Tombstone-aware: purged docs drop from the candidates and the
    * corpus stats before scoring (an unpurged store pays one existence
    * probe). */
  def q86bBm25Index(s: SparkSession, dir: String): DataFrame =
    bm25Probe(s, store(s, dir))

  private[graft] def bm25Probe(s: SparkSession, path: String): DataFrame = {
    val terms = graft.operators.Text.Bm25Query
    val selected = RangeManifest.filesFor(s.read.parquet(manifestPath(path)), terms)
    require(selected.nonEmpty, s"manifest selected no posting files for $terms")
    val tf = IndexTombstones.minus(s, path,
      s.read.parquet(selected: _*)
        .filter(col("term").isin(terms: _*))
        .select(col("doc_id"), col("dl"), col("term"), col("tf")), "doc_id")
    graft.operators.Text.bm25Score(tf, effectiveStats(s, path))
  }

  /** q86c: CONJUNCTIVE (AND) + PHRASE probe against the persisted
    * index — the two predicates real search serves that q86b's
    * disjunctive BM25 term set does not (ref: the reference indexes
    * into Solr — solr/ny_taxi/schema.xml's positional field types
    * exist precisely for these). AND = posting intersection: group the
    * probed postings by doc and keep docs hitting EVERY query term.
    * PHRASE = positional adjacency: the lead term's offsets shifted +1
    * intersected with the follow term's offsets — pure integer-array
    * arithmetic on the pruned read (manifest file skip + term-sorted
    * row-group skip; the corpus is never scanned). The oracle restates
    * both predicates from the raw text (membership counts + an indexed
    * adjacency filter), so a wrong intersection, an off-by-one in the
    * shift, or 1-based/0-based confusion all hash-fail. */
  def q86cBooleanIndex(s: SparkSession, dir: String): DataFrame = {
    val terms = graft.operators.Text.Bm25Query
    val path = store(s, dir)
    val selected = RangeManifest.filesFor(s.read.parquet(posManifestPath(path)), terms)
    require(selected.nonEmpty, s"pos manifest selected no files for $terms")
    booleanPhrase(IndexTombstones.minus(s, path,
      s.read.parquet(selected: _*), "doc_id"), terms)
  }

  /** The AND + phrase scoring over a positional posting frame — shared
    * by the batch probe (q86c) and the streaming segment probe
    * ([[graft.streaming.IndexRefreshSink.phraseProbe]]), so serving a
    * phrase query from streamed segments is bit-identical to serving
    * it from the batch-built store over the same corpus. */
  def booleanPhrase(posRaw: DataFrame, terms: Seq[String]): DataFrame = {
    val (lead, follow) = (terms(0), terms(1))
    val pos = posRaw.filter(col("term").isin(terms: _*))
    val conj = pos.groupBy(col("doc_id"))
      .agg(count_distinct(col("term")).as("n_terms"))
      .filter(col("n_terms") === terms.size)
    val phrase = pos.filter(col("term") === lead)
      .select(col("doc_id"), col("positions").as("p0"))
      .join(pos.filter(col("term") === follow)
        .select(col("doc_id"), col("positions").as("p1")), Seq("doc_id"))
      .select(col("doc_id"),
        size(array_intersect(transform(col("p0"), p => p + 1), col("p1")))
          .cast("long").as("phrase_hits"))
    conj.join(phrase, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_terms"),
        coalesce(col("phrase_hits"), lit(0L)).as("phrase_hits"))
      .orderBy(col("phrase_hits").desc, col("doc_id"))
      .limit(20)
  }

  // ---- q123: the right-to-be-forgotten loop closed over the index ----

  /** The deterministic purge-subject rule for the documents corpus —
    * the q107 subject-list shape (`% 10 = 7`) applied to doc ids. */
  private[graft] val PurgeModulus = 10
  private[graft] val PurgeResidue = 7
  private[graft] def purgeDocIds(s: SparkSession, dir: String): Seq[Long] =
    Tables.documents(s, dir)
      .filter(col("doc_id") % PurgeModulus === PurgeResidue)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted

  /** A SEPARATE per-JVM store with the subject list purged (logical
    * tombstones — the probe-side SLA; [[fold]]'s physical tier is
    * spec-asserted): the q86b gated store stays unpurged. */
  private val builtPurged = scala.collection.mutable.Map.empty[String, String]

  private[graft] def purgedStore(s: SparkSession, dir: String): String =
    synchronized {
      builtPurged.getOrElseUpdate(dir, {
        val path = Engine.storePath("graft-inverted-index-purged", dir)
        build(Tables.documents(s, dir), path, files = 16)
        purge(s, path, purgeDocIds(s, dir))
        path
      })
    }

  /** q123: the BM25 probe against the PURGED index — the erasure loop
    * (q107 sizes → q107b/c executes on the primary store → THIS removes
    * the subjects from the serving tier): every `doc_id % 10 = 7`
    * document is unservable, candidates and corpus stats both
    * survivor-exact. The oracle restates BM25 over `documents WHERE
    * doc_id % 10 <> 7` — a probe that returns a purged doc, skips the
    * stats adjustment, or double-subtracts on a replayed purge
    * hash-fails. */
  def q123SearchPurge(s: SparkSession, dir: String): DataFrame =
    bm25Probe(s, purgedStore(s, dir))

  val queries: Map[String, Q] = Map(
    "q86b_bm25_index" -> (q86bBm25Index _),
    "q86c_boolean_index" -> (q86cBooleanIndex _),
    "q123_search_purge" -> (q123SearchPurge _))

  val oracleSql: Map[String, String] = Map(
    "q86b_bm25_index" -> graft.operators.Text.bm25OracleSql,
    "q123_search_purge" -> graft.operators.Text.bm25OracleSqlWhere(
      s"doc_id % $PurgeModulus <> $PurgeResidue"),
    // both predicates restated from the raw text: AND = per-term
    // membership counts all positive; phrase = 1-based adjacency scan
    "q86c_boolean_index" -> {
      val terms = graft.operators.Text.Bm25Query
      val (lead, follow) = (terms(0), terms(1))
      val conds = terms.map(t =>
        s"len(list_filter(tk, x -> x = '$t')) > 0").mkString(" AND ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS tk
         |  FROM documents)
         |SELECT doc_id, CAST(${terms.size} AS BIGINT) AS n_terms,
         |  CAST(len(list_filter(range(1, len(tk)),
         |    i -> tk[i] = '$lead' AND tk[i+1] = '$follow')) AS BIGINT)
         |    AS phrase_hits
         |FROM t WHERE $conds
         |ORDER BY phrase_hits DESC, doc_id LIMIT 20""".stripMargin
    })
}
