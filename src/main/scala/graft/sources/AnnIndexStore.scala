package graft.sources

import graft.{Engine, QueryPack, Tables}
import graft.functions.VectorOps._
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index — the vector twin of [[InvertedIndexStore]]: the
  * serving state every vector-retrieval tier in the engine previously
  * rebuilt per JVM (q51's LSH code tables, q92's IVF cells + centroid
  * fit) materialized as plain parquet relations, so a FRESH process
  * answers its first ANN query from manifest-pruned file reads instead
  * of paying a full corpus pass. The reference persists both of its
  * serving indexes — Solr for search (`solr/ny_taxi/schema.xml`,
  * `common/SolrSupport.java:79-135`) and Kudu tables whose scans seed
  * streaming state (`ConnectedCarStreaming.scala:69-83`) — and round 9
  * gave graft's lexical tier that move (q86 → q86b); this store replays
  * it for vectors. Layout under one base path:
  *
  *  - `vectors` (+ `.manifest`): (vec_id, e, n2), range-clustered and
  *    sorted on vec_id — the id-keyed embedding store; point fetches
  *    (the query's own vector, q99-style gets) open only the files
  *    whose id range can hold the key;
  *  - `codes` (+ `.manifest`): the LSH code tables as postings —
  *    one row per (table, code, vector) keyed by tc = t·2^bits + code,
  *    range-clustered and SORTED on tc, with the vector's (e, n2)
  *    INLINE. The inline payload multiplies storage by `tables` (the
  *    classic LSH-forest space-for-latency trade; q54's 8-bit codes are
  *    the compression lever when that bill matters) and buys the probe
  *    everything it needs from the probed buckets' files alone — no
  *    second corpus-sized fetch join;
  *  - `cells` (+ `.manifest`): the IVF relation — every vector in
  *    exactly ONE KMeans cell (no duplication), clustered so a cell is
  *    a contiguous file range; `centroids` holds the k (cell, c, cn2)
  *    rows. Cell count scales with the corpus (ceil(n / 200), floor 8),
  *    so probed-cell row volume — and probe wall — stays ~constant as
  *    the store grows: the 100 TB contract, spec-smoked at 16×.
  *
  * Probes:
  *  - q51b: multiprobe LSH against `codes` — BIT-IDENTICAL output to
  *    q51's in-memory tier (same seed-7 hyperplanes, same Hamming-2
  *    ball, same exact-cosine rescore on the same candidate set;
  *    spec-asserted), reading only manifest-selected posting files with
  *    the tc predicate pushed to the parquet reader;
  *  - q92b: IVF against `cells`/`centroids` — the q92 laws (nprobe
  *    nesting, nprobe = k ≡ the exact scan) hold on the persisted
  *    structure; file reads are the probed cells' files only;
  *  - q104b: RRF fusion of the two PERSISTED serving tiers (q86b's
  *    inverted-index probe + the IVF probe) — the production retrieval
  *    path end-to-end store-served.
  *
  * All three are rows-only gates (LSH/IVF retrieval has no ANSI twin —
  * the q51/q92 precedent); their determinism, recall, and parity laws
  * live in AnnIndexStoreSpec.
  */
object AnnIndexStore extends QueryPack {

  /** Cell-count rule: one cell per ~200 vectors, floor 8 — cells (not
    * cell size) grow with the corpus, so nprobe cells is a constant
    * probe cost at any store size. At the gated scales (sf0.001/0.01)
    * the floor makes this exactly q92's k = 8 geometry. */
  private[graft] val TargetCellRows = 200L
  private[graft] def cellCount(n: Long): Int =
    math.max(8L, (n + TargetCellRows - 1) / TargetCellRows).toInt

  def vectorsPath(p: String): String = p + "/vectors"
  def codesPath(p: String): String = p + "/codes"
  def cellsPath(p: String): String = p + "/cells"
  def centroidsPath(p: String): String = p + "/centroids"
  def quantPath(p: String): String = p + "/quant"
  def codebookPath(p: String): String = p + "/codebook"
  def manifestPath(rel: String): String = rel + ".manifest"

  /** Build every relation from a (vec_id, e: array<double>, n2) frame.
    * Cost: one id-range shuffle (vectors), one code explode + tc-range
    * shuffle (codes), one KMeans fit + cell-range shuffle (cells) —
    * all partial-aggregable or row-local before their one shuffle each,
    * paid once per store like every store-family build. */
  def build(v0: DataFrame, path: String, vecFiles: Int = 8,
      codeFiles: Int = 16): Unit = {
    val s = v0.sparkSession
    val v = v0.select(col("vec_id"), col("e"), col("n2"))

    RangeManifest.writeClustered(v, "vec_id", vecFiles, vectorsPath(path),
      manifestPath(vectorsPath(path)))

    val bits = Similarity.LshBits
    RangeManifest.writeClustered(
      v.select(col("vec_id"), col("e"), col("n2"),
          posexplode(Similarity.lshCodes(col("e"))).as(Seq("t", "code")))
        .select((shiftleft(col("t").cast("long"), bits)
          .bitwiseOR(col("code"))).as("tc"),
          col("vec_id"), col("e"), col("n2")),
      "tc", codeFiles, codesPath(path), manifestPath(codesPath(path)),
      sortCols = Seq("tc", "vec_id"))

    // the compressed-scan tier: 8-bit codes (8x smaller than the
    // decoded doubles) + the one-row codebook a fresh process needs to
    // quantize QUERIES with the corpus's own affine map — persisted so
    // q54's scan pays neither corpus pass (min/max, quantize) again
    RangeManifest.writeClustered(Similarity.quantizeCorpus(v), "vec_id",
      vecFiles, quantPath(path), manifestPath(quantPath(path)))
    Similarity.corpusCodebook(v)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(codebookPath(path))

    val k = cellCount(v.count())
    val cents = graft.ml.KMeans.fit(v.select(col("vec_id"), col("e")), k, iters = 5)
    import scala.jdk.CollectionConverters._
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i.toLong, c.toSeq, c.map(x => x * x).sum)
    }.toSeq
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)),
      org.apache.spark.sql.types.StructField("cn2",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    s.createDataFrame(centRows.asJava, centSchema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(centroidsPath(path))
    RangeManifest.writeClustered(v.withColumn("cell",
        graft.ml.KMeans.assign(col("e"), cents).getField("cluster").cast("long")),
      "cell", k, cellsPath(path), manifestPath(cellsPath(path)),
      sortCols = Seq("cell", "vec_id"))
    // per-file vec_id blooms over every data relation — the erasure
    // fold's prune input ([[IndexTombstones]]): codes/cells cluster on
    // tc/cell, where a purged vector's rows scatter past any band
    Seq(vectorsPath(path), codesPath(path), cellsPath(path), quantPath(path))
      .foreach { rel =>
        IndexTombstones.appendBlooms(s, rel,
          VersionedStore.hadoopLs(s, rel).toSeq.sorted, "vec_id")
      }
  }

  /** Per-JVM store cache (the store-family amortization contract). */
  private val built = scala.collection.mutable.Map.empty[String, String]

  def store(s: SparkSession, dir: String): String = synchronized {
    built.getOrElseUpdate(dir, {
      val path = Engine.storePath("graft-ann-index", dir)
      build(decoded(s, dir), path)
      path
    })
  }

  private def decoded(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("n2", norm2(col("e")))

  // ---- ERASURE (round-15 verdict #1): purge / fold ----

  /** PURGE vector ids from every serving relation, logically and
    * immediately: an O(keys) tombstone append; every probe (LSH, IVF,
    * quantized scan, retrieval eval, the RRF fusion's vector leg)
    * anti-joins its candidates from that moment. Idempotent (re-purged
    * ids append nothing). Physical erasure is [[fold]]'s job. */
  def purge(s: SparkSession, path: String, vecIds: Seq[Long]): Unit = {
    if (vecIds.isEmpty) return
    import s.implicits._
    IndexTombstones.append(s, path, vecIds.distinct.sorted.toDF("k"))
  }

  /** PHYSICAL erasure — rewrite exactly the vectors/codes/cells/quant
    * files whose vec_id bloom admits a tombstoned id (order-preserving
    * drop, manifests refreshed incrementally), then clear the relation:
    * after this no file of any relation holds a purged vector's bytes
    * or codes (the unrecoverability law). Centroids and the codebook
    * stay — they are trained aggregates, not subject rows (the IVF/PQ
    * convention every vector store keeps). Returns rewritten files. */
  def fold(s: SparkSession, path: String): Int =
    WriterLease.withLease(s, path, "annFold") {
      val keys = IndexTombstones.keySet(s, path)
      if (keys.isEmpty) 0
      else {
        val n = IndexTombstones.foldAll(Seq(
          (vectorsPath(path), "vec_id", Seq("vec_id")),
          (codesPath(path), "tc", Seq("tc", "vec_id")),
          (cellsPath(path), "cell", Seq("cell", "vec_id")),
          (quantPath(path), "vec_id", Seq("vec_id")))
          .map { case (rel, mfKey, sorts) =>
            () => IndexTombstones.foldRelationMulti(s, rel, manifestPath(rel),
              Seq("vec_id"), mfKey, keys, sortCols = sorts)
          })
        IndexTombstones.clear(s, path)
        n
      }
    }

  /** Tombstone-aware candidate filter — every probe's first move after
    * its pruned read (one existence probe on an unpurged store). */
  private def minusTombs(s: SparkSession, path: String,
      df: DataFrame): DataFrame =
    IndexTombstones.minus(s, path, df, "vec_id")

  /** Files of relation `rel` whose key band can hold one of `keys`. */
  def filesForKeys(s: SparkSession, rel: String, keys: Seq[Long]): Array[String] =
    RangeManifest.filesFor(s.read.parquet(manifestPath(rel)), keys)

  /** Driver-side IVF cell ranking: the `nprobe` nearest cells to `qe`
    * by squared L2 (the assignment metric), ties by cell index — ONE
    * rule for the batch probe, the serving API, and the streaming
    * refresh probe. */
  private[graft] def rankCells(cents: Seq[(Long, Array[Double])],
      qe: Array[Double], nprobe: Int): Seq[Long] =
    cents.map { case (i, c) =>
      (c.zip(qe).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq

  /** [[rankCells]] for a whole QUERY FRAME, cluster-side: broadcast the
    * k-row persisted centroid table against (qid, qe), fold squared L2
    * as a left-to-right array aggregate (the exact FP order of the
    * driver rule — parity spec-asserted), rank per query by (distance,
    * cell) — the same tie rule — and keep each query's `nprobe`
    * nearest. Returns (qid, cell). The per-qid window shuffles only
    * |sample| × k rows, and the driver holds NOTHING — the shape that
    * lets the q106b eval scale its sample with the corpus. */
  private[graft] def rankCellsDf(s: SparkSession, path: String,
      queries: DataFrame, nprobe: Int): DataFrame = {
    val centsDf = s.read.parquet(centroidsPath(path))
      .select(col("cell"), col("c"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2"), col("cell"))
    queries.select(col("qid"), col("qe"))
      .crossJoin(broadcast(centsDf))
      .select(col("qid"), col("cell"),
        aggregate(zip_with(col("c"), col("qe"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cell"))
  }

  /** Point-fetch one vector by id through the vectors manifest — opens
    * only the file(s) whose id range holds the key (the q99 pattern on
    * the embedding store). */
  private[graft] def fetchVector(s: SparkSession, path: String, id: Long): DataFrame = {
    val files = filesForKeys(s, vectorsPath(path), Seq(id))
    require(files.nonEmpty, s"vector $id not covered by any store file")
    s.read.parquet(files: _*).filter(col("vec_id") === id)
  }

  // ---- q51b: multiprobe LSH served from the persisted code tables ----

  def q51bKnnLshIndex(s: SparkSession, dir: String): DataFrame =
    knnLshIndex(s, dir)

  /** The q51 probe against the store, knobs matching [[Similarity.knnLsh]]
    * (radius = multiprobe Hamming ball). Candidate generation reads ONLY
    * the posting files whose tc range can hold a probed bucket key
    * (manifest skip) with the bucket predicate pushed into the parquet
    * scan (row-group skip inside the tc-sorted files); candidates carry
    * their (e, n2) inline, so the exact-cosine rescore follows with no
    * further store read. The probe-key list is bounded driver state —
    * tables × |Hamming ball| longs (948 at the default geometry), the
    * q86b query-terms contract. */
  private[graft] def knnLshIndex(s: SparkSession, dir: String,
      radius: Int = 2): DataFrame = lshProbe(s, store(s, dir), radius)

  private[graft] def lshProbe(s: SparkSession, path: String,
      radius: Int = 2): DataFrame = {
    val bits = Similarity.LshBits
    val q = fetchVector(s, path, 0L)
      .select(col("e").as("qe"), col("n2").as("qn2"))
    val qCodes = q.select(posexplode(Similarity.lshCodes(col("qe")))
      .as(Seq("t", "code")))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val masks = Similarity.probeMasks(bits, radius)
    val probeKeys: Seq[Long] = qCodes.flatMap { case (t, code) =>
      masks.map(m => (t.toLong << bits) | (code ^ m))
    }.toSeq.distinct.sorted
    val files = filesForKeys(s, codesPath(path), probeKeys)
    require(files.nonEmpty, "manifest selected no code files for the probe")
    // cosine BEFORE the cross-table dedup: a vector's duplicate code
    // rows carry identical (e, n2), so max(cos) per vec_id IS the
    // dedup — and unlike dropDuplicates over array payloads it plans
    // as a partial-aggregable HashAggregate (each task reduces its
    // bucket rows to one row per candidate before the only shuffle)
    minusTombs(s, path, s.read.parquet(files: _*)
      .filter(col("tc").isin(probeKeys: _*))
      .filter(col("vec_id") =!= 0))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosineFrom(dot(col("e"), col("qe")), col("n2"), col("qn2")).as("cos"))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  // ---- q92b: IVF served from the persisted cells + centroid table ----

  def q92bIvfIndex(s: SparkSession, dir: String): DataFrame =
    ivfIndex(s, dir, nprobe = 2, k = 10)

  /** Number of cells in the persisted store for `dir` (the nprobe upper
    * bound the spec's "nprobe = cells ≡ exact scan" law needs). */
  private[graft] def storeCellCount(s: SparkSession, dir: String): Int =
    s.read.parquet(centroidsPath(store(s, dir))).count().toInt

  /** The IVF probe: rank the k-row persisted centroid table driver-side
    * (bounded k × dim state — the KMeans contract), open only the
    * `nprobe` probed cells' files via the cells manifest, exact cosine
    * inside. The probed cell set is nested in nprobe, so recall is
    * monotone and nprobe = |cells| IS the exact scan — the q92 laws,
    * spec-asserted on the persisted structure. */
  private[graft] def ivfIndex(s: SparkSession, dir: String, nprobe: Int,
      k: Int): DataFrame = {
    val path = store(s, dir)
    val qe = fetchVector(s, path, 0L).select(col("e"))
      .head.getSeq[Double](0).toArray
    ivfProbeVector(s, path, qe, nprobe, k, excludeId = Some(0L))
  }

  /** The SERVING entry point: IVF top-k for an ARBITRARY query vector —
    * the q92b probe with the query supplied by the caller (a production
    * ANN request carries its own embedding; the gated q92b tier is this
    * probe pointed at vec 0's stored vector). Centroid ranking is a
    * k-row driver computation against the persisted centroid table;
    * the data read is the probed cells' files. `excludeId` drops one
    * corpus id from the results (the query itself, when it lives in
    * the store). */
  def ivfProbeVector(s: SparkSession, path: String, qe: Array[Double],
      nprobe: Int, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val cents = s.read.parquet(centroidsPath(path))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(nprobe >= 1 && nprobe <= cents.length,
      s"nprobe in [1, ${cents.length}], got $nprobe")
    val probed = rankCells(cents.toSeq, qe, nprobe)
    val files = filesForKeys(s, cellsPath(path), probed)
    require(files.nonEmpty, "manifest selected no cell files for the probe")
    val qn2 = qe.map(x => x * x).sum
    val base = minusTombs(s, path, s.read.parquet(files: _*)
      .filter(col("cell").isin(probed: _*)))
    excludeId.fold(base)(id => base.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("cell"),
        cosineFrom(dot(col("e"), array(qe.map(lit): _*)),
          col("n2"), lit(qn2)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Quantize a RAW query vector with the STORE's codebook — the step
    * a fresh serving process needs before probing the q54b relation
    * with its own query (corpus codes were quantized under this affine
    * map; a query quantized under any other map would score garbage).
    * Bounded driver math: one codebook row. Rounding is BigDecimal
    * HALF_UP — the SAME rule Spark's `round` applied to the corpus
    * codes in [[Similarity.quantizeCorpus]] (JVM `math.round` is
    * floor(x+0.5), which diverges by one at the .5 boundaries of
    * negative arguments) — and codes clamp to the u8 range [0, 255],
    * so a query component outside the corpus's per-dimension min/max
    * saturates on the one affine map the codes were built under
    * instead of escaping it. */
  def quantizeQuery(s: SparkSession, path: String,
      qe: Array[Double]): Array[Long] = {
    val cb = s.read.parquet(codebookPath(path)).head()
    val (mn, mx) = (cb.getSeq[Double](0), cb.getSeq[Double](1))
    require(mn.length == qe.length,
      s"query dim ${qe.length} != codebook dim ${mn.length}")
    qe.indices.map { i =>
      if (mx(i) > mn(i)) {
        val r = BigDecimal((qe(i) - mn(i)) * 255.0 / (mx(i) - mn(i)))
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
        math.max(0L, math.min(255L, r))
      } else 0L
    }.toArray
  }

  // ---- q54b: the quantized scan served from the persisted codes ----

  /** q54b: q54's 8-bit quantized kNN against the PERSISTED code
    * relation — the compressed-SCAN serving tier beside the pruned-READ
    * tiers above (brute-force ANN at 100 TB is scan-bound, so the
    * persisted 8-bit codes make the scan pay 8× fewer bytes AND spare a
    * fresh process both corpus passes the in-memory tier pays per JVM:
    * the min/max codebook fit and the quantize). The query's code comes
    * off the id-range manifest (point-get); the scan folds the
    * IDENTICAL integer-dot arithmetic as q54 — shared
    * [[Similarity.quantizeCorpus]] build, shared LongDot kernel — so
    * this tier is gated by the SAME DuckDB twin: an ORACLE-EXACT
    * store-served ANN row (the q86b property, which no probabilistic
    * LSH/IVF tier can offer). */
  def q54bKnnQuantizedIndex(s: SparkSession, dir: String): DataFrame =
    quantizedProbe(s, store(s, dir))

  private[graft] def quantizedProbe(s: SparkSession, path: String): DataFrame = {
    val qFiles = filesForKeys(s, quantPath(path), Seq(0L))
    require(qFiles.nonEmpty, "query code not covered by any store file")
    val qq = s.read.parquet(qFiles: _*).filter(col("vec_id") === 0)
      .select(col("q").as("cq"), col("qn2").as("cqn2"))
    minusTombs(s, path, s.read.parquet(quantPath(path))
      .filter(col("vec_id") =!= 0))
      .crossJoin(broadcast(qq))
      .select(col("vec_id"),
        when(col("qn2") === 0 || col("cqn2") === 0, lit(-2.0))
          .otherwise(Similarity.intDotCol(col("q"), col("cq")).cast("double") /
            (sqrt(col("qn2").cast("double")) * sqrt(col("cqn2").cast("double"))))
          .as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id"))
      .limit(10)
  }

  // ---- q106b: the retrieval-eval harness pointed at the SERVING tier ----

  def q106bRetrievalEvalIvf(s: SparkSession, dir: String): DataFrame =
    retrievalEvalIvf(s, dir, modulus = 31, nprobe = 2)

  /** q106's eval contract run against the PERSISTED IVF index: for the
    * deterministic query sample (vec_id % modulus — the q106 scale
    * knob), per-query recall@10 of the store probe vs the exact cosine
    * ground truth. Set-oriented end to end — no per-query probe loop
    * AND nothing sample-sized on the driver: cell ranking for ALL
    * sample queries runs cluster-side ([[rankCellsDf]] — the k-row
    * centroid table broadcasts against the sample frame, so at a
    * corpus-proportional sample the driver holds only the k centroids,
    * never the sample's vectors), the (qid, cell) probe pairs broadcast
    * against the cells relation to form each query's candidate set in
    * ONE join, and both ranked lists reduce through the bounded top-k
    * aggregate. Rows-only (the cell structure is the KMeans iteration's
    * — the q92 precedent); the recall laws (probe-all ⇒ 10⁶ ppm
    * everywhere, monotone mean recall in nprobe) and the cluster≡driver
    * ranking parity are spec-asserted in AnnIndexStoreSpec. */
  private[graft] def retrievalEvalIvf(s: SparkSession, dir: String,
      modulus: Int, nprobe: Int): DataFrame = {
    val path = store(s, dir)
    val k = 10
    val topk = udaf(new graft.operators.TopKByScore(k))
    def ranked(scored: DataFrame): DataFrame =
      scored.groupBy(col("qid")).agg(topk(col("cos"), col("vec_id")).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.key").as("id"))
    val v = minusTombs(s, path, s.read.parquet(vectorsPath(path)))
    val samp = v.filter(col("vec_id") % modulus === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn2"))
    val truth = ranked(v.crossJoin(broadcast(samp))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineFrom(dot(col("e"), col("qe")), col("n2"), col("qn2")).as("cos")))
    require(nprobe >= 1 && nprobe <= storeCellCount(s, dir))
    val probeDf = rankCellsDf(s, path, samp.select(col("qid"), col("qe")), nprobe)
    val cells = minusTombs(s, path, s.read.parquet(cellsPath(path)))
    val system = ranked(cells
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(samp), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineFrom(dot(col("e"), col("qe")), col("n2"), col("qn2")).as("cos")))
    val hits = truth.join(system, Seq("qid", "id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    val tsz = truth.groupBy(col("qid")).agg(count(lit(1)).as("nt"))
    samp.select(col("qid"))
      .join(hits, Seq("qid"), "left_outer")
      .join(tsz, Seq("qid"), "left_outer")
      .select(col("qid"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        coalesce(col("nt"), lit(0L)).as("nt"))
      .withColumn("recall_ppm",
        expr("if(nt = 0, 0L, (n_hits * 1000000) div nt)"))
      .drop("nt")
      .orderBy(col("qid"))
  }

  // ---- q104b: hybrid fusion over the two persisted serving tiers ----

  /** RRF fusion of the PERSISTED retrieval paths: lexical list = q86b's
    * inverted-index probe (top-20, bit-identical to q86), vector list =
    * the IVF store probe at k = 20 — the q104 arithmetic (integer
    * `10⁹ div (60 + rank)` per list) over store-served inputs, making
    * the production RAG path end-to-end index-backed. Both lists are
    * ≤ 20 rows at any store size, so fusion cost is constant; the
    * upstream probes are the manifest-pruned reads above. Rows-only
    * (the vector side is IVF-approximate); the lexical-rank parity,
    * fusion-arithmetic, and membership laws live in AnnIndexStoreSpec. */
  def q104bHybridRrfIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = InvertedIndexStore.q86bBm25Index(s, dir)
      .select(col("doc_id"), col("score"))
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast("long").as("lex_rank"))
    val vec = ivfIndex(s, dir, nprobe = 2, k = 20)
      .select(col("vec_id").as("doc_id"), col("cos"))
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("cos").desc, col("doc_id")))
        .cast("long").as("vec_rank"))
    // both frames are ≤20 rows by construction (the q104 tiny-frame
    // proof for the un-partitioned rank windows above)
    lex.join(vec, Seq("doc_id"), "full_outer")
      .filter(col("doc_id") =!= 0)
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rrf_score",
        expr("CASE WHEN lex_rank > 0 THEN 1000000000 div (60 + lex_rank) ELSE 0 END") +
          expr("CASE WHEN vec_rank > 0 THEN 1000000000 div (60 + vec_rank) ELSE 0 END"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(10)
  }

  // ---- q124: the erasure loop closed over the vector store ----

  /** The q107 subject-list rule on vector ids (vec 0 — the query-vector
    * convention — is never a subject: 0 % 10 = 0). */
  private[graft] def purgeVecIds(s: SparkSession, dir: String): Seq[Long] =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") % InvertedIndexStore.PurgeModulus ===
        InvertedIndexStore.PurgeResidue)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq.sorted

  private val builtPurged = scala.collection.mutable.Map.empty[String, String]

  /** A SEPARATE per-JVM store with the subject vectors purged (logical
    * tombstones; [[fold]]'s physical tier is spec-asserted) — the
    * q51b/q92b/q54b gated stores stay unpurged. */
  private[graft] def purgedStore(s: SparkSession, dir: String): String =
    synchronized {
      builtPurged.getOrElseUpdate(dir, {
        val path = Engine.storePath("graft-ann-index-purged", dir)
        build(decoded(s, dir), path)
        purge(s, path, purgeVecIds(s, dir))
        path
      })
    }

  /** q124: the quantized scan against the PURGED vector store — the
    * ORACLE-EXACT erasure gate for the ANN family (the q54b property:
    * deterministic integer codes, so the surviving set hashes against
    * SQL): every `vec_id % 10 = 7` vector is unservable; codes stay
    * quantized under the full-corpus codebook (a purge removes rows,
    * never refits the trained map). The probabilistic tiers' zero-
    * purged laws (q51b/q92b shapes) are spec-asserted on the same
    * store. */
  def q124AnnPurge(s: SparkSession, dir: String): DataFrame =
    quantizedProbe(s, purgedStore(s, dir))

  val queries: Map[String, Q] = Map(
    "q51b_knn_lsh_index" -> (q51bKnnLshIndex _),
    "q92b_ivf_index" -> (q92bIvfIndex _),
    "q54b_knn_quantized_index" -> (q54bKnnQuantizedIndex _),
    "q106b_retrieval_eval_ivf" -> (q106bRetrievalEvalIvf _),
    "q104b_hybrid_rrf_index" -> (q104bHybridRrfIndex _),
    "q124_ann_purge" -> (q124AnnPurge _))

  // q51b/q92b/q104b are rows-only by design (LSH planes and the KMeans
  // iteration are engine-internal — the q51/q92 precedent; laws in
  // AnnIndexStoreSpec). q54b's quantization is deterministic integer
  // math, so the persisted tier shares q54's exact DuckDB twin.
  val oracleSql: Map[String, String] = Map(
    "q54b_knn_quantized_index" ->
      Similarity.oracleSql("q54_knn_quantized"),
    "q124_ann_purge" -> Similarity.q54OracleSqlExcluding(
      s"vec_id % ${InvertedIndexStore.PurgeModulus} <> " +
        s"${InvertedIndexStore.PurgeResidue}"))
}
