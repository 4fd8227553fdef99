package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.sources.{KeyedStore, VersionedStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

/** The closed-loop `interactive` workload: one client runs passes over a
  * fixed op set, each pass in a seeded shuffle, until the window has
  * elapsed. Percentiles are taken over complete passes only, so every run
  * times the same multiset of ops. Three op classes share the loop: `bi`
  * (reports and entity queries), `probe` (served-store reads) and
  * `analytics` (compute-heavy queries, each run on a cleared cache). */
object ClosedLoop {

  /** How an op's output is verified. `Oracle`: the DuckDB oracle through
    * scripts/check.py (every query of the mix has oracle SQL); `Scan`: a
    * plain scan-and-filter of the same table, computed after the window. */
  sealed trait Check
  case object Oracle extends Check
  final case class Scan(reference: () => DataFrame) extends Check

  /** `key` names the output an execution must reproduce (a query, or a
    * probe on one seeded key set). */
  final case class Op(name: String, cls: String, key: String, df: () => DataFrame,
      check: Check)

  final case class Workload(builds: Seq[(String, () => Unit)], ops: Int => Seq[Op])

  val BiQueries = Seq("q1_rollup_measures", "q2_topk_by_agg", "q3_history_lookup",
    "q5_entity_aggregate", "q12_dow_hod_speed", "q17_conditional_counters",
    "q21_entity_state_batch", "q25_json_kinematics")
  val ProbeQueries = Seq("q99_point_lookup")
  val AnalyticsQueries = Seq("q27_range_join", "q61_corr")
  /** Seeded key sets per probe type; pass p uses set p % KeySets and the
    * warm-up pass uses one more. */
  val KeySets = 4
  /** The VersionedStore version the seeded reads serve: the build's last
    * commit, which later maintenance commits (q122's purge) leave in place. */
  val ServedVersion = 3
  /** Untimed passes before the window: the first call of an op pays for
    * its first planning and the JIT, and ops still speed up over the
    * second pass. */
  val WarmupPasses = 2

  private def query(s: SparkSession, dir: String, name: String, cls: String): Op = {
    require(SparkEntry.oracleSql.contains(name), s"$name has no oracle SQL to check it by")
    Op(name, cls, name, () => SparkEntry.queries(name)(s, dir), Oracle)
  }

  def interactive(s: SparkSession, a: Args): Workload = {
    val dir = a.data
    lazy val keyed = KeyedStore.store(s, dir)
    lazy val versioned = VersionedStore.store(s, dir)
    lazy val keySets: IndexedSeq[Seq[Long]] = {
      val r = s.read.parquet(KeyedStore.manifestPath(keyed))
        .agg(min(col("mn")), max(col("mx"))).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      // one seeded key in each tenth of the key span, so every key set
      // touches about as many store files as any other
      val rnd = new scala.util.Random(a.seed)
      IndexedSeq.fill(KeySets + 1)((0 until 10).map(i =>
        lo + ((i + rnd.nextDouble()) * (hi - lo + 1) / 10).toLong))
    }
    def keyedRead(keys: Seq[Long]): DataFrame = {
      val m = Trace.span("KeyedStore.manifest")(s.read.parquet(KeyedStore.manifestPath(keyed)))
      val files = Trace.span("KeyedStore.filesFor")(KeyedStore.filesFor(m, keys))
      Trace.span("KeyedStore.read")(s.read.parquet(files.toIndexedSeq: _*))
        .filter(col("c_custkey").isin(keys: _*))
    }
    def versionedRead(keys: Seq[Long]): DataFrame = {
      import s.implicits._
      Trace.span("VersionedStore.readKeys")(VersionedStore.readKeys(s, versioned,
        ServedVersion, keys.toDF("o_custkey"), "o_custkey"))
    }
    def probes(set: Int): Seq[Op] = Seq(
      Op("keyed_read", "probe", s"keyed_read#$set", () => keyedRead(keySets(set)),
        Scan(() => Tables.customer(s, dir).filter(col("c_custkey").isin(keySets(set): _*)))),
      Op("versioned_read", "probe", s"versioned_read#$set", () => versionedRead(keySets(set)),
        Scan(() => VersionedStore.readVersion(s, versioned, ServedVersion)
          .filter(col("o_custkey").isin(keySets(set): _*)))))
    Workload(
      builds = Seq(
        "keyed" -> (() => { keyed; () }),
        "versioned" -> (() => { versioned; () })),
      ops = pass => {
        val set = if (pass < 0) KeySets else pass % KeySets
        BiQueries.map(query(s, dir, _, "bi")) ++
          ProbeQueries.map(query(s, dir, _, "probe")) ++ probes(set) ++
          AnalyticsQueries.map(query(s, dir, _, "analytics"))
      })
  }

  /** `files`: the files the op's result scans (`DataFrame.inputFiles`). */
  private case class Exec(opId: String, op: Op, pass: Int, start: Double, end: Double,
      rows: Long, files: Int)

  def run(s: SparkSession, a: Args, res: Result, w: Workload): Unit = {
    val sc = s.sparkContext
    w.builds.foreach { case (name, build) =>
      val t = Trace.nowMs
      Trace.span(s"build.$name")(build())
      res.layer(s"engine.store_build_ms.$name") = Trace.nowMs - t
    }
    val reference = mutable.Map.empty[String, String]
    val observed = mutable.LinkedHashMap.empty[String, String]
    val dumpDir = a.work + "/oracle"
    val oracleSql = mutable.LinkedHashMap.empty[String, String]

    // warm-up passes: every op once per pass; the first pass's outputs
    // become the references
    val tw = Trace.nowMs
    for (k <- 0 until WarmupPasses; op <- w.ops(-1)) {
      if (op.cls == "analytics") s.catalog.clearCache()
      val df = op.df()
      val rows = Trace.span(s"warmup.${op.name}")(df.collect().toSeq)
      if (k == 0) {
        val d = Digest.of(rows, df.schema.fieldNames)
        reference(op.key) = d
        observed(op.key) = d
        op.check match {
          case Oracle =>
            s.createDataFrame(rows.asJava, df.schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$dumpDir/${op.name}")
            oracleSql(op.name) = SparkEntry.oracleSql(op.name)
          case Scan(_) => ()
        }
      }
    }
    res.layer("engine.warmup_ms") = Trace.nowMs - tw
    if (oracleSql.nonEmpty) {
      new java.io.File(dumpDir).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dumpDir/oracle_sql.json"),
        Json.render(oracleSql))
    }

    // timed passes
    val execs = mutable.ArrayBuffer.empty[Exec]
    val scanChecks = mutable.LinkedHashMap.empty[String, Check]
    val pending = mutable.ArrayBuffer.empty[(String, String)]
    val windowStart = Trace.nowMs
    var pass = 0
    while (pass == 0 || Trace.nowMs - windowStart < a.seconds * 1000) {
      val ops = new scala.util.Random(a.seed * 7919 + pass).shuffle(w.ops(pass))
      val ps = Trace.nowMs
      ops.foreach { op =>
        if (op.cls == "analytics") s.catalog.clearCache()
        res.markFirstOp()
        val opId = s"$pass:${op.key}"
        res.attempted += 1
        val t = Trace.nowMs
        val rows = try Some(Trace.op(sc, opId, op.name) {
            val df = op.df()
            (df.collect().toSeq, df)
          }) catch { case e: Exception =>
            res.errors += s"${op.key}: ${e.getMessage}"; None }
        val end = Trace.nowMs
        res.sample(op.cls, end - t)
        res.sample(op.name, end - t)
        rows match {
          case None => res.failed += 1
          case Some((r, df)) =>
            execs += Exec(opId, op, pass, t, end, r.size,
              if (a.trace) df.inputFiles.length else 0)
            val d = Digest.of(r, df.schema.fieldNames)
            op.check match {
              case Scan(_) =>
                scanChecks(op.key) = op.check
                pending += (op.key -> d)
              case Oracle =>
                res.oracleOps(op.name) = res.oracleOps.getOrElse(op.name, 0L) + 1
                if (!reference.get(op.key).contains(d)) res.failed += 1
            }
        }
      }
      res.passes += (Trace.nowMs - ps) / 1000
      pass += 1
    }

    res.extra("window_end_ms") = Trace.nowMs
    // seeded probes against a plain scan-and-filter of the same table
    scanChecks.foreach { case (key, Scan(ref)) =>
      val df = ref()
      reference(key) = Digest.of(df.collect().toSeq, df.schema.fieldNames)
      case _ => ()
    }
    pending.foreach { case (key, d) =>
      observed.getOrElseUpdate(key, d)
      if (!reference.get(key).contains(d)) {
        res.failed += 1
        res.notes += s"$key: probe digest $d differs from scan-and-filter ${reference(key)}"
      }
    }
    res.extra("digests") = observed
    res.extra("passes_completed") = pass
    if (a.trace) layers(res, execs.toSeq)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val v = xs.sorted; (v((v.size - 1) / 2) + v(v.size / 2)) / 2 }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer metrics of the traced run. Counters that should repeat
    * exactly (jobs, tasks, files) come from the first timed pass, which
    * every run of a seed executes in full. */
  private def layers(res: Result, execs: Seq[Exec]): Unit = {
    Trace.drain()
    val st = Trace.opStats()
    val empty = new Trace.OpStats
    def of(e: Exec): Trace.OpStats = st.getOrElse(e.opId, empty)
    val first = execs.filter(_.pass == 0)
    val L = res.layer
    L("spark.analysis_ms") = mean(execs.map(of(_).analysisMs.toDouble))
    L("spark.optimizer_ms") = mean(execs.map(of(_).optimizerMs.toDouble))
    L("spark.planning_ms") = mean(execs.map(of(_).planningMs.toDouble))
    L("spark.jobs") = mean(first.map(of(_).jobs.toDouble))
    L("spark.stages") = mean(first.map(of(_).stages.toDouble))
    L("spark.tasks") = mean(first.map(of(_).tasks.toDouble))
    L("spark.failed_tasks") = mean(execs.map(of(_).failedTasks.toDouble))
    L("spark.driver_gap_ms") = mean(execs.map(e =>
      Trace.driverGapMs(e.start, e.end, of(e).jobSpans.toSeq)))
    L("spark.task_ms") = mean(execs.map(of(_).taskMs.toDouble))
    L("spark.gc_ms") = mean(execs.map(of(_).gcMs.toDouble))
    L("spark.shuffle_read_bytes") = mean(execs.map(of(_).shuffleRead.toDouble))
    L("spark.shuffle_write_bytes") = mean(execs.map(of(_).shuffleWrite.toDouble))
    L("spark.spill_bytes") = mean(execs.map(of(_).spill.toDouble))
    execs.groupBy(_.op.name).foreach { case (name, es) =>
      val f = es.filter(_.pass == 0)
      if (es.head.op.cls == "analytics") {
        val q = name.takeWhile(_ != '_')
        L(s"analytics.$q.wall_ms") = median(es.map(e => e.end - e.start))
        L(s"analytics.$q.task_ms") = mean(es.map(of(_).taskMs.toDouble))
        L(s"analytics.$q.jobs") = mean(f.map(of(_).jobs.toDouble))
      } else if (es.head.op.cls == "probe") {
        val p = if (name.startsWith("q")) name.takeWhile(_ != '_') else name
        L(s"probe.$p.files_read") = mean(f.map(_.files.toDouble))
        L(s"probe.$p.bytes_read") = mean(es.map(of(_).bytesRead.toDouble))
        L(s"probe.$p.rows_read_per_row_returned") =
          mean(es.map(e => of(e).recordsRead.toDouble / math.max(1L, e.rows)))
        L(s"probe.$p.jobs") = mean(f.map(of(_).jobs.toDouble))
      }
    }
  }
}
