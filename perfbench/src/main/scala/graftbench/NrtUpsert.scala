package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.StoreIo
import graft.streaming.{Streams, UpsertSink}
import graft.streaming.Streams.OrderEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The NRT loop: an open-loop file generator → file source →
  * `Streams.entityStream` (s1) → `UpsertSink.writeTo` → `VersionedStore`.
  *
  * One generator thread writes CSV files of order events at a fixed
  * offered rate without Spark; each file is written to a staging
  * directory and renamed into the source directory atomically, named by
  * its scheduled creation time. A file's latency is the end of the
  * trigger whose upsert commit contains it minus that scheduled time.
  * Phases: warm-up (`InitialFiles` files land before the stream starts;
  * the generator starts once the first, cold trigger has committed them
  * and runs until `WarmupTriggers` triggers with data have completed),
  * steady (`--seconds` at the offered rate, from one trigger boundary to
  * the first one after), then catch-up: the generator stops, the steady
  * files commit, and a fixed backlog written to the staging directory
  * beforehand lands at once.
  */
object NrtUpsert {
  val FilesPerSec = 12.0
  val EventsPerFile = 20
  val Keys = 4000
  val ZipfS = 1.1
  val WarmupTriggers = 3
  val InitialFiles = 20
  /** The catch-up backlog is one file, so it lands in one rename and no
    * trigger can list part of it. */
  val BacklogEvents = 20000
  val SettleTimeoutMs = 60000.0
  private val Statuses = Array("O", "F", "P")

  final case class GenFile(name: String, phase: String, scheduledMs: Double,
      var landedMs: Double, keys: Array[Long], cents: Array[Long], status: Array[String],
      bytes: Long)

  final class Generator(dir: Path, stage: Path, seed: Long) {
    private val rnd = new java.util.Random(seed)
    /** The keyspace: `Keys` distinct custkeys the seed draws. */
    private val keyspace: Array[Long] = {
      val ks = mutable.LinkedHashSet.empty[Long]
      while (ks.size < Keys) ks += (rnd.nextDouble() * 1000000).toLong
      ks.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Keys)(i => 1.0 / math.pow(i + 1, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private def key(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      keyspace(math.min(Keys - 1, if (i >= 0) i else -i - 1))
    }
    val files = new java.util.concurrent.ConcurrentLinkedQueue[GenFile]()
    private var seq = 0

    /** Write one file to the staging dir; `land` renames it into place. */
    def make(phase: String, scheduledMs: Double,
        n: Int = EventsPerFile): (GenFile, Path) = synchronized {
      val ks = Array.fill(n)(key())
      val cs = Array.fill(n)(100L + rnd.nextInt(50000))
      val st = Array.fill(n)(Statuses(rnd.nextInt(Statuses.length)))
      val body = (0 until n).map(i => s"${ks(i)},${cs(i) / 100}.${"%02d".format(cs(i) % 100)},${st(i)}")
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      val name = f"${(scheduledMs * 1000).toLong}%016d-$seq%06d.csv"
      seq += 1
      val tmp = stage.resolve(name)
      Files.write(tmp, body)
      (GenFile(name, phase, scheduledMs, Double.NaN, ks, cs, st, body.length), tmp)
    }

    def land(f: GenFile, tmp: Path): Unit = {
      Files.move(tmp, dir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
      f.landedMs = Trace.nowMs
      files.add(f)
    }
  }

  /** file name → batch id, from the file source's metadata log. */
  def fileBatches(ckpt: String): Map[String, Seq[Long]] = {
    val log = Paths.get(ckpt, "sources", "0")
    if (!Files.isDirectory(log)) return Map.empty
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val pairs = Files.list(log).iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => try Files.readAllLines(p).asScala catch { case _: Exception => Nil })
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
      .toSeq.distinct
    pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def triggerEnd(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)

  def run(s: SparkSession, a: Args, res: Result): Unit = {
    import s.implicits._
    val root = Paths.get(a.work, "nrt")
    val (inDir, stage) = (root.resolve("in"), root.resolve("stage"))
    Files.createDirectories(inDir); Files.createDirectories(stage)
    val storeDir = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val gen = new Generator(inDir, stage, a.seed)

    val body = () => {
      val events = s.readStream.schema("custkey LONG, amount DOUBLE, status STRING")
        .csv(inDir.toString).as[OrderEvent]
      val q = UpsertSink.writeTo(Streams.entityStream(events), storeDir, ckpt)
      try drive(s, a, res, q, gen, ckpt)
      finally { q.stop(); q.awaitTermination(30000) }
      q
    }
    (0 until InitialFiles).foreach { _ =>
      val (f, tmp) = gen.make("warmup", Trace.nowMs)
      gen.land(f, tmp)
    }
    val q = if (a.trace) StoreIo.withOps(Trace.CountingOps)(body()) else body()
    res.extra("stream_stopped_ms") = Trace.nowMs
    val prog = progressOf(q)
    check(s, res, gen, storeDir, ckpt, prog)
    if (a.trace) layers(res, prog, gen, storeDir, ckpt)
  }

  private def progressOf(q: StreamingQuery): Map[Long, StreamingQueryProgress] =
    q.recentProgress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap

  private def drive(s: SparkSession, a: Args, res: Result, q: StreamingQuery,
      gen: Generator, ckpt: String): Unit = {
    val period = 1000.0 / FilesPerSec
    val backlog = Seq(gen.make("catchup", Double.NaN, BacklogEvents))
    @volatile var phase = "warmup"
    @volatile var stop = false
    awaitCommitted(q, gen, ckpt)
    val start = Trace.nowMs
    val thread = new Thread(() => {
      var i = 0
      while (!stop) {
        val due = start + i * period
        val wait = due - Trace.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (!stop) {
          val (f, tmp) = gen.make(phase, due)
          gen.land(f, tmp)
        }
        i += 1
      }
    }, "graftbench-generator")
    thread.setDaemon(true)
    thread.start()
    try {
      // warm-up: until WarmupTriggers triggers with data have completed.
      // Steady starts and ends on trigger boundaries, so its files land
      // over whole trigger cycles whatever the phase of the window.
      awaitTriggers(q, WarmupTriggers, start)
      phase = "steady"
      res.markFirstOp()
      val steadyStart = Trace.nowMs
      while (Trace.nowMs - steadyStart < a.seconds * 1000) {
        if (q.exception.isDefined) throw q.exception.get
        Thread.sleep(20)
      }
      awaitTriggers(q, progressOf(q).size + 1, start)
    } finally {
      stop = true
      thread.join()
    }
    // catch-up: once the steady files are committed and the stream is
    // idle, the backlog lands at once
    awaitCommitted(q, gen, ckpt)
    val land = Trace.nowMs
    backlog.foreach { case (f, tmp) => gen.land(f, tmp) }
    awaitCommitted(q, gen, ckpt)
    res.extra("committed_ms") = Trace.nowMs
    val prog = progressOf(q)
    val batches = fileBatches(ckpt)
    val ends = backlog.flatMap { case (f, _) =>
      batches.get(f.name).flatMap(_.headOption).flatMap(prog.get).map(triggerEnd) }
    if (ends.size == backlog.size) {
      res.extra("catchup_s") = (ends.max - land) / 1000
      res.extra("catchup_events") = backlog.map(_._1.keys.length.toLong).sum
    }
  }

  /** Wait until `n` triggers with data have completed. */
  private def awaitTriggers(q: StreamingQuery, n: Int, since: Double): Unit =
    while (progressOf(q).size < n && Trace.nowMs - since < 120000) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(20)
    }

  private def awaitCommitted(q: StreamingQuery, gen: Generator, ckpt: String): Unit = {
    val t0 = Trace.nowMs
    def pending: Int = {
      val prog = progressOf(q)
      val b = fileBatches(ckpt)
      gen.files.asScala.count(f => !b.get(f.name).exists(_.exists(prog.contains)))
    }
    while (pending > 0 && Trace.nowMs - t0 < SettleTimeoutMs) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(50)
    }
  }

  /** Output check: the final store must equal a batch recomputation of
    * the fold over every generated event, hold each key once, and every
    * generated file must be committed in exactly one batch. */
  private def check(s: SparkSession, res: Result, gen: Generator, storeDir: String,
      ckpt: String, prog: Map[Long, StreamingQueryProgress]): Unit = {
    val files = gen.files.asScala.toSeq
    val batches = fileBatches(ckpt)
    res.attempted += files.size
    val badFiles = files.count(f => batches.get(f.name).forall(_.size != 1))
    res.failed += badFiles
    if (badFiles > 0) res.notes += s"$badFiles generated files not committed exactly once"
    final case class Agg(var trips: Long, var cents: Long, var max: Double,
        var open: Long, var fulfilled: Long)
    val expect = mutable.Map.empty[Long, Agg]
    files.foreach { f =>
      f.keys.indices.foreach { i =>
        val g = expect.getOrElseUpdate(f.keys(i), Agg(0, 0, Double.MinValue, 0, 0))
        g.trips += 1; g.cents += f.cents(i); g.max = math.max(g.max, f.cents(i) / 100.0)
        if (f.status(i) == "O") g.open += 1
        if (f.status(i) == "F") g.fulfilled += 1
      }
    }
    val rows = UpsertSink.readStore(s, storeDir)
      .select("custkey", "totalTrips", "totalAmount", "maxAmount", "openTrips",
        "fulfilledTrips").collect()
    val got = rows.groupBy(_.getLong(0))
    val dupKeys = got.count(_._2.length > 1)
    val wrong = expect.count { case (k, e) =>
      got.get(k).flatMap(_.headOption).forall { r =>
        r.getLong(1) != e.trips || math.round(r.getDouble(2) * 100) != e.cents ||
          r.getDouble(3) != e.max || r.getLong(4) != e.open || r.getLong(5) != e.fulfilled
      }
    } + got.keys.count(k => !expect.contains(k))
    if (dupKeys + wrong > 0) {
      res.failed = math.min(res.attempted, res.failed + dupKeys + wrong)
      res.notes += s"store check: $dupKeys keys held twice, $wrong keys differ from the recomputed fold"
    }
    res.extra("store_keys") = got.size.toLong

    // per-file latency over the steady phase
    val lat = files.filter(_.phase == "steady").sortBy(_.scheduledMs).flatMap { f =>
      batches.get(f.name).flatMap(_.headOption).flatMap(prog.get)
        .map(p => triggerEnd(p) - f.scheduledMs)
    }
    lat.foreach(res.sample("nrt", _))
    val steadyIds = files.filter(_.phase == "steady")
      .flatMap(f => batches.get(f.name).flatMap(_.headOption)).toSet
    res.extra("steady_trigger_ms") = prog.values.toSeq.sortBy(_.batchId)
      .filter(p => steadyIds(p.batchId))
      .map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    // a growing backlog fails the run: the last third of the steady
    // files must not wait twice as long as the first third
    if (lat.size >= 3) {
      val third = lat.size / 3
      val (head, tail) = (lat.take(third), lat.takeRight(third))
      val (h, t) = (head.sum / head.size, tail.sum / tail.size)
      res.extra("steady_latency_first_third") = h
      res.extra("steady_latency_last_third") = t
      if (t > 2 * h && t - h > 2000) {
        res.failed = math.min(res.attempted, res.failed + lat.size)
        res.notes += f"steady phase backlog grows: latency $h%.0f ms → $t%.0f ms"
      }
    }
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer metrics of the traced run, per trigger with data. */
  private def layers(res: Result, prog: Map[Long, StreamingQueryProgress], gen: Generator,
      storeDir: String, ckpt: String): Unit = {
    Trace.drain()
    val st = Trace.opStats()
    val files = gen.files.asScala.toSeq
    val batches = fileBatches(ckpt)
    val byBatch = files.groupBy(f => batches.get(f.name).flatMap(_.headOption).getOrElse(-1L))
    val steadyBatches = byBatch.collect { case (b, fs) if fs.exists(_.phase == "steady") => b }
      .toSet
    val trig = prog.values.toSeq.sortBy(_.batchId)
    val steady = trig.filter(p => steadyBatches(p.batchId))
    val empty = new Trace.OpStats
    def of(b: Long): Trace.OpStats = st.getOrElse(s"trigger.$b", empty)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val n = math.max(1, trig.size).toDouble
    val L = res.layer
    L("spark.analysis_ms") = mean(steady.map(p => of(p.batchId).analysisMs.toDouble))
    L("spark.optimizer_ms") = mean(steady.map(p => of(p.batchId).optimizerMs.toDouble))
    L("spark.planning_ms") = mean(steady.map(p => of(p.batchId).planningMs.toDouble))
    L("spark.jobs") = mean(steady.map(p => of(p.batchId).jobs.toDouble))
    L("spark.stages") = mean(steady.map(p => of(p.batchId).stages.toDouble))
    L("spark.tasks") = mean(steady.map(p => of(p.batchId).tasks.toDouble))
    L("spark.failed_tasks") = mean(trig.map(p => of(p.batchId).failedTasks.toDouble))
    L("spark.driver_gap_ms") = mean(steady.map { p =>
      val end = triggerEnd(p)
      Trace.driverGapMs(end - dur(p, "triggerExecution"), end, of(p.batchId).jobSpans.toSeq)
    })
    L("spark.task_ms") = mean(steady.map(p => of(p.batchId).taskMs.toDouble))
    L("spark.gc_ms") = mean(steady.map(p => of(p.batchId).gcMs.toDouble))
    L("spark.shuffle_read_bytes") = mean(steady.map(p => of(p.batchId).shuffleRead.toDouble))
    L("spark.shuffle_write_bytes") = mean(steady.map(p => of(p.batchId).shuffleWrite.toDouble))
    L("spark.spill_bytes") = mean(steady.map(p => of(p.batchId).spill.toDouble))

    L("commit.jobs") = L("spark.jobs")
    L("commit.fs_create_no_overwrite") = Trace.CountingOps.createNoOverwrite.sum / n
    L("commit.fs_create_marker") = Trace.CountingOps.createMarker.sum / n
    L("commit.fs_rename") = Trace.CountingOps.rename.sum / n
    val store = Paths.get(storeDir)
    val all = Files.walk(store).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val dataFiles = all.filter(p => p.toString.contains("/data/v") &&
      p.getFileName.toString.endsWith(".parquet"))
    L("commit.files_rewritten") = dataFiles.size / n
    L("commit.bytes_written_per_input_byte") =
      dataFiles.map(Files.size(_)).sum.toDouble / math.max(1L, files.map(_.bytes).sum)
    L("commit.abandoned_slots") = all.count(_.getFileName.toString.endsWith(".abandoned")).toDouble

    L("streaming.trigger_ms") = mean(steady.map(dur(_, "triggerExecution")))
    Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
      "commitOffsets" -> "commit_offsets").foreach { case (k, m) =>
      L(s"streaming.${m}_ms") = mean(steady.map(dur(_, k)))
    }
    def ops(p: StreamingQueryProgress) = p.stateOperators.headOption
    L("streaming.state_commit_ms") = mean(steady.flatMap(ops).map(_.commitTimeMs.toDouble))
    L("streaming.state_rows_total") = trig.lastOption.flatMap(ops).map(_.numRowsTotal.toDouble)
      .getOrElse(0.0)
    L("streaming.state_memory_bytes") = trig.lastOption.flatMap(ops)
      .map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    val keysIn = trig.map(p => byBatch.getOrElse(p.batchId, Nil).flatMap(_.keys).distinct.size)
    L("streaming.fold_updates_per_input_key") =
      trig.flatMap(ops).map(_.numRowsUpdated.toDouble).sum / math.max(1, keysIn.sum)
    L("streaming.input_rows_per_trigger") = mean(steady.map(_.numInputRows.toDouble))
    L("streaming.backlog_files") = mean(steady.map { p =>
      val start = triggerEnd(p) - dur(p, "triggerExecution")
      files.count(f => f.landedMs < start &&
        batches.get(f.name).flatMap(_.headOption).exists(_ >= p.batchId)).toDouble
    })
    L("streaming.generator_lag_ms") =
      mean(files.filter(_.phase == "steady").map(f => f.landedMs - f.scheduledMs))
    res.extra("state_rows_per_store_key") =
      L("streaming.state_rows_total") / math.max(1L, res.extra.getOrElse("store_keys", 1L)
        .asInstanceOf[Long])
  }
}
