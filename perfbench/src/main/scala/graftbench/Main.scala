package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** Minimal JSON writer for the harness's result and span files. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }
}

/** Order-insensitive digest of a result: rows canonicalized (floating
  * point at 9 significant digits, so summation order cannot flip it),
  * sorted, hashed. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Columns are taken in name order, as scripts/check.py compares them. */
  def of(rows: Seq[Row], names: Seq[String]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => order.map(i => canon(r.get(i))).mkString("(", ",", ")")).sorted.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString + s"/${rows.size}"
  }
}

case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, cores: Int)

/** Benchmark harness entry: runs one workload in one JVM and writes the
  * raw measurements to `--out` for `run.py` to reduce. */
object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    val t0 = System.nanoTime()
    val s = graft.Engine.session(s"local[${a.cores}]", a.cores)
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    res.layer("engine.session_ms") = (System.nanoTime() - t0) / 1e6
    if (a.trace) Trace.install(s)
    try a.workload match {
      case "nrt_upsert" => NrtUpsert.run(s, a, res)
      case "interactive" => ClosedLoop.run(s, a, res, ClosedLoop.interactive(s, a))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        res.errors += s"${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    }
    res.extra("workload_end_ms") = Trace.nowMs
    if (a.trace) {
      Trace.drain()
      Trace.writeSpans(a.work + "/spans.jsonl")
    }
    res.extra("result_written_ms") = Trace.nowMs
    Files.writeString(Paths.get(a.out), res.render())
    s.stop()
  }
}

/** Raw measurements of one run. */
final class Result {
  var firstOpEpochMs: Double = Double.NaN
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** op name → latency samples (ms) of timed executions, by class. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val passes = mutable.ArrayBuffer.empty[Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** query name → number of timed executions, for the oracle compare. */
  val oracleOps = mutable.LinkedHashMap.empty[String, Long]
  val notes = mutable.ArrayBuffer.empty[String]

  def sample(cls: String, ms: Double): Unit =
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms

  def markFirstOp(): Unit = if (firstOpEpochMs.isNaN) firstOpEpochMs = Trace.nowMs

  def render(): String = Json.render(Map(
    "first_op_epoch_ms" -> firstOpEpochMs,
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
    "samples" -> samples, "passes" -> passes, "layer" -> layer,
    "extra" -> extra, "oracle_ops" -> oracleOps, "notes" -> notes))
}
