package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation of a workload's closed loop. */
final case class Op(kind: String, seconds: Double, var ok: Boolean,
                    var phase: String = "", var request: Long = 0L,
                    var cpuSeconds: Double = 0.0)

/** State shared by a run: directories, core count, the tracer,
  * recorded operations and failures. */
final class Ctx(val base: String, val work: String, val seed: Long,
                val cores: Int, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  val heapAfterOpMb = mutable.ArrayBuffer.empty[Double]
  /** "warmup" before the measured loop, then "" in an untraced run; a
    * traced run makes one untraced operation ("baseline"), then its
    * traced ones ("traced"). */
  var phase = ""

  def fail(op: Op, why: String): Unit = {
    op.ok = false
    failures += s"${op.kind}: $why"
  }

  /** [[Main.cpuSeconds]] when the current operation started. */
  private var opCpu0 = 0.0

  def startOp(): Unit = opCpu0 = Main.cpuSeconds()

  def record(op: Op): Op = {
    op.cpuSeconds = Main.cpuSeconds() - opCpu0
    op.phase = phase
    op.request = tracer.request
    ops += op
    heapAfterOpMb += Main.heapUsedMb()
    op
  }

  /** Order-insensitive digest of a frame: row count and the sum of
    * per-row xxhash64 over its columns in name order. */
  def digestCols(df: DataFrame) = Seq(
    count(lit(1)).as("n"),
    sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)")).as("h"))

  def digest(df: DataFrame): String = {
    val r = df.agg(digestCols(df).head, digestCols(df).tail: _*).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** Force a frame through the `noop` sink (every column evaluated, no
    * IO) and return its digest, observed in the same pass. */
  def noopDigest(df: DataFrame): String = {
    val obs = org.apache.spark.sql.Observation()
    val cs = digestCols(df)
    df.observe(obs, cs.head, cs.tail: _*)
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }
}

trait Workload {
  /** One set-up: prepare and verify inputs, build standing state. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed operations so JIT and Spark caches are warm; recorded
    * with phase "warmup". */
  def warmup(spark: SparkSession): Unit
  /** Timed closed loop until `deadlineNs`; when `traced`, the
    * workload's fixed sequence once untraced and once traced. */
  def run(spark: SparkSession, deadlineNs: Long, traced: Boolean): Unit
  /** Untimed output checks after the loop. */
  def check(spark: SparkSession): Unit
  /** Workload-specific named figures (end-to-end, untraced). */
  def named: Map[String, Any]
  /** Extra isolated layer calls made only in the traced run. */
  def isolated(spark: SparkSession): Unit = ()
}

/** Benchmark driver JVM: `--workload W --seed N --seconds S --trace 0|1
  * --base DIR --work DIR --out FILE --cores N`. Writes one JSON
  * result object to `--out`; a set-up or check that throws ends the JVM
  * without one. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of this JVM's live Java threads (the driver, the scheduler
    * and every task thread), without the JIT compiler and GC threads,
    * which run when the JVM chooses rather than when the program asks.
    * A thread that ends takes its CPU time with it, so a difference
    * undercounts work done on threads that ended in between. */
  def cpuSeconds(): Double =
    threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum / 1e9

  def heapUsedMb(): Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.expressions.DotProduct.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val tracer = new Tracer(traced)
    val ctx = new Ctx(a("base"), work, seed, cores, tracer)
    val w: Workload = workload match {
      case "medallion_batch" => new Medallion(ctx)
      case "serve_ingest" => new ServeIngest(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }

    val t00 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t00) / 1e9
    // Set-up, several times: each redoes every input and index step
    // from scratch; the last one's state is what the loop measures.
    val setupCpu = mutable.ArrayBuffer.empty[Double]
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val c0 = cpuSeconds()
      w.setup(spark, rep)
      setupCpu += cpuSeconds() - c0
      (System.nanoTime() - t0) / 1e9
    }
    w.warmup(spark)

    val t0 = System.nanoTime()
    w.run(spark, t0 + (seconds * 1e9).toLong, traced)
    val loopS = (System.nanoTime() - t0) / 1e9
    if (traced) w.isolated(spark)
    tracer.quiesce()
    w.check(spark)

    // Collect until Spark's cleaner has released what the collections
    // freed (it reacts to them asynchronously).
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapRetained = heapUsedMb()
    val persistent = spark.sparkContext.getPersistentRDDs.size

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "session_s" -> sessionS, "setup_s" -> setupS,
      "setup_cpu_s" -> setupCpu.toSeq, "loop_s" -> loopS,
      "ops" -> ctx.ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds,
        "ok" -> o.ok, "phase" -> o.phase, "request" -> o.request,
        "cpu_s" -> o.cpuSeconds)),
      "failures" -> ctx.failures.toSeq,
      "heap_retained_mb" -> heapRetained,
      "heap_after_op_mb" -> ctx.heapAfterOpMb.toSeq,
      "persistent_rdds" -> persistent,
      "named" -> w.named)
    if (traced) {
      val spans = tracer.allSpans
      val counters = tracer.countersBySpan()
      res("spans") = spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "request" -> s.request, "start_ms" -> s.startMs,
          "s" -> s.seconds, "result_rows" -> tracer.resultsOf(s.id),
          "counters" -> counters.getOrElse(s.id, new Counters).toMap)
      }
      // Engine totals over the workload's own operations (the isolated
      // layer calls, request -1, excluded).
      val engine = new Counters
      spans.filter(_.request >= 0).foreach(s =>
        counters.get(s.id).foreach(engine.add))
      res("engine") = engine.toMap
      res("unattributed") = counters.getOrElse(0L, new Counters).toMap
    }
    val pw = new PrintWriter(new File(a("out")), "UTF-8")
    try pw.write(Json.write(res)) finally pw.close()
    spark.stop()
  }
}

/** Minimal JSON encoder for the result object. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
