package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed operation. `phase` is `warmup`, `measure`, `untraced` or
  * `traced`; only `measure` ops feed the end-to-end latency figures.
  */
final case class Op(kind: String, phase: String, start: Double, ms: Double,
                    ok: Boolean)

/** What a workload shares with the harness: the session, the seed, the
  * measuring window, the tracer and the record of operations.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val tracer: Tracer,
                val jobs: Option[JobCounters], val expected: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val ops = new ConcurrentLinkedQueue[Op]()
  val failures = new ConcurrentLinkedQueue[String]()
  val prepSec = new ConcurrentLinkedQueue[Double]()
  @volatile var warmupSec = 0.0
  @volatile var jvmGcMs = 0.0

  def trace: Boolean = tracer.enabled

  /** One timed operation: only `call` is timed; `check` then inspects its
    * result and returns None when it was right or Some(reason) when not.
    * An exception in either is a failure too. Returns the latency in ms.
    */
  def op[T](kind: String, phase: String)(call: => T)(
      check: T => Option[String]): Double = {
    val start = Clock.ms()
    val t0 = System.nanoTime()
    val res = try Right(call) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    def describe(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    val why = res match {
      case Left(e) => describe(e)
      case Right(v) => try check(v) catch { case e: Throwable => describe(e) }
    }
    ops.add(Op(kind, phase, start, ms, why.isEmpty))
    why.foreach(w => if (failures.size < 50) failures.add(s"$kind: $w"))
    ms
  }

  /** Repeat a preparation step three times and keep the timings; the
    * result of the last repetition is the one the workload uses.
    */
  def prep[T](body: => T): T = {
    var out: Option[T] = None
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      out = Some(body)
      prepSec.add((System.nanoTime() - t0) / 1e9)
    }
    out.get
  }

  def warmup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally warmupSec = (System.nanoTime() - t0) / 1e9
  }

  /** Run `body` with the job listener detached: the untraced operations
    * a traced run interleaves with its traced ones, so the difference
    * between the two is the cost of tracing.
    */
  def untraced[T](body: => T): T = jobs match {
    case None => body
    case Some(l) =>
      l.drain()
      spark.sparkContext.removeSparkListener(l)
      try body finally spark.sparkContext.addSparkListener(l)
  }

  /** Run an untraced and a traced version of the same step, alternating
    * which goes first so neither gains from running second.
    */
  def paired(i: Int)(untracedStep: => Unit)(tracedStep: => Unit): Unit =
    if (i % 2 == 0) { untraced(untracedStep); tracedStep }
    else { tracedStep; untraced(untracedStep) }

  /** GC time spent while `body` runs (the traced phase). */
  def gcDuring[T](body: => T): T = {
    val g0 = JvmCounters.gcMs()
    try body finally jvmGcMs = (JvmCounters.gcMs() - g0).toDouble
  }

  /** Closed loop: run `step(i)` until `seconds` have passed and at least
    * `minOps` steps ran.
    */
  def loop(seconds: Double, minOps: Int)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minOps) {
      step(i)
      i += 1
    }
  }
}

/** Benchmark entry point. Usage:
  *
  * {{{
  * Main --workload service|queries --seed N --seconds S --trace 0|1
  *      --out result.json --work workdir --expected expected/queries.json
  * Main --pin outdir --expected expected/queries.json --work workdir
  * }}}
  *
  * Writes the raw record of the run (operation latencies, setup timings,
  * spans, Spark job counters) to `--out`; `run.py` turns it into metrics.
  * The process ends through `System.exit`: the HTTP server's request pool
  * threads are not daemons and would otherwise keep the JVM alive. The
  * status is 0 when every operation was right, 1 when any failed, 2 when
  * the run itself broke.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val status =
      try run(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    System.err.flush()
    sys.exit(status)
  }

  private def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(a: Map[String, String]): Int = {
    graft.StallMeter.start()
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val expected = Paths.get(a("expected")).toAbsolutePath
    if (a.contains("pin")) {
      val spark = session(work, cores)
      Queries.pin(spark, work, Paths.get(a("pin")).toAbsolutePath, expected)
      return 0
    }
    val trace = a("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(work, cores)
    val jobs = if (trace) {
      val l = new JobCounters(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      JvmCounters.install()
      Some(l)
    } else None
    // one trivial job so session start includes the executor's first task
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionSec = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = new Ctx(spark, work, a("seed").toLong, a("seconds").toDouble,
      new Tracer(trace, spark.sparkContext), jobs, expected)
    val workload = a("workload")
    val extra: Map[String, Any] = workload match {
      case "service" => Service.service(ctx)
      case "queries" => Queries.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ops = ctx.ops.asScala.toSeq
    val result = Map[String, Any](
      "workload" -> workload,
      "seed" -> ctx.seed,
      "trace" -> trace,
      "nproc" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "stall_max_s" -> graft.StallMeter.runMaxGapSec(),
      "setup" -> Map("session_s" -> sessionSec,
        "prep_s" -> ctx.prepSec.asScala.toSeq, "warmup_s" -> ctx.warmupSec),
      "ops" -> ops.map(o => Map("kind" -> o.kind, "phase" -> o.phase,
        "start" -> o.start, "ms" -> o.ms, "ok" -> o.ok)),
      "failures" -> ctx.failures.asScala.toSeq,
      "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start" -> s.start,
        "end" -> s.end, "attrs" -> s.attrs)),
      "jobs" -> jobs.map(_.all).getOrElse(Nil).map(j => Map("id" -> j.id,
        "group" -> j.group, "submit" -> j.submit, "end" -> j.end,
        "stages" -> j.stages.size, "tasks" -> j.tasks, "cpu_ms" -> j.cpuMs,
        "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
        "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "input_bytes" -> j.input, "output_bytes" -> j.output)),
      "jvm" -> Map("gc_ms" -> ctx.jvmGcMs,
        "heap_after_gc_peak_mb" -> JvmCounters.heapAfterGcPeakMb())
    ) ++ extra
    Files.writeString(Paths.get(a("out")),
      Serialization.write(result)(DefaultFormats) + "\n")
    if (ops.forall(_.ok)) 0 else 1
  }
}
