package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side: runs one workload against the engine on the
  * generated snapshots under `--data`, and writes the raw run record
  * (timings, spans, correctness dumps, checks) to `--out/run.json`.
  * `perfbench/run.py` builds this, generates the inputs, checks the dumps
  * against the DuckDB oracle and prints the metrics.
  *
  * Usage: graft.perfbench.Main --workload curate|maintain
  *   --data DIR --out DIR --seed N --seconds S --trace 0|1
  */
object Main {
  final case class Opts(workload: String, data: String, out: String,
      seed: Long, seconds: Double, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("out"), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.out))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, s"${o.out}/spark-local")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cal0 = calibrate(cpus)
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val ctx = new Ctx(spark, tracer, o)
    val workload: Workload = o.workload match {
      case "curate" => new Curate(ctx)
      case "maintain" => new Maintain(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val ts = System.nanoTime()
    tracer.op("setup")(workload.setup())
    val setupS = (System.nanoTime() - ts) / 1e9
    val t0 = System.nanoTime()
    var i = 0
    while (i < workload.maxOps && (System.nanoTime() - t0) / 1e9 < o.seconds) {
      workload.step(i)
      i += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val cal1 = calibrate(cpus)
    tracer.close()
    // untimed: correctness dumps and end-of-run checks
    val tf = System.nanoTime()
    ctx.dumpPending()
    workload.finish()
    ctx.extra("checks_s") = (System.nanoTime() - tf) / 1e9
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> cpus,
      "traced" -> o.trace, "session_s" -> sessionS,
      "setup_pass_s" -> setupS, "window_s" -> windowS,
      "steps" -> i, "ops" -> ctx.ops, "probes_s" -> ctx.probes,
      "failures" -> ctx.failures, "checks" -> ctx.checks, "dumps" -> ctx.dumps,
      "calibration_ms" -> Seq(cal0, cal1), "peak_rss_mb" -> peakRssMb,
      "extra" -> ctx.extra,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
        ctx.dumps.exists(_("query") == k) },
      "spans" -> (if (o.trace) tracer.summaries.map(spanJson) else Nil))
    Files.writeString(Paths.get(s"${o.out}/run.json"), new ObjectMapper()
      .registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }

  /** The session Bench and Verify use, with Spark's scratch space kept
    * under the run's own directory. */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed CPU probe: the same integer loop on every core at once, so
    * that other processes contending for the cores show; best of five
    * wall times, in ms. Taken at the start and end of the run; a
    * disagreement flags a noisy measurement window. */
  def calibrate(cpus: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    def spin(): Unit = {
      var x = 0x9E3779B97F4A7C15L
      var k = 0
      while (k < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
      sink.addAndGet(x)
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = Seq.fill(cpus)(new Thread(() => spin()))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(5)(once()).min
  }

  /** The driver process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  private def spanJson(s: Tracer.SpanStats): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "layer" -> s.layer,
    "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
    "wall_s" -> s.wallS, "self_s" -> s.selfS, "driver_gap_s" -> s.gapS,
    "jobs" -> s.jobs, "tasks" -> s.tasks, "task_s" -> s.taskS, "gc_s" -> s.gcS,
    "shuffle_mb" -> s.shuffleMb, "spill_mb" -> s.spillMb,
    "records_read" -> s.recordsRead, "sites_s" -> s.siteS)
}

/** Shared state of one run: the session, the tracer, and the record the
  * workloads fill. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val o: Main.Opts) {
  /** PERFBENCH_WRONG_EXPECTED=1: corrupt every expected result, to show
    * that a wrong answer fails the run. */
  val wrongExpected: Boolean = sys.env.get("PERFBENCH_WRONG_EXPECTED").contains("1")
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val probes = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val dumps = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private val pending = mutable.ArrayBuffer.empty[(String, String, StructType, Array[Row])]

  def snapshot(name: String): String = s"${o.data}/$name"

  /** Time `body` as one measured operation. A throw is recorded as a
    * failed operation and the run goes on. */
  def op(kind: String, name: String, units: Long = 1)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val ok = try { tr.op(s"$kind:$name")(body); true }
      catch { case e: Throwable => fail(s"$kind:$name", e); false }
    ops += Map("kind" -> kind, "name" -> name, "s" -> (System.nanoTime() - t0) / 1e9,
      "ok" -> ok, "units" -> units)
    ok
  }

  def fail(what: String, e: Throwable): Unit = {
    val cause = Option(e.getCause).getOrElse(e)
    System.err.println(s"[perfbench] FAIL $what: $cause")
    failures += Map("op" -> what, "error" -> String.valueOf(cause))
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Run one engine query the way Bench does, inside a transient
    * checkpoint scope, with its layers as child spans: building the
    * DataFrame (operators, including eager checkpoint chains), planning
    * (plans) and the action (operators). Returns the collected rows. */
  def query(fn: (SparkSession, String) => DataFrame, dir: String): (StructType, Array[Row]) = {
    graft.engine.Staging.beginTransient()
    try {
      val df = tr.span("operators", "build")(fn(spark, dir))
      tr.span("plans", "plan")(df.queryExecution.executedPlan)
      (df.schema, tr.span("operators", "action")(df.collect()))
    } finally tr.span("engine", "release")(graft.engine.Staging.releaseTransient())
  }

  /** Plan and collect a read: the planning in `plans`, the scan in
    * `sources`. */
  def read(df: DataFrame): (StructType, Array[Row]) = {
    tr.span("plans", "plan")(df.queryExecution.executedPlan)
    (df.schema, tr.span("sources", "scan")(df.collect()))
  }

  /** Time `body` as one read-after-write probe. A throw is a failed
    * operation. */
  def probe[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = tr.op(s"probe:$name")(body)
      probes += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch { case e: Throwable => fail(s"probe:$name", e); None }
  }

  /** Keep a result for the oracle; written out after the timed window. */
  def keep(query: String, snapshot: String, schema: StructType, rows: Array[Row]): Unit =
    pending += ((query, snapshot, schema, rows))

  def dumpPending(): Unit = {
    pending.zipWithIndex.foreach { case ((q, snap, schema, rows), i) =>
      val dir = s"${o.out}/dumps/$i-$q"
      try {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        dumps += Map("query" -> q, "snapshot" -> snap, "dir" -> dir)
      } catch { case e: Throwable => fail(s"dump:$q", e) }
    }
    pending.clear()
  }
}

/** One workload: `setup()` is the set-up pass, on snapshot `setup`;
  * `step(i)` is one measured iteration, for `i < maxOps`; `finish()` runs
  * the end-of-run checks, untimed. */
trait Workload {
  def setup(): Unit
  def step(i: Int): Unit
  def maxOps: Int
  def finish(): Unit = ()
}
