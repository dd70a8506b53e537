package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark harness: runs one workload's registry queries in a fresh JVM,
  * one at a time, as a cold pass followed by warm passes, and checks every
  * output against the committed reference checksums.
  *
  *   --mode setup   build the session, report set-up time, exit
  *   --mode bench   set-up, cold pass, warm passes for --seconds
  *
  * The result (and, with --trace 1, the span trace) is written as JSON to
  * the files named by --out and --trace-out; perfbench/run.py turns it into
  * the benchmark's result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val t0Ms = a("t0-ms").toLong
    val cpus = a("cpus").toInt
    val spark = session(cpus, a("scratch"))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val ok = try {
      a("mode") match {
        case "setup" => Json.write(a("out"), Map("setup_s" -> setupS))
        case "bench" => new Run(spark, a, setupS).go()
      }
      true
    } catch { case e: Throwable => e.printStackTrace(); false }
    // run.py empties the scratch directory before every run, so the JVM
    // skips Spark's orderly shutdown (about a second per JVM)
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  /** Bench's session, setting for setting; only the scratch locations are
    * added, so that a run writes nothing outside its build directory. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.window.WindowExec",
        "org.apache.spark.sql.execution.window.WindowGroupLimitExec")
      .foreach(n => org.apache.logging.log4j.core.config.Configurator
        .setLevel(n, org.apache.logging.log4j.Level.ERROR))
    s
  }

  /** Row count plus an order-independent sum of a 64-bit hash over every
    * output column. Unlike count(), it makes every column be computed.
    * Columns are renamed by position first, so duplicate or odd names
    * resolve; map-typed values are hashed through their JSON form because
    * xxhash64 refuses maps. */
  def checksum(df: DataFrame): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val fields = df.schema.fields
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.map { i =>
      if (hasMap(fields(i).dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("rows"), coalesce(sum(h), lit(0L)).as("hash"))
  }
}

/** One measured query execution. */
final case class Sample(query: String, pass: Int, wallS: Double,
    error: Option[String], rows: Long, hash: Long, layers: Option[Layers])

/** The traced run's per-query record: phase spans (ms since run start)
  * and the jobs the listener attributed to the query. */
final case class Layers(spans: Seq[(String, Double, Double)],
    jobs: Seq[JobRec], stages: Int, aqeUpdates: Int, codegenClasses: Long,
    codegenS: Double, startMs: Double, endMs: Double)

object Run {
  val WarmPasses = 3
  val QueryTimeoutMs = 60000L
}

final class Run(spark: SparkSession, a: Map[String, String], setupS: Double) {
  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val fixtures = a("fixtures")
  private val names = Workloads.all(workload)
  private val registry = graft.SparkEntry.queries
  private val refs = a.get("refs").map(Refs.load).getOrElse(Map.empty)
  private val sc = spark.sparkContext
  private val recorder = if (traced) Some(new Recorder) else None
  private val errors = if (traced) Some(ErrorCounter.attach()) else None
  recorder.foreach(sc.addSparkListener)
  private val runStartNs = System.nanoTime()
  private val runStartEpochMs = System.currentTimeMillis()
  private def nowMs: Double = (System.nanoTime() - runStartNs) / 1e6
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def go(): Unit = {
    def mark(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${nowMs / 1000}%.1f s after set-up")
    // Run.WarmPasses warm passes, fewer (but at least two) when the next
    // one would end past the --seconds window, which includes the cold pass
    val startNs = System.nanoTime()
    def elapsed = (System.nanoTime() - startNs) / 1e9
    val heap = mutable.ArrayBuffer.empty[Double]
    val cold = pass(0, afterEach = () => heap += liveHeapMb())
    val warm = mutable.ArrayBuffer.empty[Seq[Sample]]
    while (warm.size < 2 || (warm.size < Run.WarmPasses &&
        elapsed + warm.last.map(_.wallS).sum <= seconds))
      warm += pass(warm.size + 1, afterEach = () => ())
    mark(s"cold pass and ${warm.size} warm passes done")
    val all = cold ++ warm.flatten
    Json.write(a("out"), Map(
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.map(_.wallS).sum,
      "warm_pass_s" -> warm.map(_.map(_.wallS).sum).toSeq,
      "warm_query_s" -> warm.flatten.filter(_.error.isEmpty).map(_.wallS),
      "driver_heap_peak_mb" -> heap.max,
      "attempted" -> all.size,
      "failures" -> all.collect { case s if s.error.isDefined =>
        Map("query" -> s.query, "pass" -> s.pass, "error" -> s.error.get) },
      "checksums" -> all.map(s => Map("query" -> s.query, "pass" -> s.pass,
        "wall_s" -> s.wallS,
        "rows" -> s.rows, "hash" -> s.hash, "ok" -> s.error.isEmpty)),
      "layers" -> (if (traced) TraceReport.layers(cold, warm.toSeq,
        errors.get) else Map.empty)))
    a.get("trace-out").filter(_ => traced).foreach(p =>
      Json.write(p, TraceReport.trace(workload, seed, runStartEpochMs,
        cold ++ warm.flatten, errors.get)))
  }

  /** Peak-candidate driver heap: old generation in use right after a full
    * collection, taken between queries (outside their timing). */
  private def liveHeapMb(): Double = {
    // the second collection runs after the ContextCleaner has dropped the
    // broadcasts and shuffles the first one released
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.fold(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)(
      _.getUsage.getUsed) / 1048576.0
  }

  /** One pass over the workload in this pass's seeded order. */
  private def pass(p: Int, afterEach: () => Unit): Seq[Sample] =
    new scala.util.Random(seed * 1000003L + p).shuffle(names).map { q =>
      val s = once(q, p)
      afterEach()
      s
    }

  private def phase(name: String): Unit =
    sc.setLocalProperty(Recorder.PhaseKey, name)

  /** Runs one query under the watchdog and checks its checksum. */
  private def once(q: String, p: Int): Sample = {
    errors.foreach(_.current = q)
    // no description: SQL executions then keep their call site as theirs
    sc.setJobGroup(q, null, interruptOnCancel = false)
    val done = new AtomicBoolean(false)
    val timedOut = new AtomicBoolean(false)
    val timer = new java.util.Timer("perfbench-watchdog", true)
    timer.schedule(new java.util.TimerTask {
      override def run(): Unit = if (!done.get()) {
        timedOut.set(true)
        sc.cancelAllJobs()
      }
    }, Run.QueryTimeoutMs)
    val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
    def span[T](kind: String)(f: => T): T = {
      val s = nowMs
      try f finally spans += ((kind, s, nowMs))
    }
    val cg0 = if (traced) Codegen.read() else (0L, 0.0)
    val startMs = nowMs
    val t0 = System.nanoTime()
    val res: Either[String, (Long, Long)] = try {
      phase("build")
      val df = span("build")(registry(q)(spark, fixtures))
      phase("action")
      val row = if (!traced) Main.checksum(df).collect()(0) else {
        val c = span("analyze")(Main.checksum(df))
        span("optimize")(c.queryExecution.optimizedPlan)
        span("plan")(c.queryExecution.executedPlan)
        span("execute")(c.collect()(0))
      }
      done.set(true)
      if (timedOut.get()) Left(s"timeout after ${Run.QueryTimeoutMs / 1000} s")
      else Right((row.getLong(0), row.getLong(1)))
    } catch {
      case e: Throwable =>
        done.set(true)
        Left(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(200))
    } finally timer.cancel()
    val wallS = (System.nanoTime() - t0) / 1e9
    span("cleanup") {
      // Bench's isolation: drop blocks a query persisted and the session
      // knob q_range_join_auto sets
      spark.catalog.clearCache()
      try spark.conf.unset(graft.catalyst.RangeJoinRewrite.WidthKey)
      catch { case _: Throwable => () }
      sc.clearJobGroup()
      phase(null)
    }
    val endMs = nowMs
    val layers = recorder.map { r =>
      org.apache.spark.PerfbenchBus.drain(sc)
      val (jobs, stages, aqe) = r.harvest()
      val cg1 = Codegen.read()
      Layers(spans.toSeq, jobs, stages, aqe, cg1._1 - cg0._1, cg1._2 - cg0._2,
        startMs, endMs)
    }
    val checked = res.flatMap { case (rows, hash) =>
      Refs.check(refs, q, rows, hash).toLeft((rows, hash)) }
    val (rows, hash) = res.toOption.getOrElse((-1L, 0L))
    if (checked.isLeft) System.err.println(s"[perfbench] $q pass $p FAILED: " +
      checked.left.toOption.get)
    Sample(q, p, wallS, checked.left.toOption, rows, hash, layers)
  }
}
