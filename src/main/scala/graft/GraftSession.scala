package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Every main and the shared test
  * session get the configuration `Bench` times, so what the tests and
  * the plan audit check is what the benchmark measures. A caller may
  * afterwards set only a runtime SQL conf its own job is about, or its
  * log level. */
object GraftSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // double/0 is NULL in both Spark and the DuckDB oracle
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Q.events converts it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE coalesces shuffle reads by BYTE size (1 MiB floor); the
      // per-group model kernels (beta-mixture EM, NB-GLM, hclust) are
      // heavy CPU over few bytes, and byte-based coalescing collapses
      // them to 1-7 tasks (measured: the 500-gene EM stage ran 7-wide,
      // ~5× the wall of the 32-wide plan). A smaller floor keeps
      // parallelismFirst effective for CPU-dense stages.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // static conf, default 100: a 95-query session generates far more
      // codegen units than that, so re-runs were janino-recompiling
      // classes the first run had already built and evicted
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "No Partition Defined for Window operation" warnings are fully
    // attributed: every unpartitioned window in the suite sits over a
    // provably aggregate-sized relation (quota tables, 10-bin reliability
    // relations, dim-sized BH/ROC ranks — the boundedGlobalWindow
    // whitelist in PlanAudit.scala, pinned per query as `gwin` in
    // PLANS.json). Silence those two loggers so a run's log tail is not
    // alarming noise.
    Seq("org.apache.spark.sql.execution.window.WindowExec",
        "org.apache.spark.sql.execution.window.WindowGroupLimitExec")
      .foreach(n => org.apache.logging.log4j.core.config.Configurator
        .setLevel(n, org.apache.logging.log4j.Level.ERROR))
    spark
  }
}
