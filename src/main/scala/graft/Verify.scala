package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always calls with exactly two args = run everything)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json is written BEFORE the query loop: it depends only
    // on the registry, and writing it last meant an external kill mid-run
    // (driver wall-clock budget) lost the entire round's oracle map —
    // every completed dump would then read as rows-only.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql, Paths.get(outDir).toAbsolutePath.toString))
    // same per-query watchdog as Bench: one hung query degrades to one
    // missing dump (the driver records it as an error), not a stalled gate
    val timeoutMs =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong * 1000L
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val timer = new java.util.Timer("verify-watchdog", true)
      timer.schedule(new java.util.TimerTask {
        override def run(): Unit = spark.sparkContext.cancelAllJobs()
      }, timeoutMs)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a watchdog cancel can interrupt the write mid-overwrite; a
        // partial directory would read as a TRUNCATED result downstream —
        // delete it so a failed query is a missing dump, not a wrong one
        try {
          val dir = Paths.get(outDir, name)
          if (Files.exists(dir))
            Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      } finally {
        timer.cancel()
        spark.catalog.clearCache() // drop kernels' internal persists
        try spark.conf.unset(graft.catalyst.RangeJoinRewrite.WidthKey)
        catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }

  /** oracle_sql.json: query name -> DuckDB SQL. Residual oracles (the
    * converged-kernel certificates) read the engine's own dumped parquet
    * back via DuckDB to check a claimed fixed point — the dump directory
    * is only known here, so the SQL carries a token that is substituted
    * with the ABSOLUTE path `outAbs` (the comparator may run with a
    * different working directory). */
  private[graft] def oracleJson(oracleSql: Map[String, String],
                                outAbs: String): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    oracleSql.foreach { case (k, v) =>
      root.put(k, v.replace("__VERIFY_OUT__", outAbs)) }
    m.writeValueAsString(root)
  }
}
