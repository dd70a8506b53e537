package graft

/** Every registered query executes, and the driver's smoke entry runs on
  * a driver-owned session. Both sessions are children of the shared test
  * session. */
class RegistrySmokeSpec extends SparkSpec {

  test("every registered query counts at sf0.001 with codegen fallback off") {
    // malformed generated Java fails the query instead of silently
    // demoting the stage to interpreted eval (which is how the
    // MassKeepExpr margin-strip bug hid: results stayed correct while the
    // hot path lost whole-stage codegen)
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      try { fn(s, sf001).count(); None }
      catch { case e: Throwable =>
        Some(s"$n: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      } finally {
        // as Bench: kernels' internal persists and session-level knobs
        // must not leak into the next query
        s.catalog.clearCache()
        s.conf.unset(graft.catalyst.RangeJoinRewrite.WidthKey)
      }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("SparkEntry.entry returns rows on a driver-like session") {
    // the driver owns its session: ANSI on (the Spark 4 default), none of
    // graft's legacy confs, default shuffle partitions
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    s.conf.unset("spark.sql.shuffle.partitions")
    assert(SparkEntry.entry(s).count() > 0)
  }
}
