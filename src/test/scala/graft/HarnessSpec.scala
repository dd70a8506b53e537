package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins of the harness mains' contracts that need no Spark: Bench's two
  * JSON records, Verify's oracle_sql.json, and the one-session-factory
  * rule. */
class HarnessSpec extends AnyFunSuite {

  // deterministic synthetic result set: 90 queries over two passes, seven
  // errors (more than the compact line's six), a pass-1-only and a
  // pass-2-only failure, and values across %.3g's plain and exponent forms
  private def fixturePasses: Seq[Seq[(String, Bench.Result)]] = {
    val errs = Set(3, 20, 30, 40, 50, 60, 70)
    def t(i: Int, p: Int): Double = i match {
      case 11 => 0.0000123 + p
      case 12 => 1234.56789 - p
      case 13 => 0.5
      case _ => ((i * 7919 + p * 104729) % 5000 + 1) / 1000.0 *
        (if (i % 17 == 0) 100.0 else 1.0)
    }
    (1 to 2).map { p =>
      (0 until 90).map { i =>
        val name = f"q_synth_$i%03d"
        val r: Bench.Result =
          if (errs(i)) Left(s"AnalysisException: [E$i] \"col\" not found\n\tat C:\\path line $p")
          else if (i == 5 && p == 1) Left("RuntimeException: timeout: cancelled after 300s")
          else if (i == 8 && p == 2) Left("OutOfMemoryError: Java heap space")
          else Right(t(i, p))
        name -> r
      }
    }
  }

  // Both records as the string-built renderer wrote them before Bench
  // moved to Jackson; the file's four lines are the full and compact
  // records of fixtures A and B below.
  private lazy val golden: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/bench_golden.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    finally in.close()
  }

  test("Bench.render is byte-identical to the golden records, within the " +
      "compact budget") {
    val ps = fixturePasses
    val (fullA, lineA) = Bench.render(ps, Some((1.0234567, 57,
      "per-query \"min\" over 2")), Seq(3.1, -2.4, 0.5, 10.0), "/data/sf0.1")
    val small = ps.take(1).map(_.take(4))
    val (fullB, lineB) = Bench.render(small, None, Seq.empty, "/data/sf0.001")
    assert(Seq(fullA, lineA, fullB, lineB) == golden)
    // fixture A has more entries than fit: the compact line is truncated
    // to its 1550-char budget, and every line is one parseable JSON object
    assert(lineA.length < 1550)
    assert(fullA.length > 1550)
    val m = new ObjectMapper()
    Seq(fullA, lineA, fullB, lineB).foreach { l =>
      assert(!l.contains('\n'))
      assert(m.readTree(l).get("metric").asText == "total")
    }
  }

  test("Verify.oracleJson round-trips SQL with a tab, a CR, a quote and " +
      "substitutes the dump directory") {
    val sql = Map(
      "q_a" -> "SELECT\t'x\"y' AS s,\r\n  1 AS \\n FROM t\u0001",
      "q_b" -> "SELECT * FROM '__VERIFY_OUT__/q_a/*.parquet'")
    val root = new ObjectMapper().readTree(Verify.oracleJson(sql, "/out"))
    assert(root.size == 2)
    assert(root.get("q_a").asText == sql("q_a"))
    assert(root.get("q_b").asText == "SELECT * FROM '/out/q_a/*.parquet'")
  }

  test("GraftSession is the only place under src/ that builds a session") {
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .filter(_.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(_.toString).toArray.toSeq
    assert(offenders == Seq("src/main/scala/graft/GraftSession.scala"))
  }
}
