package perfbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harness's own output files, written with Spark's Jackson. */
object Json {
  val mapper: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, mapper.writeValueAsString(v) + "\n")
  }
}

/** Reference checksums, committed in perfbench/references.json:
  * `{"query": {"rows": n, "hash": h, "check": "hash" | "rows"}}`. A query
  * whose hash was shown to vary run to run is checked by row count only. */
object Refs {
  final case class Ref(rows: Long, hash: Long, rowsOnly: Boolean)

  def load(path: String): Map[String, Ref] = {
    val root = Json.mapper.readTree(Files.readString(Paths.get(path)))
    val out = Map.newBuilder[String, Ref]
    root.fieldNames().forEachRemaining { q =>
      val r = root.get(q)
      out += q -> Ref(r.get("rows").asLong, r.get("hash").asLong,
        r.get("check").asText == "rows")
    }
    out.result()
  }

  /** An error message when the output differs from the reference. */
  def check(refs: Map[String, Ref], q: String, rows: Long,
      hash: Long): Option[String] =
    if (refs.isEmpty) None
    else refs.get(q) match {
      case None => Some("no reference checksum")
      case Some(r) if r.rows != rows =>
        Some(s"rows $rows, expected ${r.rows}")
      case Some(r) if !r.rowsOnly && r.hash != hash =>
        Some(s"checksum $hash, expected ${r.hash}")
      case _ => None
    }
}
