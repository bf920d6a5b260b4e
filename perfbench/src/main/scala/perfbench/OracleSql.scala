package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes {query name: oracle SQL or null} for the queries `query_mix`
  * times, the input of make_oracle.py. Usage: perfbench.OracleSql <out.json> */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val registry = graft.queries.Registry.byName
    val entries = QueryWorkload.Queries.map { case (q, _) =>
      s"${Main.jstr(q)}:${registry(q).oracle.map(Main.jstr).getOrElse("null")}"
    }
    Files.write(Paths.get(args(0)),
      entries.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
  }
}
