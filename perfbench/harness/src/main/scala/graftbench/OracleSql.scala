package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` for the benchmark's queries, grouped by
  * workload (`{"iterative": {"q87_dedup_cc": "<sql>", ...}}`), to the file
  * named by the first argument; `pin.py` runs each statement in DuckDB to
  * set the pinned output digests.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val workloads = Seq("iterative" -> QueryWorkload.iterative)
    val missing = workloads.flatMap(_._2).filterNot(oracle.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = workloads.map { case (w, qs) =>
      str(w) + ":" + qs.map(q => s"${str(q)}:${str(oracle(q))}").mkString("{\n", ",\n", "\n}")
    }.mkString("{", ",\n", "}")
    Files.write(Paths.get(args(0)), json.getBytes(StandardCharsets.UTF_8))
  }
}
