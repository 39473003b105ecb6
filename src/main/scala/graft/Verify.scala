package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    def selected(name: String) = only.isEmpty || only(name)
    val spark = Tables.session(Tables.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A query that throws must still produce a result dir: the driver's
        // compare silently DROPS absent results, so round 11 reported
        // 100/100 green while 10 queries crashed at build time (ADVICE r11).
        // A one-row marker frame can never match any oracle schema, so the
        // crash surfaces as a visible schema-mismatch row instead.
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getName}: ${e.getMessage}")
            .toDF("verify_build_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case inner: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${inner.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the complete manifest, even under a query-name filter: the
    // manifest is independent of which queries ran, and a filtered subset
    // would overwrite the shared outDir's manifest while stale parquet from
    // earlier full runs remains — a later driver compare would then
    // silently validate against a truncated oracle set.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
