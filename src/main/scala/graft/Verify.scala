package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // oracle SQL references aux parquet namespaced by sfDir — render it
    // against the same sfDir the queries below run with
    graft.queries.OracleAux.sqlSfDir = sfDir
    // optional 3rd arg: comma-separated name substrings — dev-loop filter
    val only: String => Boolean = if (args.length > 2) {
      val pats = args(2).split(',').toSeq
      name => pats.exists(name.contains)
    } else _ => true
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // per-query wall timings → outDir/timings.json (decade anchors:
    // the sf1.0/sf10 Spark-side cost table BASELINE.md records)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only(name)) {
        // repartition(1), NOT coalesce(1): both emit the single part
        // file the oracle compare reads, but coalesce folds the final
        // compute stage into the write task — at sf1.0 that serialized
        // dedup_containment's per-pair array_intersect verify onto one
        // core (~20 min for work that is ~1 min at 32-way). The
        // round-robin shuffle moves only RESULT rows, so its cost is
        // output-sized while upstream keeps full parallelism.
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          timings(name) = (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // formatLocal(Locale.ROOT): the default-locale format would emit
    // comma decimals (0,123) under e.g. de_DE — invalid JSON, the same
    // failure class the q() control-char escapes guard against
    val tJson = timings
      .map { case (k, v) =>
        s"${q(k)}: ${"%.3f".formatLocal(java.util.Locale.ROOT, v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/timings.json"), tJson)
    spark.stop()
  }
}
