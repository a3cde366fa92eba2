package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.queries.{OracleAux, Query}
/** Driver-run correctness dump: each registry query's output → parquet,
  * its declared artifacts → the aux dirs its oracle reads, plus
  * oracle_sql.json, for the driver's DuckDB compare. The one module that
  * writes artifacts. Exits 1, naming the failed queries, if any selected
  * query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // oracle SQL references aux parquet namespaced by sfDir — render it
    // against the same sfDir the queries below run with
    OracleAux.sqlSfDir = sfDir
    // optional 3rd arg: comma-separated name substrings — dev-loop filter
    val only: String => Boolean = if (args.length > 2) {
      val pats = args(2).split(',').toSeq
      name => pats.exists(name.contains)
    } else _ => true
    val spark = Session()
    val failed = run(spark, sfDir, outDir,
      SparkEntry.byName.values.filter(q => only(q.name)).toSeq)
    spark.stop()
    exitIfFailed("verify", failed)
  }

  /** Runs each query into `outDir/<name>` (parquet), writes its declared
    * artifacts to `OracleAux.dir(sfDir, <artifact>)`, then writes
    * `outDir/oracle_sql.json` (each query's oracle, in run order) and
    * `outDir/timings.json` (per-query wall seconds, artifact writes
    * included — the decade-anchor table BASELINE.md records). A query's
    * output and artifact directories are deleted before it runs and
    * again if it throws (a body returning other artifacts than it
    * declares throws too), so a failed query leaves no output, never an
    * earlier run's, and scripts/check.py FAILs it. Returns the names of
    * the queries that threw, in run order.
    */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[Query]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = Seq.newBuilder[String]
    queries.foreach { q =>
      val name = q.name
      val dir = s"$outDir/$name"
      val written = dir +: q.artifacts.map(OracleAux.dir(sfDir, _))
      def clear(): Unit = written.foreach(d =>
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively())
      clear()
      // repartition(1), NOT coalesce(1): both emit the single part
      // file the oracle compare reads, but coalesce folds the final
      // compute stage into the write task — at sf1.0 that serialized
      // dedup_containment's per-pair array_intersect verify onto one
      // core (~20 min for work that is ~1 min at 32-way). The
      // round-robin shuffle moves only RESULT rows, so its cost is
      // output-sized while upstream keeps full parallelism.
      val t0 = System.nanoTime()
      try {
        val out = q.body(spark, sfDir)
        require(out.artifacts.map(_._1).sorted == q.artifacts.sorted,
          s"artifacts returned differ from ${q.artifacts.mkString(",")}")
        out.frame.repartition(1).write.mode("overwrite").parquet(dir)
        out.artifacts.foreach { case (a, df) =>
          df.write.mode("overwrite").parquet(OracleAux.dir(sfDir, a)) }
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        clear()
        failed += name
      }
    }
    val json = queries
      .map(q => s"${jsonString(q.name)}: ${jsonString(q.oracle)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // formatLocal(Locale.ROOT): the default-locale format would emit
    // comma decimals (0,123) under e.g. de_DE — invalid JSON, the same
    // failure class the jsonString control-char escapes guard against
    val tJson = timings
      .map { case (k, v) =>
        s"${jsonString(k)}: ${"%.3f".formatLocal(java.util.Locale.ROOT, v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/timings.json"), tJson)
    failed.result()
  }

  /** Prints the failed names and exits 1 when there are any. */
  private[graft] def exitIfFailed(tag: String, failed: Seq[String]): Unit =
    if (failed.nonEmpty) {
      System.err.println(
        s"[$tag] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
