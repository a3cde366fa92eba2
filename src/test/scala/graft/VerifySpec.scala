package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {

  test("a query that throws is reported failed and leaves no output, " +
    "not an earlier run's") {
    val out = Files.createTempDirectory("graft_verify").toFile
    try {
      // an earlier run's output for the query that will now throw
      spark.range(1).write.parquet(s"$out/throws")
      val registry: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "good" -> ((s, _) => s.range(3).toDF("id")),
        "throws" -> ((_, _) => throw new IllegalStateException("seeded")))
      val failed = Verify.run(spark, sf(), out.getPath, registry,
        Seq("good" -> "SELECT 1", "throws" -> "SELECT 2"))
      assert(failed == Seq("throws"))
      assert(!new File(out, "throws").exists(),
        "the stale directory must be gone")
      assert(spark.read.parquet(s"$out/good").count() == 3)
      assert(new File(out, "oracle_sql.json").exists())
    } finally new scala.reflect.io.Directory(out).deleteRecursively()
  }
}
