package graft

import java.io.File
import java.nio.file.Files
import graft.queries.{OracleAux, Query}

class VerifySpec extends SparkSpec {

  test("a query that throws is reported failed and leaves no output, " +
    "not an earlier run's") {
    val out = Files.createTempDirectory("graft_verify").toFile
    try {
      // an earlier run's output for the query that will now throw
      spark.range(1).write.parquet(s"$out/throws")
      val failed = Verify.run(spark, sf(), out.getPath, Seq(
        Query("good", (s, _) => s.range(3).toDF("id"), "SELECT 1"),
        Query("throws", (_, _) => throw new IllegalStateException("seeded"),
          "SELECT 2")))
      assert(failed == Seq("throws"))
      assert(!new File(out, "throws").exists(),
        "the stale directory must be gone")
      assert(spark.read.parquet(s"$out/good").count() == 3)
      assert(new File(out, "oracle_sql.json").exists())
    } finally new scala.reflect.io.Directory(out).deleteRecursively()
  }

  test("oracle_sql.json holds exactly the selected queries' oracles, " +
    "in run order, rendered when written") {
    val out = Files.createTempDirectory("graft_verify").toFile
    val saved = OracleAux.sqlSfDir
    try {
      val picked = SparkEntry.byName.values.filter(_.name.startsWith("serve_"))
        .toSeq :+ Query("aux", (s, _) => s.range(1).toDF("id"),
          s"SELECT * FROM '${OracleAux.sqlDir("aux")}'")
      OracleAux.sqlSfDir = "/verify/spec"
      assert(Verify.run(spark, sf(), out.getPath, picked).isEmpty)
      val json = new String(
        Files.readAllBytes(new File(out, "oracle_sql.json").toPath), "UTF-8")
      val keys = "\"([a-z0-9_]+)\": \"".r.findAllMatchIn(json)
        .map(_.group(1)).toSeq
      assert(keys == picked.map(_.name))
      assert(json.contains(OracleAux.dir("/verify/spec", "aux")),
        "the oracle must render against the sfDir set before the write")
    } finally {
      OracleAux.sqlSfDir = saved
      new scala.reflect.io.Directory(out).deleteRecursively()
    }
  }
}
