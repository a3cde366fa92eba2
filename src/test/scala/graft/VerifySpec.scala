package graft

import java.io.File
import java.nio.file.Files
import java.util.UUID
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, rand, sum, xxhash64}
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

  /** A fresh sfDir namespace, so each test owns its artifact dirs. */
  private def freshSf(): String = s"/verify/spec-${UUID.randomUUID()}"

  private def withOut(body: File => Unit): Unit = {
    val out = Files.createTempDirectory("graft_verify").toFile
    try body(out) finally new scala.reflect.io.Directory(out).deleteRecursively()
  }

  test("a stale artifact from an earlier run is gone before the query " +
    "runs, and Verify writes the artifact the body returns") {
    withOut { out =>
      val sfDir = freshSf()
      val aux = OracleAux.dir(sfDir, "art")
      spark.range(5).write.parquet(aux)
      var staleSeen: Option[Boolean] = None
      val q = Query("with_artifact", Seq("art"), (s, _) => {
        staleSeen = Some(new File(aux).exists())
        val a = s.range(2).toDF("id")
        Query.Out(a, Seq("art" -> a))
      }, "SELECT 1")
      assert(Verify.run(spark, sfDir, out.getPath, Seq(q)).isEmpty)
      assert(staleSeen.contains(false), "the body ran next to a stale artifact")
      assert(spark.read.parquet(aux).count() == 2)
      new scala.reflect.io.Directory(new File(aux)).deleteRecursively()
    }
  }

  test("an artifact whose write throws, or an undeclared artifact, fails " +
    "the query and leaves no output") {
    withOut { out =>
      val sfDir = freshSf()
      spark.range(1).write.parquet(s"$out/bad_write")
      val throwing = Query("bad_write", Seq("ok", "boom"), (s, _) =>
        Query.Out(s.range(3).toDF("id"), Seq(
          "ok" -> s.range(1).toDF("id"),
          "boom" -> s.range(4).selectExpr(
            "CAST(assert_true(id < 0, 'seeded') AS BIGINT) AS x"))),
        "SELECT 1")
      val undeclared = Query("undeclared", (s, _) =>
        Query.Out(s.range(3).toDF("id"), Seq("extra" -> s.range(1).toDF())),
        "SELECT 2")
      assert(Verify.run(spark, sfDir, out.getPath,
        Seq(throwing, undeclared)) == Seq("bad_write", "undeclared"))
      for (name <- Seq("bad_write", "undeclared"))
        assert(!new File(out, name).exists(), name)
      for (a <- Seq("ok", "boom", "extra"))
        assert(!new File(OracleAux.dir(sfDir, a)).exists(), a)
    }
  }

  test("a pinned artifact holds exactly the rows the output consumed") {
    withOut { out =>
      val sfDir = freshSf()
      def digest(df: DataFrame) = df.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("id"), col("r")).cast("decimal(38,0)")).as("h"))
      // rand() without a seed differs on every evaluation: only the pin
      // makes the output's rows and the artifact's rows the same rows
      val q = Query("pinned", Seq("pin"), (s, _) => {
        val pin = Checkpoints.checkpoint(
          s.range(0, 1000, 1, 4).select(col("id"), rand().as("r")))
        Query.Out(digest(pin), Seq("pin" -> pin))
      }, "SELECT 1")
      assert(Verify.run(spark, sfDir, out.getPath, Seq(q)).isEmpty)
      val consumed = spark.read.parquet(s"$out/pinned").head()
      val aux = OracleAux.dir(sfDir, "pin")
      assert(consumed.getLong(0) == 1000L)
      assert(digest(spark.read.parquet(aux)).head() == consumed)
      new scala.reflect.io.Directory(new File(aux)).deleteRecursively()
    }
  }
}
