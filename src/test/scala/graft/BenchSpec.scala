package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.queries.{OracleAux, Query}

class BenchSpec extends SparkSpec {

  test("a filtered Bench profiles every timed query, keeps the compact " +
    "line's keys, and still reports a query that throws") {
    val out = Files.createTempFile("graft_bench", ".json")
    try {
      val picked = Bench.selected(Some("graph_kcore_peel,join_bloom_pruned,tpch_q1_pricing"))
      assert(picked.map(_.name).toSet ==
        Set("graph_kcore_peel", "join_bloom_pruned", "tpch_q1_pricing_summary"))
      val throwing = Query("bench_throws",
        (_, _) => throw new IllegalStateException("seeded"), "SELECT 1")
      val (full, compact) =
        Bench.run(spark, sf(), picked :+ throwing, 1, out.toString)
      val json = new ObjectMapper()
      val f = json.readTree(full)
      assert(json.readTree(Files.readString(out)) == f,
        "the full JSON file must hold the returned line")

      val timed = f.get("queries").fieldNames.asScala.toSeq
      assert(timed == picked.map(_.name).sorted)
      assert(f.get("profile").fieldNames.asScala.toSeq == timed)
      for (name <- timed) {
        val p = f.get("profile").get(name)
        val fields = p.fieldNames.asScala.toSeq
        assert(fields == Seq("construct_s", "plan_s", "exec_s", "jobs",
          "stages", "tasks", "one_task_stage_s", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes", "task_ms_max",
          "task_ms_median"), name)
        for (k <- fields)
          assert(p.get(k).isNumber && java.lang.Double.isFinite(
            p.get(k).asDouble), s"$name.$k = ${p.get(k)}")
        // construction and execution split the timed wall
        val wall = f.get("queries").get(name).asDouble
        assert(math.abs(p.get("construct_s").asDouble +
          p.get("exec_s").asDouble - wall) <= 0.0015, name)
        assert(p.get("plan_s").asDouble <= p.get("exec_s").asDouble, name)
        assert(p.get("jobs").asInt >= 1 && p.get("tasks").asInt >= 1, name)
      }

      val (_, kcoreJobs) = JobCounter.count(spark.sparkContext)(
        SparkEntry.queries("graph_kcore_peel")(spark, sf()).count())
      assert(f.get("profile").get("graph_kcore_peel").get("jobs").asInt ==
        kcoreJobs)

      assert(f.get("errors").get("bench_throws").asText == "seeded")
      val c = json.readTree(compact)
      assert(c.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
        "n", "errors", "error_count", "runs", "topk_rewrite_fires",
        "calibration_sec", "calibration_samples", "canary_mean",
        "value_canary_norm", "pass_totals_norm", "canary_mean_all",
        "value_canary_norm_all", "ambient_unstable", "rerun_recommended",
        "sf", "full_json"))
      assert(c.get("n").asInt == 3 && c.get("error_count").asInt == 1)
      assert(c.get("errors").get("bench_throws").asText == "seeded")
    } finally Files.deleteIfExists(out)
  }

  test("a filtered Bench run of sim_topk_lsh writes no aux directory, and " +
    "its profiled jobs equal JobCounter's count for the same call") {
    val out = Files.createTempFile("graft_bench", ".json")
    val cands = new java.io.File(OracleAux.dir(sf(), "lsh_cands"))
    val root = cands.getParentFile.getParentFile
    def dirs(): Set[String] =
      if (!root.exists()) Set.empty
      else Files.walk(root.toPath).iterator.asScala
        .filter(Files.isDirectory(_)).map(_.toString).toSet
    try {
      new scala.reflect.io.Directory(cands).deleteRecursively()
      val before = dirs()
      val picked = Bench.selected(Some("sim_topk_lsh"))
      assert(picked.map(_.name) == Seq("sim_topk_lsh"))
      val (full, _) = Bench.run(spark, sf(), picked, 1, out.toString)
      assert(dirs() -- before == Set.empty[String])
      val (_, jobs) = JobCounter.count(spark.sparkContext)(
        SparkEntry.queries("sim_topk_lsh")(spark, sf()).count())
      assert(new ObjectMapper().readTree(full).get("profile")
        .get("sim_topk_lsh").get("jobs").asInt == jobs)
    } finally Files.deleteIfExists(out)
  }
}
