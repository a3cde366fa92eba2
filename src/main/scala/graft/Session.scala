package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session, shared by every main and the
  * test suites:
  *  - `local[cpus]` with cpus shuffle partitions, UTC, UI off, WARN logs;
  *  - the caller's own confs, then `SPARK_GRAFT_CONF` on top;
  *  - `SPARK_GRAFT_CHECKPOINT_DIR` as the reliable checkpoint dir;
  *  - the graft extensions ([[graft.functions.GraftExtensions.register]]).
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Parse `SPARK_GRAFT_CONF`: k=v Spark confs for dev-loop invariance
    * runs (e.g. `spark.sql.adaptive.enabled=false` proves no result
    * depends on AQE's runtime re-planning). Separator contract: ';' is
    * canonical — any ';' in the raw string selects ';' mode, where
    * values may contain commas (codec lists, extension chains). A
    * string with no ';' splits on ',' for back-compat with every
    * recorded battery leg; in that mode values must not contain ';' (a
    * semicolon-valued conf must be passed in ';' mode, e.g. by
    * appending a trailing ';').
    */
  def parseConf(raw: String): Seq[(String, String)] = {
    val sep = if (raw.contains(';')) ';' else ','
    raw.split(sep).toSeq.filter(_.contains('=')).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }
  }

  def apply(confs: (String, String)*): SparkSession = {
    val n = cpus.toString
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    (confs ++ sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConf))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // with a dir set, every graft.Checkpoints call site takes the
    // cluster branch (df.checkpoint → dir) instead of localCheckpoint —
    // the battery leg that exercises the deployment posture
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
