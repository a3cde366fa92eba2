package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where the aux-oracle pattern keeps its parquet: queries whose exact
  * downstream stage DuckDB can verify only from a hash-dependent
  * intermediate (candidate pairs, fingerprints, sketch estimates) or a
  * trained model. Such a frame is a declared artifact of its record
  * ([[Query]]); [[graft.Verify]] writes it to [[dir]], and the oracle
  * reads it from [[sqlDir]]. A query body calls [[dir]] only for storage
  * that is part of its own semantics (bucketed tables, re-clustered
  * layouts, format round trips).
  *
  * Paths are a pure function of the scale-factor directory, so a Verify
  * run at sf0.01 and a Bench run at sf0.1 can execute concurrently
  * without clobbering each other's aux files. The root is overridable
  * via GRAFT_ORACLE_AUX_ROOT for fully disjoint sandboxes.
  */
object OracleAux {
  private val root: String =
    sys.env.getOrElse("GRAFT_ORACLE_AUX_ROOT", "/tmp/graft_oracle_aux")

  /** Aux directory for `name` under the namespace derived from sfDir. */
  def dir(sfDir: String, name: String): String =
    s"$root/${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}/$name"

  /** The sfDir the oracle SQL is rendered against. oracleSql is a plain
    * Map[String, String] (no sfDir parameter in the driver contract), so
    * the mains that dump it (Verify) or need parity (check scripts) set
    * this to the same sfDir the queries just ran with.
    */
  @volatile var sqlSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

  /** Aux path as it must appear inside DuckDB oracle SQL. */
  def sqlDir(name: String): String = dir(sqlSfDir, name)

  /** A driver-held k-means model as an artifact: `cell` (its position
    * in `cents`), `centroid` (double array) and `norm`. */
  def centroids(s: SparkSession, cents: Array[(Seq[Float], Double)]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case ((v, n), i) => (i, v.map(_.toDouble), n) }
      .toSeq.toDF("cell", "centroid", "norm")
  }

  /** Driver-held PQ codebooks as an artifact: `subspace`, `code`, `vec`. */
  def codebooks(s: SparkSession, cbs: Array[Array[Seq[Float]]]): DataFrame = {
    import s.implicits._
    cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cw, c) => (j, c, cw.map(_.toDouble)) }
    }.toSeq.toDF("subspace", "code", "vec")
  }

  /** A driver-held linear model as an artifact: one `w_micro` row per
    * bucket (weights × 1e9, rounded), bucket -1 the bias. */
  def linearModel(s: SparkSession, w: Array[Double], b: Double): DataFrame = {
    import s.implicits._
    ((-1 -> math.rint(b * 1e9).toLong) +:
      w.toSeq.zipWithIndex.map { case (wt, i) => i -> math.rint(wt * 1e9).toLong })
      .toDF("bucket", "w_micro")
  }
}
