package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Random
import graft.queries.Query

/** Seed-fixed cross-engine divergence fuzzer for the money-sum class
  * (VERDICT r13 task #3).
  *
  * The r13 sf1.0 sweep proved `round(sum(double), 2)` diverges between
  * Spark and DuckDB when a float sum lands one ulp from a .xx5
  * boundary (accumulation order differs → last-ulp differs → half-up
  * rounding flips). The fix rule — sum money in EXACT INTEGER UNITS
  * (cents × discount/tax hundredths as DECIMAL(w,0)), convert to
  * double once at the end — was applied to the queries a sweep caught.
  * This fuzzer generalizes the find: a deterministic generator (fixed
  * seed 42) emits ~200 random agg/rounding/group shapes over lineitem
  * — sum/avg over price×(1±disc)(1±tax) chains, decimal widths 19–38,
  * null mixes, HAVING thresholds, final-presentation roundings 0–4dp —
  * each as ONE SQL text run verbatim on BOTH engines (Spark via temp
  * view, DuckDB via scripts/check.py's oracle compare).
  *
  * `rule` mode (the battery gate): every case spelled per the
  * integer-units rule. 200/200 must hash-match — this is the claim
  * that the rule is order-independent and engine-portable across the
  * whole shape space, not just the queries a sweep happened to catch.
  * Note the rule-spelled cases still exercise the two remaining
  * cross-engine double ops — DECIMAL→DOUBLE cast and round(identical
  * double, d) — so a divergence in THOSE layers (e.g. the engines'
  * round() disagreeing on a binary value whose ×10^d product floats
  * onto an exact .5) would surface here.
  * The pattern the rule replaces, `round(sum(double chain), d)` over
  * the same cases, diverged on 1/200 at sf0.01 and 0/200 at sf0.1 and
  * sf1.0 (BASELINE_HISTORY.md "Money-sum hardening" and "Round-14
  * standing battery") — a boundary lottery that green runs never clear.
  *
  * Usage (exits 1 and names the cases that threw, if any):
  * {{{
  * sbt "runMain graft.MoneyFuzz <sfDir> <outDir> [rule|avgthr|ratio] [nCases]"
  * python3 scripts/check.py <sfDir> <outDir>
  * }}}
  *
  * Mode `avgthr` ([[avgThrCases]]) watches the q22
  * avg-threshold knife edge — membership decided by a double `avg()`
  * comparison while output sums stay rule-exact.
  *
  * This is a test harness, not an operator: the graded library surface
  * is unchanged.
  */
object MoneyFuzz {

  /** `oracle` carries a per-engine DuckDB twin when the shared-text
    * discipline can't hold (ratio mode: integral division is `div` on
    * DECIMAL(38,0) in Spark, `//` on HUGEINT in DuckDB). None → the
    * Spark text runs verbatim on both engines. `df`, when present,
    * REPLACES the Spark-side SQL with a DataFrame build through the
    * production helper (`exactRound6Ratio`) — so the fuzzer watches
    * the code registry queries actually run, not a SQL re-spelling of
    * it (r16 ADVICE: the text form carried its own `+ 0.0` and so
    * could never catch a helper signed-zero regression). */
  final case class Case(name: String, sql: String,
                        oracle: Option[String] = None,
                        df: Option[SparkSession => DataFrame] = None)

  /** `avgthr` mode (r15, VERDICT r14 optional #8): the q22 class — a
    * row/group's MEMBERSHIP decided by comparing a raw double measure
    * against an `avg()`-derived double threshold (global or
    * correlated-per-group scalar subquery), while the OUTPUT money sums
    * stay rule-spelled exact. The caveat documented at the q22 query
    * (`TpchQueries.q22Sql` scaladoc) is that a cross-engine flip needs
    * a measure within one ulp of the order-dependent float mean — a
    * measure-zero knife edge. These shapes make that argument
    * fuzzer-watched instead of just argued: any engine pair whose avg
    * ulp-drift ever lands ON a measure value flips a row into/out of a
    * group and fails the exact `v_mod`/`n_rows` compare.
    */
  def avgThrCases(n: Int, seed: Long = 43L): Seq[Case] = {
    val rng = new Random(seed)
    (0 until n).map { i =>
      val chain = 1 + rng.nextInt(2) // disc, disc×tax
      val dblChain = chain match {
        case 1 => "l_extendedprice * (1 - l_discount)"
        case _ => "l_extendedprice * (1 - l_discount) * (1 + l_tax)"
      }
      val cents = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
      val discH = "CAST(round(l_discount * 100, 0) AS BIGINT)"
      val taxH = "CAST(round(l_tax * 100, 0) AS BIGINT)"
      val units = chain match {
        case 1 => s"CAST($cents * (100 - $discH) AS DECIMAL(38,0))"
        case _ => s"CAST($cents * (100 - $discH) * (100 + $taxH)" +
          " AS DECIMAL(38,0))"
      }
      val (groupSel, groupBy) = rng.nextInt(4) match {
        case 0 => (Seq("l_returnflag"), Seq("l_returnflag"))
        case 1 => (Seq("CAST(l_suppkey % 10 AS BIGINT) AS g1"), Seq("g1"))
        case 2 => (Seq("CAST(l_orderkey % 97 AS BIGINT) AS g1"), Seq("g1"))
        case 3 => (Nil, Nil)
      }
      val factor = Seq("0.05", "0.09", "0.5", "1.0", "1.5")(rng.nextInt(5))
      // the q22 spelling: the threshold avg over a SLICE, plain double;
      // %T% marks the alias slot (d2. inside the correlated subquery,
      // empty in the global form — keeps inner-scope binding explicit)
      val slice: Option[String] = rng.nextInt(3) match {
        case 0 => None
        case 1 => Some(s"%T%l_partkey % ${3 + rng.nextInt(5)} = 0")
        case 2 => Some("%T%l_discount > 0.02")
      }
      // ~40% correlated (per-key avg, q22's exact shape) when grouped
      val correlated = groupBy.nonEmpty && rng.nextInt(10) < 4
      val corrKey = if (groupBy == Seq("l_returnflag")) "l_returnflag"
        else if (groupSel.headOption.exists(_.contains("l_suppkey")))
          "l_suppkey % 10" else "l_orderkey % 97"
      val thr =
        if (correlated)
          s"$factor * (SELECT avg(d2.d) FROM t d2 WHERE d2.k = t.k" +
            slice.map(p => " AND " + p.replace("%T%", "d2.")).getOrElse("") +
            ")"
        else
          s"$factor * (SELECT avg(d) FROM t" +
            slice.map(p => " WHERE " + p.replace("%T%", "")).getOrElse("") +
            ")"
      val sel = (groupSel ++ Seq(
        "CAST(sum(u) % 999999937 AS BIGINT) AS v_mod",
        "count(*) AS n_rows")).mkString(",\n  ")
      val gb = if (groupBy.nonEmpty)
        s"\nGROUP BY ${groupBy.mkString(", ")}" else ""
      val sql =
        s"""WITH t AS (SELECT l_returnflag, l_orderkey, l_partkey,
           |  l_suppkey, l_discount, ($corrKey) AS k,
           |  $units AS u, $dblChain AS d FROM lineitem)
           |SELECT
           |  $sel
           |FROM t
           |WHERE d > $thr$gb""".stripMargin
      Case(f"avgthr_$i%03d", sql)
    }
  }

  /** `ratio` mode (r16, VERDICT r15 task #3): the round-6-ratio
    * boundary class generalized the way `rule` generalized the r13
    * money find. The r15 sf10 census caught `round(Σ/n, 6)` flipping
    * between engines when the exact rational lands ON a .5×10⁻⁶
    * boundary (1200/500k docs in text_unigram_logprob); the fix —
    * [[graft.text.TextAnalysis.exactRound6Ratio]]: z₆ = sign(num) ·
    * ((2·|num|·10⁶ + den) div (2·den)), ONE double division at the end
    * — was applied to the queries the census happened to catch. This
    * mode fuzzes the whole shape space: seed-fixed int-sum numerators
    * (positive, mixed-sign, symmetric-sign — zero sums occur — and
    * negative-only micro-nat-like), count-derived denominators
    * including the boundary-dense forms (den = k·10⁶·count makes every
    * odd-constant group land EXACTLY on the .5 micro boundary), and
    * group shapes down to ~10-row groups where boundary hits are
    * frequent. Spark runs the PRODUCTION helper
    * (`TextAnalysis.exactRound6Ratio` via a DataFrame build — r17: the
    * earlier SQL-text form re-spelled the formula and so could not
    * catch helper regressions like the signed zero);
    * the DuckDB twin runs the same integer formula over HUGEINT/`//`,
    * and negative-only cases with den = 10⁶·count use the registry's
    * negated spelling (`-CAST((-2·Σ + n) // (2n) AS DOUBLE)/1e6 + 0.0`)
    * so the two spellings used in production oracles are cross-checked
    * against each other, signed zeros included (`+ 0.0` per the r16
    * advice fix). 200/200 hash-match is the gate.
    */
  def ratioCases(n: Int, seed: Long = 44L): Seq[Case] = {
    val rng = new Random(seed)
    (0 until n).map { i =>
      val cents = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
      val qty = "CAST(l_quantity AS BIGINT)"
      val fam = rng.nextInt(5)
      val v = fam match {
        case 0 => cents
        case 1 => // mixed-sign affine combination
          val a = { val x = rng.nextInt(19) - 9; if (x == 0) 7 else x }
          val b = rng.nextInt(1999) - 999
          s"($a) * $cents + ($b) * $qty"
        case 2 => // symmetric sign by key parity: zero sums occur
          val k = 1 + rng.nextInt(997)
          s"CASE WHEN l_partkey % 2 = 0 THEN $qty * $k" +
            s" ELSE -($qty * $k) END"
        case 3 => // negative-only (micro-nat-like, the logprob shape)
          val k = 1 + rng.nextInt(9999)
          s"-($qty * $k + ($cents % 1000))"
        case 4 => // odd constant: with den = m·10⁶·count every group
          // lands EXACTLY on the .5×10⁻⁶ boundary when m | (v·…)/2 —
          // the knife edge itself, deterministic, every group
          s"${2 * rng.nextInt(500) + 1}"
      }
      val denFam = rng.nextInt(5)
      val den = Seq("1000000 * count(*)", "2000000 * count(*)",
        "4000000 * count(*)", "count(*)", "2 * count(*)")(denFam)
      val (groupSel, groupBy) = rng.nextInt(4) match {
        case 0 => (Nil, Nil)
        case 1 => (Seq("l_returnflag"), Seq("l_returnflag"))
        case 2 => (Seq("CAST(l_orderkey % 4999 AS BIGINT) AS g1"), Seq("g1"))
        case 3 => (Seq("CAST(l_suppkey % 100 AS BIGINT) AS g1"), Seq("g1"))
      }
      // shared text modulo the big-integer type and the div spelling
      def text(big: String, divOp: String): String = {
        val gcols = groupBy.mkString(", ")
        val gb = if (groupBy.nonEmpty) s"\nGROUP BY $gcols" else ""
        val gsel = if (groupBy.nonEmpty) gcols + ",\n  " else ""
        s"""WITH t AS (SELECT ${(groupSel :+ s"$v AS v").mkString(",\n  ")}
           |  FROM lineitem),
           |g AS (SELECT ${gsel}CAST(sum(v) AS $big) AS s,
           |  CAST($den AS $big) AS den, count(*) AS n_rows
           |  FROM t$gb)
           |SELECT ${gsel}n_rows,
           |  (CASE WHEN s < 0 THEN -1.0 ELSE 1.0 END)
           |    * CAST((2 * abs(s) * 1000000 + den) $divOp (2 * den)
           |           AS DOUBLE) / 1000000.0 + 0.0 AS r6
           |FROM g""".stripMargin
      }
      // registry negated spelling for the production logprob shape:
      // num ≤ 0, den = 10⁶·n — cross-checks the two spellings
      val oracle =
        if (fam == 3 && denFam == 0) {
          val gcols = groupBy.mkString(", ")
          val gb = if (groupBy.nonEmpty) s"\nGROUP BY $gcols" else ""
          val gsel = if (groupBy.nonEmpty) gcols + ",\n  " else ""
          s"""WITH t AS (SELECT ${(groupSel :+ s"$v AS v").mkString(",\n  ")}
             |  FROM lineitem)
             |SELECT ${gsel}count(*) AS n_rows,
             |  -CAST((-2 * CAST(sum(v) AS HUGEINT) + count(*))
             |        // (2 * count(*)) AS DOUBLE) / 1000000.0 + 0.0 AS r6
             |FROM t$gb""".stripMargin
        } else text("HUGEINT", "//")
      // Spark side: the PRODUCTION helper over a DataFrame build —
      // identical grouping/den shapes, but the round-half-away
      // arithmetic is graft.text.TextAnalysis.exactRound6Ratio itself
      // (what every registry ratio query runs), so a helper regression
      // (e.g. the signed-zero normalizer) fails the fuzz directly
      val dfBuild: SparkSession => DataFrame = { s =>
        import org.apache.spark.sql.functions._
        val t = s.sql(
          s"SELECT ${(groupSel :+ s"$v AS v").mkString(", ")} FROM lineitem")
        val denCol = Seq(
          lit(1000000L) * count(lit(1)), lit(2000000L) * count(lit(1)),
          lit(4000000L) * count(lit(1)), count(lit(1)),
          lit(2L) * count(lit(1)))(denFam)
        val grouped =
          if (groupBy.nonEmpty) t.groupBy(groupBy.map(col): _*)
          else t.groupBy()
        grouped
          .agg(count(lit(1)).as("n_rows"),
            graft.text.TextAnalysis.exactRound6Ratio(
              sum(col("v")), denCol).as("r6"))
          .select((groupBy.map(col) :+ col("n_rows") :+ col("r6")): _*)
      }
      // `sql` is RECORD-ONLY here (r17 ADVICE): the runner always
      // executes `dfBuild` when `df` is present and the oracle dump
      // always prefers `oracle` — a Spark SQL re-spelling stored in
      // the executed slot can silently drift from the DataFrame build
      // it claims to mirror, so store an explicit marker instead
      Case(f"ratio_$i%03d",
        "-- record-only: runner executes the dfBuild (exactRound6Ratio); " +
          "DuckDB twin is in `oracle`",
        Some(oracle), Some(dfBuild))
    }
  }

  /** Deterministic case set: identical for a given (seed, n, mode). */
  def cases(n: Int, mode: String, seed: Long = 42L): Seq[Case] = {
    if (mode == "avgthr") return avgThrCases(n)
    if (mode == "ratio") return ratioCases(n)
    val rng = new Random(seed)
    (0 until n).map { i =>
      // ---- random shape ------------------------------------------------
      // measure chain: price, price×(1-disc), price×(1-disc)×(1+tax)
      val chain = rng.nextInt(3)
      // null mix: none, or NULL-out rows by a key modulus (nulls must
      // flow through sum/count identically in both engines)
      val nullMix = rng.nextInt(3) match {
        case 0 => None
        case 1 => Some(("l_partkey", 5 + rng.nextInt(7)))
        case 2 => Some(("l_suppkey", 5 + rng.nextInt(7)))
      }
      // grouping: global, low-card, 2-col, modulus keys (97/1000-ish),
      // or a NULLIF'd key (null group must be ONE key both engines)
      val group = rng.nextInt(6)
      // aggregate: sum, avg, or both
      val agg = rng.nextInt(3)
      // decimal width for the exact units sum (19 = long-ish .. 38)
      val width = Seq(19, 28, 38)(rng.nextInt(3))
      // final presentation: unit-scaled double, round(double, d),
      // or the exact decimal itself
      val present = rng.nextInt(3)
      val digits = rng.nextInt(5) // 0..4, used when present == 1
      // HAVING threshold in exact integer units (~30% of cases)
      val having = rng.nextInt(10) < 3
      // threshold magnitude: exercises empty/near-empty groups too
      val thrUnits = (1L + rng.nextInt(1000).toLong) *
        (if (chain == 0) 100000L else if (chain == 1) 10000000L
         else 1000000000L)

      // ---- shared fragments -------------------------------------------
      val priceRaw = nullMix match {
        case Some((k, m)) =>
          s"CASE WHEN $k % $m = 0 THEN NULL ELSE l_extendedprice END"
        case None => "l_extendedprice"
      }
      // unit scale: cents, ×disc hundredths, ×tax hundredths
      val unitDiv = Seq("100.0", "10000.0", "1000000.0")(chain)

      val (groupSel, groupBy) = group match {
        case 0 => (Nil, Nil)
        case 1 => (Seq("l_returnflag"), Seq("l_returnflag"))
        case 2 => (Seq("l_returnflag", "l_linestatus"),
                   Seq("l_returnflag", "l_linestatus"))
        case 3 => (Seq("CAST(l_suppkey % 10 AS BIGINT) AS g1"), Seq("g1"))
        case 4 => (Seq("CAST(l_orderkey % 97 AS BIGINT) AS g1"), Seq("g1"))
        case 5 => (Seq("NULLIF(l_returnflag, 'R') AS g1"), Seq("g1"))
      }

      // ---- units expression --------------------------------------------
      // per-row products in BIGINT (max ~1.1e11 — far under 2^63), ONE
      // cast to DECIMAL(w,0) at the sum boundary: decimal×decimal
      // precision inference differs between engines (Spark clamps at
      // 38, DuckDB errors past 38) while BIGINT arithmetic is identical
      val cents = s"CAST(round($priceRaw * 100, 0) AS BIGINT)"
      val discH = "CAST(round(l_discount * 100, 0) AS BIGINT)"
      val taxH  = "CAST(round(l_tax * 100, 0) AS BIGINT)"
      val units = chain match {
        case 0 => s"CAST($cents AS DECIMAL($width,0))"
        case 1 => s"CAST($cents * (100 - $discH) AS DECIMAL($width,0))"
        case 2 => s"CAST($cents * (100 - $discH) * (100 + $taxH)" +
          s" AS DECIMAL($width,0))"
      }

      val sumD = s"CAST(sum(u) AS DOUBLE) / $unitDiv"
      val sumExpr = present match {
        case 0 => s"$sumD AS v_sum"
        case 1 => s"round($sumD, $digits) AS v_sum"
        // exact-integer presentation: a prime modulus makes the
        // compare exact (DECIMAL % stays decimal-exact in BOTH
        // engines) where the double cast would mask last-digit drift
        case 2 => s"CAST(sum(u) % 999999937 AS BIGINT) AS v_sum_mod,\n" +
          s"  $sumD AS v_sum_dbl"
      }
      val avgExpr = present match {
        case 2 => s"CAST(sum(u) % 999999937 AS BIGINT) AS v_tot_mod,\n" +
          "  count(u) AS n_u"
        case _ => s"$sumD / count(u) AS v_avg"
      }
      val aggExprs = agg match {
        case 0 => Seq(sumExpr)
        case 1 => Seq(avgExpr)
        case 2 => Seq(sumExpr, avgExpr).distinct
      }
      val sel = (groupSel ++ aggExprs :+ "count(*) AS n_rows")
        .mkString(",\n  ")
      val hav = if (having) s"\nHAVING sum(u) > $thrUnits" else ""
      val gb = if (groupBy.nonEmpty)
        s"\nGROUP BY ${groupBy.mkString(", ")}" else ""
      Case(f"fuzz_$i%03d",
        s"""WITH t AS (SELECT l_returnflag, l_linestatus, l_orderkey,
           |  l_partkey, l_suppkey,
           |  $units AS u FROM lineitem)
           |SELECT
           |  $sel
           |FROM t$gb$hav""".stripMargin)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val mode = if (args.length > 2) args(2) else "rule"
    val nCases = if (args.length > 3) args(3).toInt else 200
    require(Set("rule", "avgthr", "ratio")(mode), s"bad mode $mode")

    val spark = Session()

    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("lineitem")

    // the Verify loop: stale case dirs cleared, oracle_sql.json written
    // with the same JSON escaper, thrown cases returned
    val all = cases(nCases, mode)
    val failed = Verify.run(spark, sfDir, outDir, all.map(c =>
      Query(c.name, (s, _) => c.df.fold(s.sql(c.sql))(_(s)),
        c.oracle.getOrElse(c.sql))))
    println(s"[fuzz] wrote ${all.size} $mode cases to $outDir " +
      s"(seed 42, sf=$sfDir); compare with scripts/check.py")
    spark.stop()
    Verify.exitIfFailed("fuzz", failed)
  }
}
