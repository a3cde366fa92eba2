package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale probe (not part of the driver contract): events ×32,
  * heavier operators timed to confirm near-linear scaling.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    // optional args: comma/space-separated probe-name substrings — run
    // one operator in an isolated fresh JVM (same rationale as
    // [[ScaleCheck128]]: late-in-run numbers carry accumulated JVM
    // state, so isolation gives the honest reading)
    val pats = args.flatMap(_.split(',')).filter(_.nonEmpty)
    val only: String => Boolean =
      if (pats.isEmpty) _ => true else n => pats.exists(n.contains)
    val spark = Session()
    val sf = "/root/testdata/sf0.1"
    val mult = 32
    val e0 = graft.model.Tables.events(spark, sf)
    // replicate with disjoint user/event ids so key cardinality scales too
    val big = e0.crossJoin(spark.range(mult).select(col("id").as("rep")))
      .select((col("event_id") + col("rep") * 10000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    big.write.mode("overwrite").parquet("/tmp/events_x32.parquet")
    val ev = spark.read.parquet("/tmp/events_x32.parquet")
    println(s"rows=${ev.count()}")

    def time(name: String)(f: => Long): Unit = if (only(name)) {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }
    time("fraud_window_sum") {
      ev.groupBy(col("user_id"), window(col("ts"), "10 seconds"))
        .agg(round(sum("value"), 2).as("v")).where(col("v") > 150).count()
    }
    time("topk_rewrite_rownum") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      ev.select("user_id", "event_id", "value")
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 3).count()
    }
    time("window_sliding_sum") {
      ev.groupBy(col("user_id"), window(col("ts"), "30 seconds", "10 seconds"))
        .agg(round(sum("value"), 2).as("v")).where(col("v") > 150).count()
    }
    time("stateful_spend_batch") {
      graft.streaming.StatefulSpend.batchSpendAlerts(ev, 200.0).count()
    }
    // lateral ORDER BY+LIMIT: Catalyst decorrelates to WindowGroupLimit
    // with a map-side Partial pass, so the shuffle carries ≤3 rows per
    // user per map task and growth must stay ~linear in |events| — a
    // per-outer-row rescan (the naive lateral execution) would be
    // ×32² here. Outer side = distinct users, derived in-query on both
    // sizes so the probe compares identical shapes.
    def lateralProbe(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.createOrReplaceTempView(s"ev_lat_$tag")
      df.select(col("user_id")).distinct().createOrReplaceTempView(s"us_lat_$tag")
      time(s"lateral_topk_$tag") {
        spark.sql(
          s"""SELECT u.user_id, e.event_id, e.value
            |FROM us_lat_$tag u, LATERAL (
            |  SELECT event_id, value FROM ev_lat_$tag
            |  WHERE user_id = u.user_id
            |  ORDER BY value DESC, event_id LIMIT 3) e""".stripMargin).count()
      }
    }
    lateralProbe("x1", e0)
    lateralProbe("x32", ev)
    // SRP-LSH scale probe: embeddings ×32 with per-replica deterministic
    // sign flips (norm-preserving, decorrelates replicas so buckets stay
    // uniform and near-dup pairs stay ~within-replica). Times 1× vs 32×
    // in-run: wide-band LSH should grow ~linearly, a narrow band key
    // (2-bit) would grow ~quadratically (×1000).
    locally {
      val emb0 = graft.model.Tables.embeddings(spark, sf)
      val embBig = emb0.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * when(pmod(xxhash64(col("rep"), i), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).as("embedding"),
          col("label"))
      // 32 files: a 64 k-row parquet is one input split, which would
      // serialize the whole signature+join pipeline into a single task —
      // the probe must measure the algorithm, not an input-parallelism
      // artifact (at real scale the splits come for free)
      embBig.repartition(32).write.mode("overwrite")
        .parquet("/tmp/embeddings_x32.parquet")
      val embX = spark.read.parquet("/tmp/embeddings_x32.parquet")
      println(s"emb rows=${embX.count()}")
      // size banding per-corpus via srpPlan (the 100 TB operating rule);
      // s0=0.8 = the realistic near-dup regime. Expected growth ≈
      // n^(1+ρ) with small ρ — materially subquadratic; fixed narrow
      // keys would be ×1000 at ×32.
      def planFor(n: Long) = {
        val (bits, bands) = graft.similarity.Similarity.srpPlan(n, 0.8, 0.9,
          targetBucket = 8)
        println(s"srpPlan(n=$n): bits=$bits bands=$bands")
        (bits * bands, bands)
      }
      val (p1, b1) = planFor(emb0.count())
      time("lsh_neardups_x1") {
        graft.similarity.Similarity.cosineNearDups(emb0, "vec_id",
          "embedding", 0.8, numPlanes = p1, bands = b1).count()
      }
      val (p32, b32) = planFor(embX.count())
      time("lsh_neardups_x32") {
        graft.similarity.Similarity.cosineNearDups(embX, "vec_id",
          "embedding", 0.8, numPlanes = p32, bands = b32).count()
      }
      time("lsh_topk_x32") {
        graft.similarity.Similarity.lshTopK(
          embX.where(col("vec_id") < 8), embX, "vec_id", "embedding", 10).count()
      }
      // split-sum moment probe (round 10): the dimCorrelations hot path
      // after the hi/lo long split rework — one id self-join amplifying
      // each row to d(d−1)/2 pair cells, partial-agg'd in plain long
      // space. Growth must track input (×32, linear); a per-row decimal
      // term would show as a constant-factor cliff and a group-count
      // term as superlinear. d fixed at 16 (120 pairs) on BOTH sizes so
      // the probe measures the moment stream, not output width.
      if (Seq("dim_corr_x1", "dim_corr_x32").exists(only)) {
        def d16(e: org.apache.spark.sql.DataFrame) =
          e.select(col("vec_id"),
            slice(col("embedding"), 1, 16).as("embedding"))
        time("dim_corr_x1") {
          graft.similarity.Similarity.dimCorrelations(
            d16(emb0), "vec_id", "embedding", k = 30).count()
        }
        time("dim_corr_x32") {
          graft.similarity.Similarity.dimCorrelations(
            d16(embX), "vec_id", "embedding", k = 30).count()
        }
        // ×1024 leg: 2.05M rows → 33M exploded values → 246M pair
        // cells through the self-join — the smaller legs ride fixed
        // machinery (2k-row base corpus), this one actually stresses
        // the per-cell moment arithmetic the split rework targets.
        // The replica materializes to parquet OUTSIDE the timed
        // regions so every leg pays the same input cost.
        emb0.crossJoin(spark.range(1024).select(col("id").as("rep")))
          .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"),
            col("embedding"))
          .repartition(32).write.mode("overwrite")
          .parquet("/tmp/embeddings_x1024.parquet")
        val embK = spark.read.parquet("/tmp/embeddings_x1024.parquet")
        time("dim_corr_x1024") {
          graft.similarity.Similarity.dimCorrelations(
            d16(embK), "vec_id", "embedding", k = 30).count()
        }
        // head-to-head at the SAME volume, agg isolated: the
        // pre-round-10 per-row decimal(38,0) product sums (the ed71c05
        // form) vs the round-10 hi/lo split — identical explode +
        // self-join + 3-product group-by, only the sum arithmetic
        // differs; the split leg runs FIRST so JVM/cache warmup, if
        // anything, favors the decimal leg
        def momentStream = {
          val x = d16(embK).select(col("vec_id").as("__id"),
              posexplode(col("embedding")).as(Seq("dim", "v")))
            .select(col("__id"), col("dim"),
              round(col("v").cast("double") * 1e6).cast("long").as("__xm"))
          val a = x.select(col("__id"), col("dim").as("dim_a"),
            col("__xm").as("__xa"))
          val b = x.select(col("__id"), col("dim").as("dim_b"),
            col("__xm").as("__xb"))
          a.join(b, "__id").where(col("dim_a") < col("dim_b"))
            .groupBy(col("dim_a"), col("dim_b"))
        }
        // every sum output is referenced downstream — a bare .count()
        // would let ColumnPruning DROP the aggregate expressions and
        // time only the group-by
        time("dim_corr_agg_split_x1024") {
          import graft.similarity.Similarity.{splitSumHi, splitSumLo}
          momentStream.agg(
              splitSumHi(col("__xa") * col("__xa")).as("xxh"),
              splitSumLo(col("__xa") * col("__xa")).as("xxl"),
              splitSumHi(col("__xb") * col("__xb")).as("yyh"),
              splitSumLo(col("__xb") * col("__xb")).as("yyl"),
              splitSumHi(col("__xa") * col("__xb")).as("xyh"),
              splitSumLo(col("__xa") * col("__xb")).as("xyl"))
            .selectExpr("sum(xxh + xxl + yyh + yyl + xyh + xyl) as chk")
            .collect(); 120L
        }
        time("dim_corr_agg_decimal_x1024") {
          momentStream.agg(
              sum((col("__xa") * col("__xa")).cast("decimal(38,0)")).as("sxx"),
              sum((col("__xb") * col("__xb")).cast("decimal(38,0)")).as("syy"),
              sum((col("__xa") * col("__xb")).cast("decimal(38,0)")).as("sxy"))
            .selectExpr("sum(sxx + syy + sxy) as chk")
            .collect(); 120L
        }
      }
      // Silhouette probe: FIXED 8-cell model, corpus ×32 — one map-only
      // pass + an 8-row agg, so time should grow at most linearly (and
      // mostly ride input parallelism). Gate tests the suffixed timed
      // names (the only() contract).
      if (Seq("silhouette_x1", "silhouette_x32").exists(only)) {
        val cents = graft.similarity.Similarity.trainCentroids(
          emb0, "vec_id", "embedding", numCells = 8, iters = 3)
        time("silhouette_x1") {
          graft.similarity.Similarity.clusterSilhouette(
            emb0, "vec_id", "embedding", cents).count()
        }
        time("silhouette_x32") {
          graft.similarity.Similarity.clusterSilhouette(
            embX, "vec_id", "embedding", cents).count()
        }
      }
      // MMR probe: candK fixed at 30, query count ×32 — each query's
      // greedy loop is one MapGroups task, so wall time should stay
      // near-flat as queries grow into the core count. Candidate
      // construction (the upstream retriever) is materialized outside
      // the timed region.
      if (Seq("mmr_x1", "mmr_x32").exists(only)) {
        def candsFor(qn: Long, path: String): Unit =
          graft.similarity.Similarity.bruteForceTopK(
            emb0.where(col("vec_id") < qn), emb0, "vec_id", "embedding",
            k = 30)
            .select(col("query_id"), col("neighbor_id").as("cand_id"),
              col("score").as("rel"))
            .join(emb0.select(col("vec_id").as("cand_id"),
              col("embedding").cast("array<double>").as("vec")), "cand_id")
            .write.mode("overwrite").parquet(path)
        candsFor(4, "/tmp/mmr_c1.parquet")
        candsFor(128, "/tmp/mmr_c32.parquet")
        time("mmr_x1") {
          graft.similarity.Similarity.mmrRerank(
            spark.read.parquet("/tmp/mmr_c1.parquet"),
            k = 10, lambda = 0.7).count()
        }
        time("mmr_x32") {
          graft.similarity.Similarity.mmrRerank(
            spark.read.parquet("/tmp/mmr_c32.parquet"),
            k = 10, lambda = 0.7).count()
        }
      }
      // IVF probe, ivfPlan-sized per corpus, build and query timed
      // SEPARATELY: build (assign n rows against √(n·nprobe) centroids)
      // is the one-time n^1.5 index cost amortized over queries; the
      // per-query path must grow ~√n. Training reads a hash sample
      // (trainSampleModFor), never the corpus.
      def ivfProbe(tag: String, emb: org.apache.spark.sql.DataFrame): Unit = {
        val n = emb.count()
        val (cells, nprobe) = graft.similarity.Similarity.ivfPlan(n)
        val mod = graft.similarity.Similarity.trainSampleModFor(n, cells)
        println(s"ivfPlan(n=$n): cells=$cells nprobe=$nprobe sampleMod=$mod")
        var built: org.apache.spark.sql.DataFrame = null
        var model: Array[(Seq[Float], Double)] = null
        time(s"ivf_build_$tag") {
          val (m, c) = graft.similarity.Similarity.ivfBuild(
            emb, "vec_id", "embedding", cells, iters = 1, sampleMod = mod)
          model = m
          c.write.mode("overwrite").parquet(s"/tmp/ivf_cells_$tag.parquet")
          built = spark.read.parquet(s"/tmp/ivf_cells_$tag.parquet")
          built.count()
        }
        time(s"ivf_query_$tag") {
          graft.similarity.Similarity.rerankTopK(
            graft.similarity.Similarity.ivfProbe(
              emb.where(col("vec_id") < 8), "vec_id", "embedding",
              model, built, nprobe),
            emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", 10).count()
        }
      }
      // build/query (and train/dedup below) share state across time()
      // calls — gate each probe pair on the name filter as a unit.
      // The gate tests the ACTUAL timed names (size suffix included):
      // only() is a substring match on user patterns, so testing the
      // bare base name would silently skip the pair when the caller
      // passes a full probe name like `ivf_build_x32`.
      if (Seq("ivf_build_x1", "ivf_build_x32",
              "ivf_query_x1", "ivf_query_x32").exists(only)) {
        ivfProbe("x1", emb0)
        ivfProbe("x32", embX)
      }
      // PQ probe, build (train sample-sized + encode the corpus to
      // (id, subspace, code) rows — the one-time 32×-compression pass)
      // and the two-stage query (ADC shortlist over the code table +
      // exact re-rank of 50·|Q| rows) timed separately: the query path
      // reads codes, never float vectors, so it must track the code
      // table linearly with a query-sized re-rank on top
      def pqProbe(tag: String, emb: org.apache.spark.sql.DataFrame): Unit = {
        val n = emb.count()
        val mod = graft.similarity.Similarity.trainSampleModFor(n, 16)
        var cbs: Array[Array[Seq[Float]]] = null
        var codes: org.apache.spark.sql.DataFrame = null
        time(s"pq_build_$tag") {
          cbs = graft.similarity.Similarity.pqTrain(emb, "vec_id",
            "embedding", m = 8, k = 16, iters = 1, sampleMod = mod)
          graft.similarity.Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
            .write.mode("overwrite").parquet(s"/tmp/pq_codes_$tag.parquet")
          codes = spark.read.parquet(s"/tmp/pq_codes_$tag.parquet")
          codes.count()
        }
        time(s"pq_query_$tag") {
          graft.similarity.Similarity.pqShortlistRerank(
            emb.where(col("vec_id") < 8), codes, cbs, emb,
            "vec_id", "embedding", k = 10, shortlist = 50).count()
        }
      }
      if (Seq("pq_build_x1", "pq_build_x32",
              "pq_query_x1", "pq_query_x32").exists(only)) {
        pqProbe("x1", emb0)
        pqProbe("x32", embX)
      }
      // SemDeDup probe: cells scale with the corpus (constant rows per
      // cell — the paper's discipline), so within-cell pairwise work
      // stays ~linear overall; a fixed cell count would grow ×32² here
      def semProbe(tag: String, emb: org.apache.spark.sql.DataFrame): Unit = {
        val n = emb.count()
        val cells = math.max(8, (n / 625L).toInt)
        println(s"semanticDedup(n=$n): cells=$cells")
        var model: Array[(Seq[Float], Double)] = null
        time(s"semdedup_train_$tag") {
          model = graft.similarity.Similarity.trainCentroids(
            emb, "vec_id", "embedding", cells, iters = 1)
          model.length.toLong
        }
        time(s"semdedup_$tag") {
          graft.similarity.Similarity.semanticDedup(
            emb, "vec_id", "embedding", model, 0.8)
            .where(!col("keep")).count()
        }
      }
      if (Seq("semdedup_train_x1", "semdedup_train_x32",
              "semdedup_x1", "semdedup_x32").exists(only)) {
        semProbe("x1", emb0)
        semProbe("x32", embX)
      }
    }
    // Text/dedup probe: documents ×32 with per-replica token remapping
    // (prefix every token with the replica id — a bijective vocabulary
    // shift, so within-replica shingle sets and Jaccard are unchanged
    // but NO shingle collides across replicas; the text analog of the
    // embeddings sign-flip). Near-dup structure therefore scales with
    // the corpus instead of collapsing into 32×-sized clusters.
    locally {
      val d0 = graft.model.Tables.documents(spark, sf)
      val dBig = d0.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
          concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
            t => concat(lit("r"), col("rep"), lit("_"), t))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      dBig.repartition(32).write.mode("overwrite")
        .parquet("/tmp/documents_x32.parquet")
      val docs = spark.read.parquet("/tmp/documents_x32.parquet")
      println(s"doc rows=${docs.count()}")
      def textProbes(tag: String, d: org.apache.spark.sql.DataFrame): Unit = {
        // exact containment join (quote/excerpt detection): A-prefix ×
        // B-full postings — like the Jaccard probe, per-replica token
        // remapping means candidate volume must track the corpus (no
        // cross-replica collisions), exposing any df² term
        time(s"dedup_containment_$tag") {
          graft.dedup.Dedup.containmentPairsInverted(d, "doc_id", "text",
            shingleSize = 3, threshold = 0.5).count()
        }
        // the bottom-k sketch screen over the SAME all-pairs regime:
        // A-side volume is k per doc (constant) instead of the
        // (1-t)·|a| prefix, so the ratio must stay ~linear in the
        // corpus — the bounded-cost path for the spill-bound regime
        time(s"dedup_cont_sketch_$tag") {
          graft.dedup.Dedup.containmentSketchPairs(d, "doc_id", "text",
            shingleSize = 3, k = 8, minEst = 0.3).count()
        }
        // the AUTO gate forced over its threshold (r13): routes
        // sketch-screen → exact-verify, so the ×32 ratio must track
        // the bounded sketch probe above, NOT the exact all-pairs
        // join — the measured evidence that crossing the gate escapes
        // the spill-bound regime
        time(s"dedup_cont_auto_gated_$tag") {
          graft.dedup.Dedup.containmentPairsAuto(d, "doc_id", "text",
            shingleSize = 3, threshold = 0.5, maxPrefixPostings = 1L,
            sketchK = 8, sketchMargin = 0.2).count()
        }
        // quality-classifier training, full-batch: per GD iteration one
        // broadcast-weights scoring pass + one bucket-keyed gradient
        // agg over the persisted bucket cache — linear corpus passes
        // against a FIXED 256-double model, so the ratio must track
        // the corpus with no vocabulary term (the gradients hash into
        // fixed buckets, the DSIR discipline)
        time(s"quality_lr_train_$tag") {
          val (w, _) = graft.text.QualityClassifier.train(
            d.select("doc_id", "lang", "text"), "text",
            col("lang") === "en", numBuckets = 256, iters = 1)
          w.length.toLong
        }
        // the production form: FIXED ~500-doc content-hash sample
        // whatever the corpus — cost is one corpus scan (tokenize +
        // sample into the cache) plus sample-sized GD passes, so the
        // ×32 ratio must collapse toward the scan cost alone (the
        // CCNet discipline: nobody trains a linear filter on 100 TB)
        time(s"quality_lr_train_sampled_$tag") {
          val (w, _) = graft.text.QualityClassifier.train(
            d.select("doc_id", "lang", "text"), "text",
            col("lang") === "en", numBuckets = 256, iters = 3,
            sampleMod = graft.text.QualityClassifier.sampleModFor(
              d.count(), 500))
          w.length.toLong
        }
        // BM25 with a FIXED query set (replica-0 vocabulary at x32):
        // the posting-list stage must stay query-sized while only the
        // corpus-stats pass (N, avgdl) grows with the corpus
        time(s"text_bm25_$tag") {
          val pfx = if (tag == "x1") "" else "r0_"
          graft.text.TextAnalysis.bm25TopK(d, "doc_id", "text",
            Seq("spark", "join", "window", "vector").map(pfx + _), 20).count()
        }
        time(s"text_repetition_$tag") {
          graft.text.TextAnalysis.repetitionStats(d, "doc_id", "text").count()
        }
        time(s"text_decontaminate_$tag") {
          graft.text.TextAnalysis.contamination(
            d.where(col("doc_id") % 97 =!= 0), d.where(col("doc_id") % 97 === 0),
            "doc_id", "text", n = 4).count()
        }
        // fuzzy decontamination: the eval posting broadcast grows ×32
        // with the corpus here (worst case — real eval suites are
        // fixed-size), while the corpus side stays map-only until the
        // candidate-bounded pair aggregation; growth must track the
        // corpus, never corpus × eval
        time(s"text_decontam_fuzzy_$tag") {
          graft.text.TextAnalysis.contaminationFuzzy(
            d.where(col("doc_id") % 40 =!= 0), d.where(col("doc_id") % 40 === 0),
            "doc_id", "text", shingleSize = 3, threshold = 0.5).count()
        }
        time(s"dedup_minhash_$tag") {
          // 32/16 matches the registry's production banding (r13): the
          // probe must measure the configuration that actually ships
          graft.dedup.Dedup.minhashNearDups(d, "doc_id", "text",
            shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.8).count()
        }
        // exact set-similarity join: the PPJoin prefix filter must keep
        // candidate volume ~linear in the corpus (per-replica token
        // remapping means no cross-replica collisions, so a superlinear
        // ratio here would expose a df² regression in candidate gen)
        time(s"dedup_jaccard_inv_$tag") {
          graft.dedup.Dedup.jaccardPairsInverted(d, "doc_id", "text",
            shingleSize = 3, threshold = 0.8).count()
        }
        // corpus-level line dedup: explode + one reused shuffle key;
        // remapped replica tokens mean the duplicate-line structure
        // scales with the corpus instead of collapsing cross-replica
        time(s"text_line_dedup_$tag") {
          graft.text.TextAnalysis.lineDedup(
            d.select("doc_id", "text"), "doc_id", "text", 3).count()
        }
        // exact substring dedup: full-corpus shuffle is 8-byte window
        // hashes; strings shuffle only for hash-dup candidates, so
        // growth must stay ~linear in corpus tokens
        time(s"dedup_substring_$tag") {
          graft.text.TextAnalysis.substringDupSpans(
            d.select("doc_id", "text"), "doc_id", "text", 8).count()
        }
        // DSIR weights: two linear corpus passes (model counts, then
        // scoring) + a 4096-row broadcast model — the ratio must track
        // the corpus with no vocabulary-sized term (features are
        // hashed into a FIXED bucket space, unlike the LM models)
        time(s"text_dsir_$tag") {
          graft.text.TextAnalysis.dsirLogRatio(
            d.select("doc_id", "lang", "text"), "doc_id", "text",
            col("lang") === "en", numBuckets = 4096).count()
        }
        // held-out trigram backoff: the models GROW with the corpus
        // (per-replica token remap → vocabulary ×32), so this probes
        // the documented broadcast caveat — five vocabulary-sized
        // broadcasts at ×32 measure where the hints stop paying
        time(s"text_trigram_$tag") {
          graft.text.TextAnalysis.stupidBackoffLogScore(
            d.select("doc_id", "text"), "doc_id", "text",
            col("doc_id") % 10 =!= 7).count()
        }
        // cross-source overlap, exact vs sketch: the exact matrix pays
        // a per-source distinct plus a line-keyed self-join (both grow
        // with the distinct-line count — ×32 here via the replica token
        // remap); the HLL path is one linear scan into 20 fixed-size
        // sketches + a k×k sketch-only join, so its ratio must collapse
        // toward the scan cost alone — the measured gap IS the sketch
        // path's 100-TB argument
        time(s"overlap_exact_$tag") {
          graft.text.TextAnalysis.sourceOverlapMatrix(
            d.select("source", "text"), "source", "text", 3).count()
        }
        time(s"overlap_sketch_$tag") {
          graft.text.TextAnalysis.sourceOverlapSketch(
            d.select("source", "text"), "source", "text", 3).count()
        }
        // BPE train+encode: every training round is DISTINCT-WORD-
        // vocabulary-sized (×32 here via the replica remap — the worst
        // case, real corpora grow vocabulary sublinearly by Heaps'
        // law) and encoding is explode + hash join on the word, so the
        // whole pipeline must stay ~linear in the corpus
        time(s"text_bpe_encode_$tag") {
          graft.text.TextAnalysis.bpeEncode(d, "doc_id", "text", 6).count()
        }
      }
      textProbes("x1", d0)
      textProbes("x32", docs)
    }
    // Label-propagation probe: replicas of the purchase graph with
    // disjoint node namespaces — communities can't merge across
    // replicas, so the ×32 graph has ×32 the edges AND ×32 the
    // communities; per-iteration cost is two label-table shuffles +
    // the message agg, all ∝ |edges| → the 4-round loop must scale
    // ~linearly, never with the community count
    locally {
      def lpaGraph(mult: Int) = {
        val g0 = graft.graph.PageRank.purchaseGraph(
          graft.model.Tables.lineitem(spark, sf),
          graft.model.Tables.orders(spark, sf))
        g0.crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("src") + col("rep") * 100000000L).as("src"),
            (col("dst") + col("rep") * 100000000L).as("dst"), col("w"))
      }
      if (Seq("graph_lpa_x1", "graph_lpa_x32").exists(only)) {
        Seq(("x1", 1), ("x32", 32)).foreach { case (tag, m) =>
          lpaGraph(m).repartition(32).write.mode("overwrite")
            .parquet(s"/tmp/lpa_edges_$tag.parquet")
          val edges = spark.read.parquet(s"/tmp/lpa_edges_$tag.parquet")
          time(s"graph_lpa_$tag") {
            graft.graph.LabelPropagation
              .labelPropagationFixed(edges, "src", "dst", "w", 4)
              .groupBy("community").count().count()
          }
        }
      }
    }
    // Triangle-count probe: ×32 disjoint replicas of the co-purchase
    // graph — triangles can't close across replicas, so edges AND
    // triangles both grow ×32; the degree ordering keeps per-replica
    // wedge work constant → the whole probe must scale ~linearly.
    // (Recorded on the FULL partMod=1 graph this session: 32.9 s →
    // 469.6 s, ~14× on ×32 — the probe runs the registered partMod=4
    // graph to stay cheap on routine sweeps.)
    locally {
      def triGraph(mult: Int) = {
        val g0 = graft.graph.Triangles.coPurchaseEdges(
          graft.model.Tables.lineitem(spark, sf), partMod = 4)
        g0.crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("src") + col("rep") * 100000000L).as("src"),
            (col("dst") + col("rep") * 100000000L).as("dst"))
      }
      if (Seq("graph_tri_x1", "graph_tri_x32").exists(only)) {
        Seq(("x1", 1), ("x32", 32)).foreach { case (tag, m) =>
          triGraph(m).repartition(32).write.mode("overwrite")
            .parquet(s"/tmp/tri_edges_$tag.parquet")
          val edges = spark.read.parquet(s"/tmp/tri_edges_$tag.parquet")
          time(s"graph_tri_$tag") {
            graft.graph.Triangles.triangleCounts(edges, "src", "dst")
              .agg(sum("triangles")).collect()(0).getLong(0)
          }
        }
      }
    }
    // k-core probe: same disjoint-replica construction — peeling
    // cascades stay inside replicas, so rounds don't grow with ×32;
    // per-round cost is one degree agg + two hash joins ∝ |edges|
    locally {
      def kcGraph(mult: Int) = {
        val g0 = graft.graph.Triangles.coPurchaseEdges(
          graft.model.Tables.lineitem(spark, sf), partMod = 4)
        g0.crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("src") + col("rep") * 100000000L).as("src"),
            (col("dst") + col("rep") * 100000000L).as("dst"))
      }
      if (Seq("graph_kcore_x1", "graph_kcore_x32").exists(only)) {
        Seq(("x1", 1), ("x32", 32)).foreach { case (tag, m) =>
          kcGraph(m).repartition(32).write.mode("overwrite")
            .parquet(s"/tmp/kcore_edges_$tag.parquet")
          val edges = spark.read.parquet(s"/tmp/kcore_edges_$tag.parquet")
          time(s"graph_kcore_$tag") {
            graft.graph.KCore.kCoreTruncated(edges, "src", "dst", 20, 10)
              .count()
          }
        }
      }
    }
    // Winnow near-dup probe: ×32 replicas with per-replica token
    // salting (disjoint gram spaces — otherwise every fingerprint's
    // df multiplies and the hot-bucket cap would empty the join);
    // fingerprint selection is per-doc and the df-capped pairing is
    // per-bucket, so the pair stage must scale ~linearly
    locally {
      def saltedDocs(mult: Int) = {
        val d0 = graft.model.Tables.documents(spark, sf)
          .select("doc_id", "text")
        d0.crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("doc_id") + col("rep") * 100000000L).as("doc_id"),
            array_join(transform(split(trim(col("text")), "\\s+"),
              t => concat(col("rep"), lit("_"), t)), " ").as("text"))
      }
      if (Seq("winnow_pairs_x1", "winnow_pairs_x32").exists(only)) {
        Seq(("x1", 1), ("x32", 32)).foreach { case (tag, m) =>
          saltedDocs(m).repartition(32).write.mode("overwrite")
            .parquet(s"/tmp/winnow_docs_$tag.parquet")
          val docs = spark.read.parquet(s"/tmp/winnow_docs_$tag.parquet")
          time(s"winnow_pairs_$tag") {
            graft.text.TextAnalysis.winnowNearDups(docs, "doc_id", "text",
              k = 3, w = 4, minShared = 2, maxDf = 20).count()
          }
        }
      }
    }
    // Power-iteration probe: ×32 row-replicated embeddings (disjoint
    // vec_ids) — the corpus-sized stage is the d²-amplifying pairwise
    // moment pass (linear in rows, d² cells fixed); the driver-side
    // iteration is constant. Covariance of replicated data is
    // unchanged, so the result must be identical too — checked
    locally {
      def embN(mult: Int) = {
        val e = graft.model.Tables.embeddings(spark, sf)
          .select(col("vec_id"), col("embedding"))
        e.crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("vec_id") + col("rep") * 100000000L).as("vec_id"),
            col("embedding"))
      }
      if (Seq("power_iter_x1", "power_iter_x32").exists(only)) {
        var first: Array[(Int, Long)] = null
        Seq(("x1", 1), ("x32", 32)).foreach { case (tag, m) =>
          embN(m).repartition(32).write.mode("overwrite")
            .parquet(s"/tmp/pi_emb_$tag.parquet")
          val em = spark.read.parquet(s"/tmp/pi_emb_$tag.parquet")
          var out: Array[(Int, Long)] = null
          time(s"power_iter_$tag") {
            out = graft.similarity.Similarity.topPrincipalDirection(
                em, "vec_id", "embedding")
              .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
            out.length.toLong
          }
          if (first == null) first = out
          else println(s"[info] power_iter direction stable under x32 " +
            s"replication: ${java.util.Arrays.equals(
              first.map(_._2), out.map(_._2))}")
        }
      }
    }
    // Association-rules probe: ×32 replicas of lineitem baskets with
    // DISJOINT basket AND item namespaces — pair enumeration is
    // per-basket (C(L,2), L bounded), so candidates grow ×32 linearly
    // and cross-replica pairs can't exist; the minCount filter and
    // model-sized item stats ride along
    locally {
      def baskets(mult: Int) = {
        val li = graft.model.Tables.lineitem(spark, sf)
          .select(col("l_orderkey").as("b"),
            col("l_partkey").cast("long").as("i"))
        li.crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("b") + col("rep") * 100000000L).as("b"),
            (col("i") + col("rep") * 100000000L).as("i"))
      }
      if (Seq("assoc_rules_x1", "assoc_rules_x32").exists(only)) {
        Seq(("x1", 1), ("x32", 32)).foreach { case (tag, m) =>
          baskets(m).repartition(32).write.mode("overwrite")
            .parquet(s"/tmp/assoc_baskets_$tag.parquet")
          val bk = spark.read.parquet(s"/tmp/assoc_baskets_$tag.parquet")
          time(s"assoc_rules_$tag") {
            graft.etl.AssociationRules.mineRules(bk, "b", "i",
              minCount = 2L, k = 50).count()
          }
        }
      }
    }
    // Session-paths probe: ×32 replicas of events with disjoint user
    // namespaces — sessions never merge across replicas; all windows
    // share one per-user partition, path strings replicate ×32 but
    // the path-count agg is partial-agg'd
    locally {
      def users(mult: Int) = {
        val e = graft.model.Tables.events(spark, sf)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts"))
        e.crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("user_id") + col("rep") * 100000000L).as("user_id"),
            (col("event_id") + col("rep") * 1000000000L).as("event_id"),
            col("event_type"), col("ts"))
      }
      if (Seq("session_paths_x1", "session_paths_x32").exists(only)) {
        Seq(("x1", 1), ("x32", 32)).foreach { case (tag, m) =>
          users(m).repartition(32).write.mode("overwrite")
            .parquet(s"/tmp/spath_events_$tag.parquet")
          val ev2 = spark.read.parquet(s"/tmp/spath_events_$tag.parquet")
          time(s"session_paths_$tag") {
            graft.etl.Aggregation.sessionPaths(ev2, "user_id", "event_id",
              "event_type", "ts", gapSec = 300L, pathLen = 3, k = 20)
              .count()
          }
        }
      }
    }
    // KS drift at ×32: one hash agg to distinct values + the
    // hierarchical prefix — distinct-value growth rides the agg, no
    // global sort to blow up
    time("drift_ks_x32") {
      graft.etl.Drift.ksDistance(ev, "value",
        col("event_type") === "view", col("event_type") === "purchase")
        .count()
    }
    // Connected-components long-chain probe: a path graph is the
    // diameter worst case — min-label propagation needs |V| rounds; the
    // default alternating large-star/small-star must close a ×32 chain
    // in O(log n) rounds (~+5 rounds for ×32, never ×32 the rounds).
    locally {
      def chain(n: Long) = spark.range(n - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
        .repartition(32)
      def ccProbe(tag: String, n: Long): Unit = {
        val t0 = System.nanoTime()
        val (labels, rounds) = graft.dedup.Dedup.connectedComponentsWithRounds(
          chain(n), "a", "b")
        val ok = labels.where(col("label") === 0).count() == n
        println(f"cc_chain_$tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (n=$n rounds=$rounds oneComponent=$ok)")
      }
      if (Seq("cc_chain_x1", "cc_chain_x32").exists(only)) {
        ccProbe("x1", 20000L)
        ccProbe("x32", 640000L)
      }
    }
    // Z-order re-cluster at ×32: one range shuffle (the price of any
    // re-layout); the pruning ratio for a value-only box must hold as
    // data grows — that ratio IS the read saving every later scan gets
    // the overlap read depends on the timed write — gate the whole
    // section on the probe filter, not just the time() call, so a
    // name-filtered run doesn't read a file it never wrote
    if (only("zorder_write_x32")) {
      time("zorder_write_x32") {
        graft.etl.Layout.writeZOrdered(ev.select("event_id", "user_id", "value"),
          "/tmp/zorder_x32.parquet", "user_id", "value", numFiles = 64)
        spark.read.parquet("/tmp/zorder_x32.parquet").count()
      }
      val hit = graft.etl.Layout.filesOverlapping(
        spark.read.parquet("/tmp/zorder_x32.parquet"), ("value", 40.0, 60.0))
      println(s"zorder_overlap_x32: $hit / 64 files for a value-only box")
    }
    time("range_join_10m") {
      val base = ev.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val iv = base.select(col("event_id"), col("user_id").as("ikey"),
        col("ts_us").as("start_us"), (col("ts_us") + 600000000L).as("end_us"))
      val pt = base.select(col("user_id").as("pkey"), col("ts_us"))
      graft.plans.RangeJoin.intervalPointJoin(iv, pt, "ikey", "pkey",
        "start_us", "end_us", "ts_us", 600000000L)
        .groupBy("event_id").agg(count(lit(1))).count()
    }
    spark.stop()
  }
}

/** ×128 probe for the df-distribution-sensitive text operators (the
  * PPJoin exact-Jaccard join, corpus line dedup, substring dedup):
  * their cost depends on the document-frequency spectrum, not just row
  * count, so linear growth at ×32 does not automatically imply linear
  * growth at ×128 — hot shingles/lines/windows gain occurrences as the
  * corpus (and its df spectrum) grows. Replicates documents with the
  * same bijective per-replica token remap as [[ScaleCheck]] (within-
  * replica similarity structure preserved, zero cross-replica
  * collisions) and times ×32 vs ×128 in one JVM; the pass condition is
  * the ratio staying ≈4× (the corpus ratio), not ≈16× (a df² term).
  */
object ScaleCheck128 {
  /** Optional args filter by probe-name substring (e.g. `jaccard`) —
    * lets one operator run in an isolated fresh JVM: the r5/r6 record
    * shows the exact-Jaccard verify join reads up to ~4× slower late in
    * a shared probe JVM (accumulated heap/GC state), so cross-operator
    * in-run numbers are pessimistic, never optimistic.
    */
  def main(args: Array[String]): Unit = {
    val pats = args.flatMap(_.split(',')).filter(_.nonEmpty)
    val only: String => Boolean =
      if (pats.isEmpty) _ => true else n => pats.exists(n.contains)
    val spark = Session()
    val sf = "/root/testdata/sf0.1"
    val d0 = graft.model.Tables.documents(spark, sf)
    def replicate(mult: Int): org.apache.spark.sql.DataFrame = {
      val big = d0.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
          concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
            t => concat(lit("r"), col("rep"), lit("_"), t))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      big.repartition(32).write.mode("overwrite")
        .parquet(s"/tmp/documents_x$mult.parquet")
      spark.read.parquet(s"/tmp/documents_x$mult.parquet")
    }
    def time(name: String)(f: => Long): Unit = if (only(name)) {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }
    // the documents replica write is itself minutes at ×128 — skip it
    // when a name filter selects only the lineitem/events probes. ONE
    // shared definition drives BOTH the replica-skip guard and the
    // probe loop (r9 ADVICE: a probe added to the block but not the
    // name list was silently skippable) — the bodies are thunks, so
    // listing names off a dummy frame executes nothing.
    def docProbeDefs(d: org.apache.spark.sql.DataFrame,
                     mult: Int): Seq[(String, () => Long)] = {
      // shared by the two substring probes: build registers the
      // bucketed index table the batch join reads — keep them adjacent
      // and in order
      lazy val wins = graft.text.TextAnalysis.windowFingerprints(
        d.select("doc_id", "text"), "doc_id", "text", 8)
      Seq(
        "dedup_jaccard_inv" -> (() =>
          graft.dedup.Dedup.jaccardPairsInverted(d, "doc_id", "text",
            shingleSize = 3, threshold = 0.8).count()),
        "text_line_dedup" -> (() =>
          graft.text.TextAnalysis.lineDedup(
            d.select("doc_id", "text"), "doc_id", "text", 3).count()),
        // containment join in its intended regime — a FIXED excerpt
        // batch (replica 0's doc_id%10==7 slice, identical at both
        // sizes) contained-in the growing corpus: the prefix side stays
        // batch-sized while the corpus contributes one linear posting
        // pass, so time must stay ~flat-to-linear and the output is a
        // cross-size determinism check. (The all-pairs self-containment
        // worst case is probed at ×32 in ScaleCheck; at ×128 its
        // candidate spill is disk-bound by design — the aFilter batch
        // form IS the 100 TB operating mode.)
        "dedup_containment_batch" -> (() =>
          graft.dedup.Dedup.containmentPairsInverted(d, "doc_id", "text",
            shingleSize = 3, threshold = 0.5,
            aFilter = col("doc_id") < 1000000L &&
              col("doc_id") % 10 === 7).count()),
        // the bottom-k containment sketch in the ALL-PAIRS regime the
        // exact join cannot survive (its unrestricted ×128 leg is
        // disk-bound by design, recorded in BASELINE.md): the A-side
        // explodes ≤ k postings per doc whatever the df spectrum, so
        // the ratio must stay ≈ the corpus ratio (4×) — this probe is
        // the evidence that the sketch screen IS the ×128 escape hatch
        "dedup_cont_sketch" -> (() =>
          graft.dedup.Dedup.containmentSketchPairs(d, "doc_id", "text",
            shingleSize = 3, k = 8, minEst = 0.3).count()),
        // per-domain line dedup: the df spectrum is PER SOURCE (one hot
        // domain = one hot stratum), spikier than the corpus-wide
        // sibling's — replicas multiply each domain's line frequencies,
        // so a super-linear ratio here would expose a within-domain df²
        // term the corpus-wide probe can't see
        "text_boilerplate" -> (() =>
          graft.text.TextAnalysis.boilerplateLineDedup(
            d.select("doc_id", "source", "text"),
            "doc_id", "source", "text", 3, minDocs = 2).count()),
        "dedup_substring" -> (() =>
          graft.text.TextAnalysis.substringDupSpans(
            d.select("doc_id", "text"), "doc_id", "text", 8).count()),
        // incremental path, build and probe timed separately: the index
        // build is the linear one-time cost; the fixed-batch join
        // against it must stay ~flat as the index grows 4× (bucketed
        // scan, zero corpus-side exchange). The batch — replica 0's
        // doc_id%10==7 slice — is identical at both sizes, so its
        // output row count is a cross-size determinism check too.
        "substr_index_build" -> (() => {
          graft.etl.Bucketing.writeBucketed(wins.select("w").distinct(),
            s"graft_win_index_sc$mult", s"/tmp/win_index_sc$mult", "w", 32)
          spark.table(s"graft_win_index_sc$mult").count()
        }),
        "substr_batch_join" -> (() =>
          graft.text.TextAnalysis.substringDedupIncremental(
            wins.where(col("doc_id") < 1000000L && col("doc_id") % 10 === 7),
            spark.table(s"graft_win_index_sc$mult"), "doc_id", 8).count()))
    }
    val docProbes = docProbeDefs(d0, 0).map(_._1)
    for (mult <- Seq(32, 128)) {
      // association rules ×mult: cost = per-basket pair enumeration
      // (bounded by basket size, unchanged under replication) + one
      // partial-agg'd shuffle keyed by item pair. The bijective
      // per-replica remap of BOTH ids multiplies distinct pairs (and so
      // shuffle volume) by the corpus ratio while per-pair counts stay
      // fixed — a superlinear ×128/×32 ratio would expose a
      // pair-explosion df² term the ×32 probe can't see.
      if (only(s"agg_assoc_rules_x$mult")) {
        val li = graft.model.Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_partkey"))
          .crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("l_orderkey") + col("rep") * 100000000000L).as("b"),
            (col("l_partkey") + col("rep") * 100000000000L).as("i"))
        li.repartition(32).write.mode("overwrite")
          .parquet(s"/tmp/lineitem_x$mult.parquet")
        val rep = spark.read.parquet(s"/tmp/lineitem_x$mult.parquet")
        println(s"x$mult lineitem rows=${rep.count()}")
        time(s"agg_assoc_rules_x$mult") {
          graft.etl.AssociationRules.mineRules(rep, "b", "i",
            minCount = 2L, k = 50).count()
        }
      }
      // session paths ×mult: per-user windows (sessionize, first-3
      // collect) under a user remap — sessions never span replicas, so
      // path-string length is invariant and the only growth axis is
      // user count (shuffle volume). The top-20 paths are identical
      // across replicas with counts ×mult (cross-size determinism);
      // superlinear time would expose path-string/state growth.
      if (only(s"window_session_paths_x$mult")) {
        val ev = graft.model.Tables.events(spark, sf)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts"))
          .crossJoin(spark.range(mult).select(col("id").as("rep")))
          .select((col("user_id") + col("rep") * 1000000000L).as("user_id"),
            (col("event_id") + col("rep") * 1000000000000L).as("event_id"),
            col("event_type"), col("ts"))
        ev.repartition(32).write.mode("overwrite")
          .parquet(s"/tmp/events_x$mult.parquet")
        val rep = spark.read.parquet(s"/tmp/events_x$mult.parquet")
        println(s"x$mult events rows=${rep.count()}")
        time(s"window_session_paths_x$mult") {
          graft.etl.Aggregation.sessionPaths(rep, "user_id", "event_id",
            "event_type", "ts", gapSec = 300L, pathLen = 3, k = 20).count()
        }
      }
      if (docProbes.exists(p => only(s"${p}_x$mult"))) {
        val d = replicate(mult)
        println(s"x$mult rows=${d.count()}")
        for ((nm, body) <- docProbeDefs(d, mult))
          time(s"${nm}_x$mult")(body())
      } // else: no documents probe selected at this size — skip the replica
    }
    spark.stop()
  }
}

/** r15 measured-gate probes, driven by a fixture DIR instead of in-run
  * replication — `runMain graft.ScaleCheckGates <sfDir> [probe,names]`.
  * Measures (a) BOTH containment verify regimes on the same corpus —
  * the r14 trade this round's hybrid routing resolves (sf1.0: broadcast
  * array-verify was 4.2× faster; sf10: only the count-verify survives) —
  * and (b) the cosineNearDupsAuto measured-background gate decision on
  * the embeddings corpus (the sf10 `sim_cosine_neardups` regime must
  * REROUTE to the cell-bounded operator).
  */
object ScaleCheckGates {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pats = args.drop(1).flatMap(_.split(',')).filter(_.nonEmpty)
    val only: String => Boolean =
      if (pats.isEmpty) _ => true else n => pats.exists(n.contains)
    val spark = Session()
    def time(name: String)(f: => String): Unit = if (only(name)) {
      val t0 = System.nanoTime()
      val out = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($out)")
    }
    val docs = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    // default routing decision is plan-time — print it with zero work
    if (only("cont_route_default")) {
      val (_, usedCount) = graft.dedup.Dedup.containmentPairsInvertedWithPath(
        docs, "doc_id", "text", 3, 0.5)
      println(s"cont_route_default           usedCountVerify=$usedCount")
    }
    time("cont_df2") {
      docs.select(explode(graft.dedup.Dedup.shingles(
          graft.text.TextAnalysis.tokens(col("text")), 3)).as("__s"))
        .select(xxhash64(col("__s")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).cast("double").as("__df"))
        .agg(coalesce(sum(col("__df") * col("__df")), lit(0.0)))
        .head.getDouble(0).toLong.toString
    }
    // the containmentPairsAuto decision inputs + outcome, WITHOUT
    // executing the query (r16 zipftok leg: what real token-df skew
    // does to the measured gate) — runs Dedup.containmentGate, the
    // PRODUCTION decision code, so the printed route cannot drift
    // from what containmentPairsAuto actually chooses (r16 ADVICE:
    // the old hand-mirrored arithmetic ignored the postingsFit leg
    // and hardcoded the pair ceiling)
    if (only("cont_auto_gate")) {
      val hotTop = docs.select(explode(graft.dedup.Dedup.shingles(
          graft.text.TextAnalysis.tokens(col("text")), 3)).as("__s"))
        .groupBy(col("__s")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc).limit(3)
        .collect().map(r => s"'${r.getString(0).take(18)}'=${r.getLong(1)}")
        .mkString(", ")
      val g = graft.dedup.Dedup.containmentGate(docs, "text", 3, 0.5)
      println(f"cont_auto_gate               planPostings=${g.planPostings} " +
        f"planBound=${g.planBound} measuredTotal=${g.measuredTotal} " +
        f"postingsFit=${g.postingsFit} " +
        f"df2=${g.df2.map(d => f"$d%.3e").getOrElse("unmeasured")} " +
        f"route=${g.route()} hottest: $hotTop")
    }
    // the AUTO route EXECUTED end to end (r18 sf100 leg: the gate's
    // decision above, actually run — screen → exact verify when it
    // chose sketch, the hybrid verify otherwise).
    // GRAFT_CONT_BUDGET overrides maxCandidatePairs: the budget is the
    // per-deployment disk knob — the default 2e9-row candidate shuffle
    // is sized for cluster disk (~56 GB spread over executors), not a
    // single box (measured ENOSPC at sf100 on 68 GB free local disk)
    time("cont_auto_exec") {
      val budget = sys.env.get("GRAFT_CONT_BUDGET").map(_.toLong)
        .getOrElse(graft.dedup.Dedup.DefaultMaxCandidatePairs)
      val (out, usedSketch) = graft.dedup.Dedup.containmentPairsAutoWithPath(
        docs, "doc_id", "text", 3, 0.5, maxDf = 0L,
        maxPrefixPostings = graft.dedup.Dedup.DefaultMaxPrefixPostings,
        sketchK = 64, sketchMargin = 0.15, maxCandidatePairs = budget)
      s"rows=${out.count()} usedSketch=$usedSketch budget=$budget"
    }
    time("cont_verify_broadcast") {
      graft.dedup.Dedup.containmentPairsInverted(docs, "doc_id", "text",
        3, 0.5, maxVerifyBroadcastBytes = Long.MaxValue).count().toString
    }
    time("cont_verify_count") {
      graft.dedup.Dedup.containmentPairsInverted(docs, "doc_id", "text",
        3, 0.5, maxVerifyBroadcastBytes = 0L).count().toString
    }
    val emb = graft.model.Tables.embeddings(spark, sfDir)
    if (only("cosine_auto_gate")) {
      val bg = graft.similarity.Similarity.measuredBgSim(
        emb, "vec_id", "embedding", 0.4)
      val n = emb.count()
      // PRODUCTION decision code (r18: factored nearDupsReroute — the
      // containmentGate treatment, so this print cannot drift)
      val (estOutPerRow, reroutes) = graft.similarity.Similarity
        .nearDupsReroute(bg, n, 0.4)
      println(f"cosine_auto_gate             n=$n bgMean=${bg.mean}%.4f " +
        f"bgP99=${bg.p99}%.4f frac>=0.4=${bg.fracAtOrAbove}%.6f " +
        f"estOutPerRow=$estOutPerRow%.2f " +
        s"reroutes=$reroutes")
    }
    time("cosine_auto_exec") {
      val (out, rerouted) = graft.similarity.Similarity
        .cosineNearDupsAutoWithPath(emb, "vec_id", "embedding", 0.4)
      s"rows=${out.count()} rerouted=$rerouted"
    }
    // the multimodal_neardups gate decision (r18, sf100 route table):
    // same measured-background arithmetic as the cosine leg but over
    // the byte-histogram feature space the registry query routes on,
    // at its production threshold 0.95 — gate only, no execution
    if (only("mm_auto_gate")) {
      val media = graft.multimodal.Multimodal.asMedia(
        graft.model.Tables.documents(spark, sfDir), "doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
      val feats = graft.multimodal.Multimodal
        .extractPerceptualFeatures(spark, media).toDF()
        .select(col("media_id"), col("features"))
      val bg = graft.similarity.Similarity.measuredBgSim(
        feats, "media_id", "features", 0.95)
      val n = feats.count()
      val (estOutPerRow, reroutes) = graft.similarity.Similarity
        .nearDupsReroute(bg, n, 0.95)
      println(f"mm_auto_gate                 n=$n bgMean=${bg.mean}%.4f " +
        f"bgP99=${bg.p99}%.4f frac>=0.95=${bg.fracAtOrAbove}%.6f " +
        f"estOutPerRow=$estOutPerRow%.2f " +
        s"reroutes=$reroutes")
    }
    spark.stop()
  }
}

/** r16 cell-route recall measurement (VERDICT r15 #5) —
  * `runMain graft.CellRecall <sfDir>`. Prints the SemDeDup-trade
  * recall curve for BOTH production cell-route spaces:
  *  - the multimodal byte-histogram features (the degenerate space
  *    `multimodal_neardups` reroutes through at every scale), at the
  *    production threshold 0.95 and neighbors;
  *  - the embeddings corpus (the sf10 `sim_cosine_neardups` reroute
  *    regime), at the production threshold 0.4 and neighbors;
  * plus planted-duplicate recall at eps ∈ {0.02, 0.05, 0.1, 0.2}
  * (cosine ≈ (1−eps²)/(1+eps²): 0.9992 … 0.923). Sampled-pair recall
  * is unbiased for global pair recall (uniform sample of pairs) at
  * constant cost — run at any fixture scale.
  */
object CellRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Session()
    import graft.similarity.Similarity
    val media = graft.multimodal.Multimodal.asMedia(
      graft.model.Tables.documents(spark, sfDir), "doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val feats = graft.multimodal.Multimodal
      .extractPerceptualFeatures(spark, media).toDF()
      .select(col("media_id"), col("features"))
    println("[cellrecall] multimodal byte-histogram space:")
    Similarity.cellRouteRecall(feats, "media_id", "features",
        Seq(0.90, 0.93, 0.95, 0.97, 0.99), sampleN = 2048)
      .collect().foreach(r => println(s"[cellrecall] mm $r"))
    Similarity.cellRoutePlantedRecall(feats, "media_id", "features",
        Seq(0.02, 0.05, 0.1, 0.2))
      .collect().foreach(r => println(s"[cellrecall] mm_planted $r"))
    val emb = graft.model.Tables.embeddings(spark, sfDir)
    println("[cellrecall] embeddings space:")
    Similarity.cellRouteRecall(emb, "vec_id", "embedding",
        Seq(0.3, 0.4, 0.5, 0.7, 0.9), sampleN = 2048)
      .collect().foreach(r => println(s"[cellrecall] emb $r"))
    Similarity.cellRoutePlantedRecall(emb, "vec_id", "embedding",
        Seq(0.02, 0.05, 0.1, 0.2))
      .collect().foreach(r => println(s"[cellrecall] emb_planted $r"))
    spark.stop()
  }
}

/** Capped-sketch recall at the DECISION BOUNDARY (VERDICT r17 #2).
  *
  * The hot-shingle cap's bias bound — est loses at most (capped shared
  * shingles in a's sketch)/ka — was validated in r17 only on zipftok
  * pairs at c ≥ 0.8, far above threshold−margin, where the margin
  * trivially absorbs it. This fixture places TRUE pairs at
  * c ∈ [t−0.15, t+0.05] whose shared shingles are PREDOMINANTLY
  * capped-hot, probing the bound exactly where a loss turns into a
  * miss.
  *
  * Deterministic construction (all tokens distinct → shingle counts
  * are exact; no RNG): every doc opens with one shared 12-token HOT
  * block (its 10 interior shingles have df = #docs — the bucket any
  * binding cap cuts), then pair p's docs A=2p / B=2p+1 share an
  * m-token cold block (df=2) and diverge into q / 3 private filler
  * tokens. Exactly: |S_A| = m+q+10, shared = m+10 of which 10 hot, so
  *   true containment  c = (m+10)/(m+q+10)
  *   hot mass fraction h = 10/(m+10)
  *   capped est (|S_A| ≤ k, deterministic) = m/|S_A| = c·(1−h).
  * Cells sweep h ∈ {.83,.5,.25} × c ∈ [.375,.556]; budget is chosen
  * between the cold Σdf² and the hot bucket so the cap cuts exactly
  * the hot shingles.
  *
  * Measures per cell, uncapped vs capped, with the r18 capped-hot
  * compensation ON and OFF: recall of planted pairs, mean estimate,
  * the analytic floor c·(1−h) — pinning that (a) the bias bound is
  * TIGHT, (b) uncompensated capped recall collapses exactly where
  * c·(1−h) < minEst, (c) compensation restores recall for every pair
  * with ≥1 cold shared shingle without touching the join volume.
  */
object ScaleCheckCapRecall {
  import org.apache.spark.sql.DataFrame

  private[graft] val HotTokens: Seq[String] = (0 until 12).map(i => s"hot$i")

  /** (m cold-shared tokens, q A-private tokens) per cell. */
  private[graft] val Cells: Seq[(Int, Int)] = Seq(
    (2, 20), (2, 15), (2, 12), (2, 10),    // h=.83: c=.375/.444/.500/.545
    (10, 33), (10, 25), (10, 20), (10, 16), // h=.50: c=.377/.444/.500/.556
    (30, 66), (30, 50), (30, 40), (30, 33)) // h=.25: c=.377/.444/.500/.548

  private[graft] def fixtureRows(cells: Seq[(Int, Int)], pairsPerCell: Int)
      : Seq[(Long, String, Int, Int)] = {
    var p = 0
    cells.flatMap { case (m, q) =>
      (0 until pairsPerCell).flatMap { _ =>
        val id = p; p += 1
        val shared = (0 until m).map(i => s"p${id}s$i")
        val aUniq = (0 until q).map(i => s"p${id}a$i")
        val bFill = (0 until 3).map(i => s"p${id}b$i")
        Seq((2L * id, (HotTokens ++ shared ++ aUniq).mkString(" "), m, q),
          (2L * id + 1, (HotTokens ++ shared ++ bFill).mkString(" "), m, q))
      }
    }
  }

  /** BULK-cut fixture (r18 verdict #3): same pair algebra as the
    * boundary fixture, but the shared 12-token block is per-GROUP
    * (4 consecutive pairs = 8 docs share one MID block) instead of
    * corpus-global. The cut bucket is then df=8 with 10·#groups
    * DISTINCT hashes — the BODY of the df spectrum, growing with the
    * corpus — and its posting mass is ~0.48 of all postings ≥ minEst,
    * so a binding cap is a DEEP cut and the compensation guard
    * (cutFrac ≥ minEst) must disable the credit. The measured curve
    * is the deep-cap recall trade the guard accepts deliberately:
    * capped recall collapses exactly where the analytic floor
    * c·(1−h) = m/|S_A| drops below minEst — even for pairs at
    * c up to 0.75, far ABOVE the screen threshold — and the
    * compensated screen must be IDENTICAL to the uncompensated one
    * (guard disengaged), unlike the boundary fixture where
    * compensation restores every cold-sharing pair.
    */
  private[graft] val BulkCells: Seq[(Int, Int)] = Seq(
    (2, 8),   // c=.600 floor=.100 — deep miss despite c >> threshold
    (5, 5),   // c=.750 floor=.250 — miss
    (7, 3),   // c=.850 floor=.350 — exactly at minEst: survives
    (8, 4),   // c=.818 floor=.364 — survives
    (10, 2))  // c=.909 floor=.455 — survives

  private[graft] def bulkFixtureRows(cells: Seq[(Int, Int)],
                                     pairsPerCell: Int)
      : Seq[(Long, String, Int, Int)] = {
    var p = 0
    cells.flatMap { case (m, q) =>
      (0 until pairsPerCell).flatMap { _ =>
        val id = p; p += 1
        val gid = id / 4 // 4 pairs (8 docs) share one MID block
        val mid = (0 until 12).map(i => s"g${gid}m$i")
        val shared = (0 until m).map(i => s"p${id}s$i")
        val aUniq = (0 until q).map(i => s"p${id}a$i")
        val bFill = (0 until 3).map(i => s"p${id}b$i")
        Seq((2L * id, (mid ++ shared ++ aUniq).mkString(" "), m, q),
          (2L * id + 1, (mid ++ shared ++ bFill).mkString(" "), m, q))
      }
    }
  }

  private[graft] case class CapRecallCell(
      m: Int, q: Int, cTrue: Double, hotFrac: Double, floor: Double,
      pairs: Long, recallUncapped: Double, recallCapped: Double,
      recallCompensated: Double, meanEstUncapped: Double,
      meanEstCapped: Double, meanEstCompensated: Double)

  /** Runs the three screens over the boundary fixture, folds per-cell. */
  private[graft] def measure(spark: SparkSession, pairsPerCell: Int,
                             k: Int = 64, minEst: Double = 0.35,
                             budget: Long = 10000000L): Seq[CapRecallCell] =
    measureRows(spark, fixtureRows(Cells, pairsPerCell), k, minEst, budget)

  /** The three screens over the BULK-cut fixture. Budget default cuts
    * the df=8 MID bucket while keeping df ≤ 2: summed over the five
    * cells, cumulative Σdf² per pairsPerCell unit is 165 (df ≤ 2) vs
    * 965 (with MID), so 400·pairsPerCell sits strictly between.
    */
  private[graft] def measureBulk(spark: SparkSession, pairsPerCell: Int,
                                 k: Int = 64, minEst: Double = 0.35,
                                 budgetPerPair: Long = 400L)
      : Seq[CapRecallCell] =
    measureRows(spark, bulkFixtureRows(BulkCells, pairsPerCell), k, minEst,
      budgetPerPair * pairsPerCell)

  private def measureRows(spark: SparkSession,
                          rows: Seq[(Long, String, Int, Int)],
                          k: Int, minEst: Double,
                          budget: Long): Seq[CapRecallCell] = {
    import spark.implicits._
    val docs = rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val planted = rows.filter(_._1 % 2 == 0)
      .map(r => (r._1, r._1 + 1, r._3, r._4)).toDF("id_a", "id_b", "m", "q")
    def screen(maxJoinPairs: Long, compensate: Boolean, tag: String) =
      graft.dedup.Dedup.containmentSketchPairs(docs, "doc_id", "text",
          shingleSize = 3, k = k, minEst = minEst,
          maxJoinPairs = maxJoinPairs, capCompensate = compensate)
        .select(col("id_a"), col("id_b"),
          col("est_containment").as(s"est_$tag"))
    val unc = screen(0L, compensate = false, "unc")
    val cap = screen(budget, compensate = false, "cap")
    val comp = screen(budget, compensate = true, "comp")
    planted
      .join(unc, Seq("id_a", "id_b"), "left")
      .join(cap, Seq("id_a", "id_b"), "left")
      .join(comp, Seq("id_a", "id_b"), "left")
      .groupBy(col("m"), col("q"))
      .agg(count(lit(1)).as("n"),
        count(col("est_unc")).as("n_unc"),
        count(col("est_cap")).as("n_cap"),
        count(col("est_comp")).as("n_comp"),
        avg(col("est_unc")).as("mean_unc"),
        avg(col("est_cap")).as("mean_cap"),
        avg(col("est_comp")).as("mean_comp"))
      .collect().toSeq
      .map { r =>
        val m = r.getInt(0); val q = r.getInt(1)
        val shared = m + 10.0; val sa = m + q + 10.0
        val n = r.getLong(2)
        CapRecallCell(m, q, shared / sa, 10.0 / shared, m / sa, n,
          r.getLong(3).toDouble / n, r.getLong(4).toDouble / n,
          r.getLong(5).toDouble / n,
          Option(r.get(6)).fold(0.0)(_.asInstanceOf[Double]),
          Option(r.get(7)).fold(0.0)(_.asInstanceOf[Double]),
          Option(r.get(8)).fold(0.0)(_.asInstanceOf[Double]))
      }
      .sortBy(c => (c.m, c.q))
  }

  def main(args: Array[String]): Unit = {
    val pairsPerCell = if (args.nonEmpty) args(0).toInt else 200
    val spark = Session()
    // arg 2: boundary (r17 #2 fixture, default) | bulk (r18 #3 deep-cut
    // fixture — guard-disengaged recall curve) | both
    val mode = if (args.length > 1) args(1) else "boundary"
    def show(tag: String, cells: Seq[CapRecallCell]): Unit = {
      println(s"[caprecall] $tag: m q | c_true hot_frac floor=c(1-h) | " +
        "recall unc/cap/comp | mean_est unc/cap/comp")
      cells.foreach { c =>
        println(f"[caprecall] $tag ${c.m}%2d ${c.q}%2d | ${c.cTrue}%.3f " +
          f"${c.hotFrac}%.2f ${c.floor}%.3f | ${c.recallUncapped}%.3f " +
          f"${c.recallCapped}%.3f ${c.recallCompensated}%.3f | " +
          f"${c.meanEstUncapped}%.3f ${c.meanEstCapped}%.3f " +
          f"${c.meanEstCompensated}%.3f")
      }
    }
    if (mode == "boundary" || mode == "both")
      show("boundary", measure(spark, pairsPerCell))
    if (mode == "bulk" || mode == "both")
      show("bulk", measureBulk(spark, pairsPerCell))
    spark.stop()
  }
}
