package graft

import graft.pipelines.{DnsPipeline, EventsPipeline, FlowPipeline, ProxyPipeline, SuspiciousConnects}
import graft.queries.Fabrications
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Every entry is a named frame builder
  * ([[SparkEntry.queries]] or [[pipelines]]), timed by one loop and
  * materialized through the noop sink so every expression is fully
  * evaluated (a bare count() would let Catalyst prune the projected
  * expressions away and time only the scan). Per-layer attribution of a
  * pipeline's time is `python3 perfbench/run.py --workload <w> --trace 1`.
  *
  * ISOLATION (round 7): the suite FORKS A FRESH JVM PER QUERY FAMILY.
  * The r6 artifact proved a 60+-query single-JVM run self-contaminates at
  * JVM level — pipeline_events measured 26.6 s at sf0.1 vs 8.7 s on 30×
  * the data, d10 quadrupled with zero code change — through heap
  * fragmentation / shuffle-file / codegen-cache accretion that no per-rep
  * checkpoint sweep clears and the contender stamp cannot see. Each
  * family child pays its own Spark startup (untimed) and dies before the
  * next starts, so no query inherits another family's JVM state. A child
  * is this main with SPARK_GRAFT_BENCH_OUT set.
  *
  * CONTAMINATION STAMP: any query whose median exceeds 2× its own min-rep
  * by more than a second is listed under "suspect" in the JSON — the r6
  * failure mode (medians silently passing while 3× off their own floor)
  * becomes machine-visible in the artifact itself. */
object Bench {

  /** Headline queries grouped into JVM-isolation families: one child JVM
    * per family, members ordered as they run. Families group operators
    * that share warm state (same tables, same code paths) so the per-child
    * JIT warmup is amortized where it helps and discarded where it
    * poisons. */
  private[graft] val families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq(
      "s1_scan_project", "p2_range_predicate", "j1_equi_join", "j4_semi_join",
      "a1_group_count", "a3_group_sum", "a6_ecdf", "a12_hll_distinct",
      "t1_topk", "w1_window_cumsum", "g1_rollup", "j7_asof_join",
      "j9_salted_join", "a13_cms_counts", "j10_bloom_semi",
      "a14_hdr_quantiles", "g2_pagerank", "z1_zorder", "a15_cms_heavy",
      "a16_kmv_setops", "g3_triangles", "z3_manifest_prune",
      "g4_cube", "u3_unpivot", "w4_lag_lead", "j11_star_join",
      "t5_grouped_topk", "a17_profile_num", "a17b_profile_str",
      "a18_psi_drift", "u4_snapshot_diff", "z4_compact",
      "j12_interval_overlap", "u5_merge", "g5_label_prop", "w5_funnel",
      "u6_scd2", "j7d_asof_tolerance", "z5_partition_prune",
      "o1_orc_roundtrip", "o2_jsonl_roundtrip", "g6_recursive_reach"),
    "features" -> Seq(
      "f3_bin", "f4_entropy", "f8_flow_words", "x2_quality", "x3_langid",
      "c2_gopher_rules", "x18_c4_filter", "x22_normalize",
      "f15_sql_surface", "f16_variant"),
    "textops" -> Seq(
      "x27_chunk_overlap", "x28_pmi_collocations",
      "x11b_pack_concat", "x12_class_balance", "x13_top_ngrams",
      "x14_mixture", "x21_temperature_mix", "x23_shuffle_shards",
      "x24_pseudonymize", "x17_dsir_select", "x29_weighted_sample",
      "x30_quality_classifier", "x31_unigram_vocab", "x32_unigram_encode",
      "x35_html_strip", "x40_url_canonicalize", "d14_url_dedup",
      "x41_link_graph", "x42_anchor_text", "x43_link_density"),
    "dedup" -> Seq(
      "d1_exact_dedup", "d2_ngram_jaccard", "d3_minhash_lsh", "d4_simhash",
      "d6_near_dup_clusters", "d7_dup_spans", "w3_sessionize"),
    "dedup2" -> Seq(
      "d8_retain_best", "d9_simhash_pairs", "d9b_simhash_wide",
      "d13_simhash_clusters", "d13b_simhash_clusters_wide",
      "d10_incremental_lsh", "d11_edit_pairs",
      "d12_prefix_jaccard", "d12b_prefix_clean", "x33_tfidf_cosine",
      "x7b_fuzzy_decontaminate", "x15_cluster_split", "x16_lm_score",
      "x19_span_removal", "x20_line_dedup"),
    "bpe" -> Seq("x25_bpe_train", "x26_bpe_encode"),
    "vector" -> Seq(
      "v1_norm", "v2_cosine_topk", "v3_ivf_assign", "v4b_cell_near_dup",
      "v4c_scaled_cells", "v6b_lsh_scaled", "v7_kmeans", "v13_random_project",
      "v14_dim_stats", "v15_l2_normalize", "v20_gram", "v21_pca_project"),
    "pq" -> Seq(
      "v8b_pq_train", "v8_pq_encode", "v9_pq_adc", "v11_ivfpq",
      "v11b_ivfpq_indexed", "v12_ann_recall", "v16_sq8_encode",
      "v17_sq8_adc", "v18_adc_rerank", "v19_binary_hamming"),
    "semantic" -> Seq("v10_semantic_dedup", "c1_curation"),
    "media" -> Seq("m4_png_stats", "m5_resize_stats", "m6_jpeg_stats",
      "m7_avi_frames", "m8_wav_resample", "m9_image_dhash",
      "m10_gif_stats", "m11_gif_frames", "m12_png_palette",
      "m13_png_interlaced", "m14_png_deep", "m15_jpeg_progressive",
      "m16_avi_mjpg", "m17_flac_stats", "m18_audio_transcode", "x36_warc_extract", "x37_warc_datasource", "x38_webdataset",
      "x39_webdataset_images"),
    // Streaming gates as TIMED entries (each runs its MemoryStream /
    // file-arrival micro-batches to completion inside the timed body), so
    // a state-store or sink regression shows up as a timing, not only as
    // the correctness gate's green/red.
    "streaming" -> Seq(
      "st1_stream_c4_parity", "st2_stream_dedup", "st3_stream_window",
      "st4_stream_sessions", "st5_stream_join", "st6_stream_hll",
      "st7_stream_upsert", "st8_stream_late", "st9_stream_psi",
      "st10_stream_sliding", "st11_stream_static", "st12_stream_dedup_wm",
      "st13_stream_left_outer", "st14_stream_warc",
      "st15_stream_url_frontier"),
    "pipeline" -> Seq("pipe_events_fixedmodel", "pipeline_events"),
    // Flow/dns/proxy full train+score pipelines (r10 verdict: the
    // events-only bench is blind to shape-specific LDA/cuts regressions —
    // flow's dual-perspective corpus is ~2× events' doc count, dns/proxy
    // carry the subdomain/agent featurize shapes). Each pipeline family
    // forks its own JVM like the rest of the suite.
    "pipeline_flow" -> Seq("pipeline_flow"),
    "pipeline_dns" -> Seq("pipeline_dns"),
    "pipeline_proxy" -> Seq("pipeline_proxy"))

  /** The four suspicious-connects pipelines, each its `train` then its
    * `results` (featurize → LDA → score → top-k), keyed `pipeline_<name>`.
    * All train at topicCount = 10 / maxIter = 10 so cross-pipeline numbers
    * compare like for like; the flow/dns/proxy inputs are the fabrications
    * the golden gates run on. Training runs inside the timed body. */
  private[graft] val pipelines: Map[String, (SparkSession, String) => DataFrame] = {
    def entry(p: SuspiciousConnects, popular: Set[String])(
        input: (SparkSession, String) => DataFrame) =
      s"pipeline_${p.name}" -> ((s: SparkSession, dir: String) => {
        val in = input(s, dir)
        val m = p.train(in, SuspiciousConnects.popularFrame(s, popular),
          topicCount = 10, maxIter = 10)
        p.results(in, m, threshold = 1.0, topK = 100)
      })
    Map(
      entry(EventsPipeline, Set.empty)(Tables.load(_, _, "events")),
      entry(FlowPipeline, Set.empty)((s, dir) =>
        Fabrications.flowInput(Tables.loadSpread(s, dir, "events"))),
      entry(DnsPipeline, Fabrications.DnsPopular)((s, dir) =>
        Fabrications.dnsInput(Tables.loadSpread(s, dir, "documents"))),
      entry(ProxyPipeline, Set.empty)((s, dir) =>
        Fabrications.proxyInput(Tables.loadSpread(s, dir, "events"))))
  }

  /** One discarded warm-up rep per query absorbs the fork-per-family
    * cold-JVM cost (r7's fix traded contamination for 0.1-0.3 s JIT
    * upticks on every sub-second query: s1 0.22→0.33, j1 0.43→0.66), so
    * medians measure the plan, not classloading. */
  private val WarmupReps = 1

  /** Concurrent heavyweight processes (other JVMs, DuckDB oracles) — the
    * round-4 bench artifact was measured alongside still-streaming oracle
    * jobs and its medians disagreed with idle-machine re-runs by 5-25×.
    * Anything java/duckdb/pyspark outside this process's own ancestor
    * chain (sbt, the driver) AND outside its own child fork counts as a
    * contender. */
  private def contenders(children: Set[Long] = Set.empty): Seq[String] = {
    val anc = collection.mutable.Set[Long]()
    var cur: java.util.Optional[ProcessHandle] =
      java.util.Optional.of(ProcessHandle.current())
    while (cur.isPresent) { anc += cur.get.pid(); cur = cur.get.parent() }
    val out = collection.mutable.ArrayBuffer[String]()
    val procs = Option(new java.io.File("/proc").listFiles())
      .getOrElse(Array.empty)
    procs.foreach { f =>
      if (f.getName.nonEmpty && f.getName.forall(_.isDigit)) {
        val pid = f.getName.toLong
        if (!anc.contains(pid) && !children.contains(pid)) {
          try {
            val cmd = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/$pid/cmdline")))
              .replace('\u0000', ' ').trim
            val exe = cmd.split(' ').headOption.getOrElse("")
            if (exe.endsWith("java") || cmd.contains("duckdb") ||
                cmd.contains("pyspark"))
              out += s"$pid ${cmd.take(60)}"
          } catch { case _: Throwable => } // raced exit; not a contender
        }
      }
    }
    out.toSeq
  }


  /** Per entry: its median over `reps` timed runs, and its (min, max). */
  private type Timings = collection.mutable.LinkedHashMap[String, (Double, Double, Double)]

  /** One family's suite pass inside THIS JVM (the child body): times
    * `names` in order. Returns (timings, contenders). */
  private def runSuite(sfDir: String, names: Seq[String], reps: Int):
      (Timings, Seq[String]) = {
    val contendersAtStart = contenders()
    if (contendersAtStart.nonEmpty) {
      System.err.println(s"[bench] WARNING: concurrent heavyweight processes:")
      contendersAtStart.foreach(c => System.err.println(s"[bench]   $c"))
      if (sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1")) {
        System.err.println("[bench] SPARK_GRAFT_BENCH_STRICT=1 — refusing to run")
        sys.exit(2)
      }
    }
    val spark = GraftSession.fromEnv()

    // Untimed warmup: touch every table once and run one tiny shuffle so
    // JIT/classloading/scan setup don't land on the first timed query.
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
      "region", "events", "documents", "embeddings").foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => }
    }
    spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7)
      .as("k")).count().write.format("noop").mode("overwrite").save()

    def timeOnce(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 // explicit failure marker, not a fast success
      }
    }

    // EVERY query is timed `reps`× and reports its MEDIAN — single-run
    // numbers proved unusable round-over-round (shared-JVM/GC noise
    // produced 1.4-4.9× phantom swings on 1-6 s queries); the min/max
    // spread is emitted alongside so a regression can be told from noise.
    // Each rep runs in a checkpoint scope: operators localCheckpoint their
    // intermediates, and without the scope those blocks outlive the query
    // and poison later entries' GC (the r4 suite-position effect). The
    // unpersist itself is untimed (after the rep's clock stops). A warm-up
    // failure still marks the query failed — a crash must never read as a
    // skip, and neither may a name no builder answers to.
    val entries = SparkEntry.queries ++ pipelines
    val timed: Timings = collection.mutable.LinkedHashMap()
    names.foreach { name =>
      timed(name) = entries.get(name) match {
        case None =>
          System.err.println(s"[bench] $name unknown entry")
          (-1.0, -1.0, -1.0)
        case Some(build) =>
          val ts = Seq.fill(WarmupReps + reps) {
            var t = -1.0
            CheckpointScope.withScope(spark) {
              t = timeOnce(name) {
                build(spark, sfDir).write.format("noop").mode("overwrite").save()
              }
            }
            t
          }
          if (ts.contains(-1.0)) (-1.0, -1.0, -1.0)
          else {
            val sorted = ts.drop(WarmupReps).sorted
            (sorted(reps / 2), sorted.head, sorted.last)
          }
      }
    }

    val allContenders = (contendersAtStart ++ contenders()).distinct
    spark.stop()
    (timed, allContenders)
  }

  /** Fork one child JVM per family and merge their results. The child is
    * THIS main with ONLY=<family members> and OUT=<tsv path>; it inherits
    * the parent's full JVM flags (add-opens, -Xmx, -D props) and
    * classpath, so child Spark == parent Spark. */
  private def runForked(selected: String => Boolean): (Timings, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java")
      .toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cp = sys.props("java.class.path")
    val outDir = ScratchDirs.create("bench")
    val timed: Timings = collection.mutable.LinkedHashMap()
    val contNames = collection.mutable.LinkedHashSet[String]()
    families.foreach { case (fam, members) =>
      val effective = members.filter(selected)
      if (effective.nonEmpty) {
        val out = outDir.resolve(s"$fam.tsv")
        val cmd = (Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", cp, "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.directory(new java.io.File(sys.props("user.dir")))
        val env = pb.environment()
        env.put("SPARK_GRAFT_BENCH_ONLY", effective.mkString(","))
        env.put("SPARK_GRAFT_BENCH_OUT", out.toString)
        env.remove("SPARK_GRAFT_BENCH_SKIP") // already applied above
        // child stderr joins ours; child stdout must NOT reach our stdout
        // (the driver parses ONE JSON line) — drain it to stderr instead
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        System.err.println(s"[bench] forking family $fam: " +
          effective.mkString(", "))
        val t0 = System.nanoTime()
        val proc = pb.start()
        val drain = new Thread(() => {
          val src = scala.io.Source.fromInputStream(proc.getInputStream)
          try src.getLines().foreach(l => System.err.println(s"[$fam] $l"))
          finally src.close()
        })
        drain.setDaemon(true); drain.start()
        val code = proc.waitFor()
        drain.join(2000)
        System.err.println(f"[bench] family $fam exited $code " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1f s wall)")
        val got = collection.mutable.Map[String, (Double, Double, Double)]()
        if (java.nio.file.Files.exists(out)) {
          scala.io.Source.fromFile(out.toFile).getLines().foreach { line =>
            line.split("\t") match {
              case Array("Q", name, med, lo, hi) =>
                got(name) = (med.toDouble, lo.toDouble, hi.toDouble)
              case Array("C", c) => contNames += c
              case _ =>
            }
          }
          java.nio.file.Files.deleteIfExists(out)
        }
        // a member the child never reported (it died first): explicit failure
        effective.foreach(n => timed(n) = got.getOrElse(n, (-1.0, -1.0, -1.0)))
      }
    }
    (timed, contNames.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Large-replica scale runs: skip entries whose cost model is already
    // documented (v4b's deliberate n²/k) and drop the rep count — medians
    // matter at 1-6 s where JVM noise is comparable, not at 100+ s. Both
    // knobs default to the driver contract (no skips, 3 reps); a skipped
    // query is absent from the JSON, never silently fast.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_BENCH_ONLY: comma list — time ONLY these queries (for
    // targeted scale points, e.g. v9 vs v11 growth curves, without paying
    // for the whole suite at a large replica). Composes with SKIP.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    def selected(name: String): Boolean =
      !skip(name) && only.forall(_.contains(name))

    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(path) => // child mode: machine lines for the parent, no JSON
        val (timed, conts) =
          runSuite(sfDir, families.flatMap(_._2).filter(selected), reps)
        val sb = new StringBuilder
        timed.foreach { case (n, (med, lo, hi)) =>
          sb.append(f"Q\t$n\t$med%.4f\t$lo%.4f\t$hi%.4f\n")
        }
        conts.foreach(c => sb.append(s"C\t$c\n"))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
          sb.toString)
      case None => report(runForked(selected), reps, sfDir)
    }
  }

  /** Print the compact JSON line and write the full one to
    * BENCH_LOCAL.json. */
  private def report(result: (Timings, Seq[String]), reps: Int,
                     sfDir: String): Unit = {
    val (timed, conts) = result
    // Contamination stamp: a median more than 2× its own min-rep (and more
    // than a second over it — sub-second queries bounce on scheduler
    // noise) is NOT a trustworthy median; r6's poisoned entries (26.6 s
    // vs 8.6 min-rep) would all have carried this stamp. Failed entries
    // (-1) are already explicit.
    val suspect = timed.collect {
      case (n, (med, lo, _)) if med > 0 && lo > 0 && med > 2 * lo &&
        med - lo > 1.0 => n
    }.toSeq

    val qs = timed.map { case (k, (v, _, _)) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val sp = timed.map { case (k, (_, lo, hi)) => "\"" + k + f"\":[$lo%.3f,$hi%.3f]" }
      .mkString("{", ",", "}")
    val total = timed.values.map(_._1).filter(_ > 0).sum
    val contended = if (conts.isEmpty) "" else {
      val list = conts.map(c => "\"" + c.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
      s""","contended":true,"contenders":$list"""
    }
    val sus = if (suspect.isEmpty) ""
      else suspect.map("\"" + _ + "\"").mkString(""","suspect":[""", ",", "]")
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_reps":$reps,"forked":true,"queries":$qs,"spread":$sp$sus$contended,"sf":"$sfDir"}"""
    // The driver's per-round artifact keeps only the LAST 2000 chars of
    // stdout (r5's tail cut the line's head off → "parsed": null in r3,
    // r4 AND r5). stdout therefore gets a COMPACT line — 2-decimal
    // medians and the contention/suspect stamps, no spread — sized to
    // survive the window (~1.7 KB at 67 queries) with sbt's trailing
    // "[success]" line after it; the FULL record (spreads) is the
    // BENCH_LOCAL.json file.
    val qsc = timed.map { case (k, (v, _, _)) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    val compact = f"""{"metric":"total","value":$total%.2f,"unit":"sec","n_reps":$reps,"forked":true,"queries":$qsc$sus$contended,"sf":"$sfDir"}"""
    println(compact)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), json + "\n")
  }
}
