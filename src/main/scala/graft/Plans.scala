package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for the headline queries into PLANS.md —
  * the plan-hygiene audit trail (pushdown, pruning, broadcast, codegen)
  * that PlanSpec asserts programmatically.
  *
  * The file is reproducible: the session is pinned to `local[4]` (so the
  * shuffle-partition count is 4 on every host) and [[masked]] replaces
  * run-local ids, so a change's PLANS.md diff shows only the plans it
  * changed and a rerun on the same code rewrites the file byte-identical.
  *
  * Run: `java -cp "target/scala-2.13/classes:SPARK_JARS" graft.Plans [sfDir]`
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.prepare(GraftSession.local("graft-plans", cores = 4))

    val headline = Seq(
      "q1_export_project", "q2_exclusion_join", "q3_federation",
      "q2_reconcile_count", "j1_revenue_by_nation", "j2_top_parts",
      "j5_pricing_summary", "j6_correlated_subquery", "j7_shipping_priority",
      "a1_asof_join", "r1_interval_join", "d3_minhash_lsh",
      "d6_embedding_neardup", "s2_lsh_topk", "e3_sessions",
      "w1_running_total", "n1_hash_sample", "v6_sequence_pack",
      "n6_bottomk_sample", "t8_repetition", "v7_tfidf_keywords",
      "e9_retention", "d9_incremental_dedup", "d10_span_dedup", "d11_incremental_span_dedup", "v8_chunk", "x9_tv_drift",
      "v9_curate", "y1_yql_project", "f3_schema_evolution",
      "x10_dq_audit", "u3_incremental_agg", "u5_incremental_topk",
      "s5_kmeans", "s6_semdedup", "t9_lm_score", "y11_yql_flatten",
      "d12_dup_pagerank", "j8_big_orders", "a2_asof_forward",
      "e10_transitions", "w6_range_window", "x13_chi_square",
      "d13_bloom_dedup", "m6_perceptual_dedup", "t10_url_filter",
      "w7_running_distinct", "x14_correlation", "u6_incremental_distinct",
      "e11_error_bursts", "j9_custdist", "y14_yql_modules",
      "d14_incremental_lsh", "x15_regression", "y15_yql_startof",
      "r4_gap_fill", "u7_incremental_join", "m7_phash_neardup",
      "v10_pipeline", "s8_graph_ann", "s7_incremental_ivf", "y16_yql_setops",
      "d15_segment_dedup", "u8_scd2_history", "t12_bm25",
      "d16_incremental_segment_dedup", "t11_quality_classifier",
      "r5_interval_union", "x16_mann_whitney", "f5_variant_extract",
      "t13_phrase_search", "s9_ivfpq", "t14_bpe", "n12_bpe_pack",
      "x17_cusum_drift", "f6_delta_roundtrip", "d17_record_linkage",
      "d18_boilerplate", "d19_setsim_join", "d20_incremental_cc",
      "x18_mad_outliers", "x3_percentiles", "v12_attrition",
      "u9_cdc_apply", "m8_crossmodal_dedup",
      "d19b_top_setsim", "t16_byte_bpe", "n13_byte_bpe_pack",
      "t17_classifier_train", "v2_decontaminate", "s10_hard_negatives",
      "t19_gold_classifier", "v13_ccnet_buckets", "v14_dsir_select",
      "m9_scene_cuts", "d21_quality_canonical", "s11_semantic_decontam",
      "t20_vocab_coverage", "s12_knn_probe", "m10_silence_segments",
      "s13_ann_recall")

    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `graft.Plans` over `$sfDir`. What to look for: " +
      "`PushedFilters` on scans, pruned `ReadSchema`, `BroadcastHashJoin` for dims, " +
      "partial→final `HashAggregate` pairs, wide `WholeStageCodegen` spans, " +
      "and the two-anti-join exclusion composition.\n"
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n${collapseRepeats(formatted(df))}```\n"
    }
    sb ++= reconcileSections(spark)
    Files.write(Paths.get("PLANS.md"), masked(sb.toString).getBytes(StandardCharsets.UTF_8))
    println(s"wrote PLANS.md (${headline.size + 2} plans)")
    Intermediates.releaseAll() // deletes s7's and s9's rehearsal indexes
    spark.stop()
  }

  /** Replace the ids that differ between two runs of the same plan:
    * lambda-variable counters (`x_203`) and expression ids (`id#106L`),
    * exchange `plan_id`s, JVM lambda class names and object identity
    * hashes of literals (`[B@1a2b3c`), RDD ids, the application id inside per-run
    * index paths, temp-directory suffixes and written files' UUIDs.
    */
  private def masked(plans: String): String =
    Seq("\\b([xyz])_\\d+#" -> "$1_n#", "#\\d+" -> "#x", "plan_id=\\d+" -> "plan_id=x",
        "\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$Lambda\\$x",
        "@[0-9a-f]{5,8}\\b" -> "@x", "RDD\\[\\d+\\]" -> "RDD[x]", "local-\\d+" -> "local-x",
        "(graft-[a-z0-9-]*-)\\d{6,}" -> "$1x",
        "part-(\\d+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}" -> "part-$1-x")
      .foldLeft(plans) { case (s, (re, to)) => s.replaceAll(re, to) }

  /** Collapse repeated subtree prints in a formatted plan. The tree
    * printer expands SHARED subtrees (cached relations, reused exchanges)
    * once per reference — a DAG rendered as a tree — so a multi-stage
    * pipeline like v10 whose stages each reference cached inputs several
    * times exploded to megabytes of repeated text while the runtime plan
    * shares one node (same id). Every node id's subtree prints in full
    * exactly once; later references keep the node line and replace the
    * subtree with a one-line pointer. The audit loses nothing: every
    * distinct operator still appears, with its id for cross-reference.
    */
  private[graft] def collapseRepeats(plan: String): String = {
    // tree lines END with the node id — the per-node details section
    // ("(N) NodeName" at column 0) re-lists every id and must never collapse
    val TreeNode = """.*\((\d+)\)\s*$""".r
    val seen = scala.collection.mutable.Set[String]()
    val out = new StringBuilder
    val lines = plan.split("\n", -1)
    // marker column = where the node text starts after the tree-drawing
    // prefix (spaces, ':', '+', '-'); subtree lines sit strictly deeper
    def markerCol(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
    var i = 0
    var skipDeeperThan = -1
    while (i < lines.length) {
      val l = lines(i)
      val col = markerCol(l)
      if (skipDeeperThan >= 0 && col > skipDeeperThan && col >= 0) {
        // inside a collapsed repeat — drop
      } else {
        skipDeeperThan = -1
        l match {
          case TreeNode(id) if col > 0 || !l.startsWith("(") =>
            if (seen(id)) {
              out ++= l ++ "  [shared subtree — printed at first reference above]\n"
              skipDeeperThan = col
            } else { seen += id; out ++= l += '\n' }
          case _ => out ++= l += '\n'
        }
      }
      i += 1
    }
    out.toString
  }

  /** The Q2 gate's frame (ExclusionJoin.count) over two copies of 3 months
    * of payment keys, one section per store layout. Co-bucketed on the PK,
    * the signed union keeps the scans' bucketing, so the only Exchange
    * left is the 1-row count rollup (`BucketedReconcileSpec` asserts
    * this); over plain parquet there is one data Exchange, no sort and no
    * join (`PipelineSpec` pins this).
    */
  private def reconcileSections(spark: SparkSession): String = {
    import graft.operators.{ExclusionJoin, ScaleJoins}
    import graft.pipeline.{CoolingPipeline, PaymentsGenerator}
    val keys = CoolingPipeline.reconcileKeys
    val payments = PaymentsGenerator.payments(spark, "2020-01-01", months = 3)
      .select(keys.map(org.apache.spark.sql.functions.col): _*)
    Seq("hot", "cold").foreach(side => ScaleJoins.writeBucketed(payments, s"plans_${side}_b", "id", 4))
    val dir = Files.createTempDirectory("graft-plans-q2-").toString
    Seq("hot", "cold").foreach(side => payments.write.parquet(s"$dir/$side"))
    def section(title: String, hot: org.apache.spark.sql.DataFrame, cold: org.apache.spark.sql.DataFrame) = {
      val frame = ExclusionJoin.diffCountFrame(hot, cold, keys)
      frame.collect() // runs this frame's own plan, so the adaptive plan prints final
      s"\n## $title\n\n```\n${formatted(frame)}```\n"
    }
    section("q2_reconcile_bucketed (co-bucketed stores — zero data Exchange)",
      spark.table("plans_hot_b"), spark.table("plans_cold_b")) +
      section("q2_reconcile_shuffle (parquet stores — one Exchange, no join)",
        spark.read.parquet(s"$dir/hot"), spark.read.parquet(s"$dir/cold"))
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
}
