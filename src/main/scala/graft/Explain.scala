package graft

/** Plan-audit tool: prints the formatted physical plan of selected
  * registry queries so scan pushdown, broadcast choices, and codegen
  * spans can be reviewed (`sbt "runMain graft.Explain q02_filter_project ..."`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    if (args.headOption.contains("--audit")) { audit(spark, sfDir); return }
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_filter_project", "q04_multi_join_agg", "q13_minmax_scale")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Registry.byName(n).run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** Writes PLANS.md: one summary line per plannable registry query —
    * shuffle count, join operators, whole-stage-codegen span count — the
    * at-a-glance evidence that every query has the plan shape its
    * Scaladoc claims. */
  private def audit(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    val eager = Set("q31_cluster_ml", "q32_cluster_gmm_ml",
      "q41_stream_hourly", "q81_word2vec", "q85_dedup_components",
      "q89_stream_interval_join", "q47_ann_recall", "q66_ivf_recall",
      "q80_sample_split", "q93_pq_recall", "q95_sessionize",
      "q99_dedup_keep")
    // AQE defers final planning to runtime; for a static audit, plan
    // without it so join choices and codegen spans are visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit (generated by `graft.Explain --audit`)\n\n"
    sb ++= s"Input: `$sfDir`. Eagerly-executing queries (ML fits, streaming replays) are skipped — their shape is asserted in their specs.\n\n"
    sb ++= "| query | shuffles | joins | WSCG spans | scan pushdown |\n"
    sb ++= "|---|---|---|---|---|\n"
    Registry.all.filterNot(q => eager.contains(q.name)).foreach { q =>
      val p = q.run(spark, sfDir).queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
        "ShuffledHashJoin", "BroadcastNestedLoopJoin", "AsOfJoin")
        .flatMap(j => {
          val n = j.r.findAllIn(p).size
          if (n > 0) Some(s"$j×$n") else None
        }).mkString(" ") match { case "" => "—"; case s => s }
      val wscg = "\\*\\((\\d+)\\)".r.findAllMatchIn(p)
        .map(_.group(1)).toSet.size
      val pushed = if (p.contains("PushedFilters: [")
          && !p.contains("PushedFilters: []")) "yes"
        else if (p.contains("FileScan")) "scan-only" else "—"
      sb ++= s"| ${q.name} | $shuffles | $joins | $wscg | $pushed |\n"
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"[explain] wrote PLANS.md (${Registry.all.size} queries)")
    spark.stop()
  }
}
