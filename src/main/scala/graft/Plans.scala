package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps the physical plan of each headline query to
  * PLANS.md so the audit trail regenerates from the SHIPPED code with one
  * command (round 2's hand-captured file went stale within 30 minutes of a
  * fix). AQE is disabled for readability — the recorded shapes are the
  * static plans; AQE only improves on them at runtime (skew splits,
  * broadcast demotion/promotion).
  *
  * The dump is not committed (PLAN_DIGESTS.json is the gated plan-shape
  * record); regenerate it on demand.
  *
  * Usage: `scripts/run_main.sh graft.Plans [sfDir] [outFile]` after
  * `sbt compile`, or `sbt "runMain graft.Plans [sfDir] [outFile]"`.
  */
object Plans {
  /** EVERY declared query, alphabetically — the round-5 verdict found the
    * curated headline list had drifted (two of the five most expensive
    * queries unaudited); the full surface can't drift.
    */
  val headline: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Normalized plan-shape digest: the multiset of physical operator
    * class names (execution wrappers stripped, so the digest is identical
    * with AQE on or off) plus a per-scan summary
    * `scan:<table>[<#cols>,pushed?]`, written as sorted `name=count`
    * pairs so a drift message shows which count moved. PLAN_DIGESTS.json
    * records one per declared query; PlanDigestSpec fails on ANY drift
    * unless the file is regenerated in the same commit — a broadcast
    * demoted to a sort-merge join, a lost filter pushdown, or a new
    * exchange cannot slip through a refactor unreviewed.
    */
  def digest(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution._
    val skip = Set("WholeStageCodegenExec", "InputAdapter",
      "AdaptiveSparkPlanExec", "ResultQueryStageExec")
    val parts = graft.plans.PlanWalk.collectDeep(
        df.queryExecution.executedPlan) {
      case s: FileSourceScanExec =>
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        val pushed =
          if (s.metadata.getOrElse("PushedFilters", "[]") != "[]") ",pushed"
          else ""
        Some(s"scan:$table[${s.requiredSchema.fields.length}$pushed]")
      case p =>
        val n = p.getClass.getSimpleName.stripSuffix("$")
        if (skip(n)) None else Some(n)
    }.flatten
    parts.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, c) => s"$k=${c.size}" }.mkString(";")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.create(appName = "graft-plans", master = "local[8]",
      shufflePartitions = Some(8))
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val sb = new StringBuilder
    sb.append("# PLANS — captured physical plans (sf0.01, AQE off for readability)\n\n")
    sb.append("Regenerate with `sbt \"runMain graft.Plans\"` — do not hand-edit.\n")
    sb.append("What to look for: `PushedFilters` and pruned `ReadSchema` on every\n")
    sb.append("scan, `BroadcastHashJoin` for dimension joins, partial/final\n")
    sb.append("`HashAggregate` pairs, and no unexpected `Exchange`. The only\n")
    sb.append("`BroadcastNestedLoopJoin`s anywhere have a PARAMETER-SIZED broadcast\n")
    sb.append("side by construction — `sim_topk`'s bounded query set (the exact\n")
    sb.append("baseline, deliberately exhaustive), the corpus×centroid /\n")
    sb.append("sample×codebook assignment crosses of the IVF/PQ family (nlist or\n")
    sb.append("m·ksub rows — the inherent O(N·nlist) quantizer assignment), and\n")
    sb.append("`text_bm25`'s ONE-row corpus-stats cross. Never corpus×corpus.\n")
    sb.append("The full bounded-cross inventory (with per-entry bounds) lives in\n")
    sb.append("QuerySweepSpec.boundedCrossAllowed, enforced over every query.\n\n")

    headline.foreach { name =>
      val fn = SparkEntry.queries(name)
      val plan =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Exception => s"PLANNING FAILED: ${e.getMessage}" }
      sb.append(s"## $name\n\n```\n").append(plan.trim).append("\n```\n\n")
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${headline.size} plans to $outFile")
    spark.stop()
  }
}
