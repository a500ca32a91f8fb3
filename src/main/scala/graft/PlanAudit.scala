package graft

import org.apache.spark.sql.execution.SparkPlan

/** Dev tool: one-line physical-plan audit of every (non-streaming)
  * declared query — Exchange count, join strategies, and the known
  * plan smells (SortAggregate, Expand, CartesianProduct, interpreted
  * ObjectHashAggregate) — so "every operator examined" is a grep, not
  * an assertion. Streaming queries are skipped by default: their
  * returned frame is the post-fixture read-back, whose plan says
  * nothing about the stream (StreamProbe decomposes those).
  *
  * Counts come from a TREE WALK, not the plan string: a settled
  * (persisted) query's adaptive plan prints BOTH its final and initial
  * sections in toString, double-counting every operator (the round-12
  * audit's mysterious 138-exchange dd_pipeline_manifest reading was
  * exactly this). The walk descends into adaptive plans' CURRENT
  * physical plan, query stages, and cached InMemoryRelations — each
  * operator once — and counts ReusedExchange separately (a reuse is
  * plan-tree sharing, not an extra shuffle; its subtree is NOT
  * re-walked).
  * `runMain graft.PlanAudit [sfDir] [namePrefix]`.
  */
object PlanAudit {

  /** Every operator in the EXECUTED tree exactly once — dedup is by
    * OBJECT IDENTITY, so a subtree referenced twice (stage reuse —
    * `QueryStageExec.plan` can itself be a ReusedExchange whose target
    * is only reachable through it) is still counted once, and a
    * subtree reachable ONLY through a reuse node is not lost.
    */
  private def walk(root: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.ReusedSubqueryExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def go(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case r: ReusedExchangeExec => go(r.child)
        case r: ReusedSubqueryExec => go(r.child)
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case m: InMemoryTableScanExec => go(m.relation.cachedPlan)
        case other => other.children.foreach(go)
      }
    }
    go(root)
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val prefix = if (args.length > 1) Some(args(1)) else None
    val spark = Session(logLevel = "ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("st_"))
      .filter(n => prefix.forall(n.startsWith))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val kinds = walk(df.queryExecution.executedPlan)
          .map(_.getClass.getSimpleName.stripSuffix("Exec"))
          .toSeq.groupBy(identity).view.mapValues(_.size).toMap
        def c(k: String) = kinds.getOrElse(k, 0)
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
          .map(j => j -> c(j)).filter(_._2 > 0)
          .map { case (j, n) => s"$j:$n" }.mkString(",")
        println(s"$name exchanges=${c("ShuffleExchange")} " +
          s"reusedEx=${c("ReusedExchange")} bcastEx=${c("BroadcastExchange")} " +
          s"joins=[$joins] " +
          s"sortAgg=${c("SortAggregate")} objAgg=${c("ObjectHashAggregate")} " +
          s"expand=${c("Expand")} window=${c("Window")}")
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        println(s"$name AUDIT-ERROR ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(120))
      }
    }
    spark.stop()
  }
}
