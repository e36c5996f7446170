package graft.tools

/** Prints the formatted physical plan of selected declared queries —
  * the plan-review loop (pushdown reaching the scan, broadcast vs shuffle
  * joins, partial aggregation, whole-stage codegen spans).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> [queryName ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // `--all` sweeps the whole declared catalog (the round-16 plan-audit
    // loop: grep the dump for Exchange counts / join strategies /
    // PushedFilters per query)
    val names = if (args.length > 1 && args(1) == "--all")
      graft.ops.Catalog.all.map(_.name)
    else if (args.length > 1) args.drop(1).toSeq
    else Seq("q_filter", "q_project", "q_join_broadcast", "q_join_sortmerge",
      "q_agg", "q_topk", "q_sim_topk")
    val spark = Harness.session(4, 4, Harness.NanosAsLong)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // a sweep must survive one query's construction failing (some
      // queries execute eagerly while building — streams, index writes)
      // non-fatal only: an OOM/LinkageError means a corrupted JVM whose
      // continued sweep would lie — let those propagate
      try graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case scala.util.control.NonFatal(e) =>
        println(s"[plandump] $n FAILED during construction: ${e.getMessage}")
      }
      graft.ops.CacheUtils.releaseAll(spark)
    }
    spark.stop()
  }
}
