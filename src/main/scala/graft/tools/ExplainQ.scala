package graft.tools

import org.apache.spark.sql.DataFrame

/** Dump `.explain("formatted")` of catalog queries, or of the raw
  * (pre-checkpoint) pipelines behind some of them, to files — the plan
  * evidence for optimization work (plans/<q>_{before,after}.txt). A raw plan
  * shows what the optimizer did; a catalog entry that reads a checkpoint
  * shows only the scan of it. Usage:
  *   runMain graft.tools.ExplainQ <sfDir> <outDir> <suffix> <spec...>
  * with each spec one of
  *   <q>                  catalog query q, written to <q>_<suffix>.txt
  *   all                  every catalog query
  *   <name>=catalog:<q>   catalog query q, written to <name>_<suffix>.txt
  *   <name>=<raw>         a raw plan below, written to <name>_<suffix>.txt
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ExplainQ <sfDir> <outDir> <suffix> <spec...>")
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val s = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    s.sparkContext.setLogLevel("ERROR")
    val raw: Map[String, () => DataFrame] = Map(
      "user_cf_pairs_slice" -> (() => graft.analytics.RelQueries.userCfPairsPlan(s, sfDir)),
      "itemset_triples_slice" -> (() => graft.analytics.RelQueries.triplesSlice(s, sfDir)),
      "lsh_tuning_cands" -> (() => graft.operators.TextOps.lshTuningCandsPlan(s, sfDir)),
      "simhash_cands" -> (() => graft.operators.TextOps.simhashCandsPlan(s, sfDir)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val specs = args.drop(3).toSeq.flatMap {
      case "all" => graft.SparkEntry.queries.keys.toSeq.sorted.map(q => q -> s"catalog:$q")
      case spec if spec.contains("=") =>
        val Array(name, plan) = spec.split("=", 2)
        Seq(name -> plan)
      case q => Seq(q -> s"catalog:$q")
    }
    specs.foreach { case (name, plan) =>
      val df =
        if (plan.startsWith("catalog:"))
          graft.SparkEntry.queries(plan.stripPrefix("catalog:"))(s, sfDir)
        else raw(plan)()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val out = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(out, txt)
      println(s"EXPLAINED $name -> $out")
    }
    s.stop()
  }
}
