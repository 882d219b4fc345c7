package graft.tools

import graft.queries.Registry

/** Dump `.explain("formatted")` for a list of registry queries into
  * files — the plan evidence the optimization rounds commit under
  * `plans/r<N>/`.
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> q1,q2,..  [sfDir]"
  *
  * Writes `<outDir>/<query>_<suffix>.txt`. Same session shape as
  * [[graft.Bench]] (local[$SPARK_GRAFT_CPUS], 32 shuffle partitions,
  * Graft extensions) so the dumped plan is the plan the bench runs.
  * Note: for lifecycle queries the dumped plan is the FINAL read the
  * query returns; the mutation journey itself is job-sequenced (see
  * [[QueryJobProfile]] for that decomposition).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Boot.session("graft-plan-dump", s"local[$cpus]", 32,
      "spark.sql.limit.initialNumPartitions" -> "64")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val q = Registry.all.find(_.name == name)
        .getOrElse(sys.error(s"unknown query $name"))
      val df = q.run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
