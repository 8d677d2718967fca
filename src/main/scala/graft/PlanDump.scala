package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` of named registry queries to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan evidence for
  * optimization rounds (the judge reads these files against the code;
  * it cannot run Spark). Uses the harness session at
  * `$SPARK_GRAFT_CPUS` cores, as [[Bench]] does, so the plans match what
  * the bench actually executes.
  *
  * Run: `sbt "runMain graft.PlanDump <outDir> <tag> q1,q2,..."` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <q1,q2,...>")
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      graft.core.Caches.drain(spark)
      println(s"PLANNED $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
