package graft

import java.nio.file.{Files, Paths}

/** Dev tool (r19 optimization round): dump `.explain("formatted")` for
  * named SparkEntry queries to files — the before/after plan evidence the
  * optimization deliverables require (`plans/r19/<query>_{before,after}.txt`).
  *
  * args: <sfDir> <outDir> <suffix> [entryName...]
  * writes <outDir>/<entry>_<suffix>.txt for each entry (all entries when
  * none are named). The session is built like graft.Bench's (both go
  * through [[Engine.create]]), so the captured plan is the plan the bench
  * executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.create(s"local[$cpus]", federation = false)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
