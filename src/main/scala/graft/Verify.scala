package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [entryName...] — trailing names restrict the
    // dump to those entries (local iteration); the driver passes exactly 2
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    only.filterNot(SparkEntry.queries.contains)
      .foreach(n => System.err.println(s"[verify] unknown entry: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.create(s"local[$cpus]", federation = false)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a stale success from a previous run into the same outDir would
        // make the differ report a false OK for a now-broken query
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
      // ops persist() self-join intermediates; don't let 50+ queries
      // accumulate cached blocks in one session
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracleSqlFor: fixture-parametric oracles (dedup_semantic's Lloyd k)
    // are regenerated for THIS sfDir — identical to oracleSql at the gate
    // SF, value-matched at audit SFs. Targeted runs that exclude every
    // parametric entry skip the fixture-count job the regeneration costs.
    val needsParametric = only.isEmpty || only("dedup_semantic")
    val json =
      (if (needsParametric) SparkEntry.oracleSqlFor(spark, sfDir)
       else SparkEntry.oracleSql)
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
