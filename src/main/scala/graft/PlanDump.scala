package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-evidence dump: `.explain("formatted")` of each named gate to
  * `<outDir>/<gate>_<suffix>.txt` — the before/after artifacts the
  * optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <gate1,gate2,...>
  * (sf dir from SPARK_GRAFT_SF_DIR, cores from SPARK_GRAFT_CPUS —
  * same session shape as Bench so the plans match what it times).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (outDir, suffix, gates) = (args(0), args(1), args(2).split(","))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession("graft-plandump")
    new java.io.File(outDir).mkdirs()
    gates.map(_.trim).filter(_.nonEmpty).foreach { g =>
      val df = SparkEntry.queries(g)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(s"$outDir/${g}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${g}_$suffix.txt")
    }
    spark.stop()
  }
}
