package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Physical-plan snapshot dump: one `plans/<query>.txt` per selected
  * query (formatted explain). The snapshots are committed so plan-shape
  * changes show up in review diffs — the `.explain`-and-iterate loop the
  * scale design depends on, made persistent. The committed snapshots
  * were produced at 8 cores; regenerate with:
  *   SPARK_GRAFT_CPUS=8 tools/run_graft.sh graft.PlanDump /root/testdata/sf0.001 plans
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "plans"
    val spark = Runner.session()
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    Runner.selected().foreach { q =>
      try {
        val plan = q.run(spark, sfDir).queryExecution.explainString(mode)
        // strip run-specific noise (paths, plan ids drift per run; paths
        // leak tmp dirs) so diffs show only real shape changes
        val cleaned = plan
          .replaceAll("file:[^\\s,\\]]*", "<path>")
          .replaceAll("plan_id=\\d+", "plan_id=#")
          .replaceAll("#\\d+", "#N")
          .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[#]")
          // JVM lambda class ids + identity hashes churn per run
          .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+(@[0-9a-f]+)?", "Lambda\\$#")
          .replaceAll("@[0-9a-f]{6,}", "@#")
          // the lambda-variable counter is global: an unrelated new query
          // shifts every later query's x_NN/y_NN names
          .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_#")
          // localCheckpoint call-site line numbers churn on unrelated
          // edits to the same source file
          .replaceAll("at ([A-Za-z]+\\.scala):\\d+", "at $1:#")
        Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), cleaned)
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] ${q.name} failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
