package graft
import org.apache.spark.sql.SparkSession
import org.json4s.JString
import org.json4s.jackson.JsonMethods.compact
import graft.queries.QueryDef
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected query's result → parquet under
  * `<outDir>/<name>`, plus oracle_sql.json, for the DuckDB oracle
  * compare (`tools/check_oracle.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Runner.session()
    dump(spark, sfDir, outDir, Runner.selected())
    spark.stop()
  }

  def dump(spark: SparkSession, sfDir: String, outDir: String, picked: Seq[QueryDef]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    picked.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // a control char left raw in an oracle SQL would make the compare's
    // json.load fail and silently zero the round's correctness
    def q(s: String): String = compact(JString(s))
    val json = picked.flatMap(d => d.oracle.map(sql => s"${q(d.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
