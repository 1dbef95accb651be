package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (`scripts/check.py`) and
  * verify_errors.json (query → exception class and message, `{}` when every
  * query dumped). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: only dump these queries (local iteration aid;
    // the driver always calls with exactly two args = full dump)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Graft.localSession("graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // query -> "ExceptionClass: message" for every query that failed to
    // dump, so an oracle miss has its cause on record beside the dump
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    // escaped as in the envelope: a tab or CR in an oracle's SQL must not
    // make check.py's json.load fail and silently zero the whole compare
    val q = graft.api.Envelope.esc _
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
