package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each gated query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: comma-separated query names (unset for a
    // full run); trimmed, blanks dropped. An effectively-empty filter means
    // every query, and an unknown name fails the run (a typo selecting
    // ZERO queries would dump an empty oracle_sql.json that "passes"
    // with nothing checked)
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    selected.foreach { g =>
      try g.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
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
    // the same selection: a partial dump must not ship oracle entries for
    // queries it didn't run, or the compare reports "no spark output"
    // failures for every omitted query
    val json = selected.map(g => s"${q(g.name)}: ${q(g.oracle)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
