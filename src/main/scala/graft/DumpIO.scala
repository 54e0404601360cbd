package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Shared plumbing for the dump mains ([[Verify]], [[FuzzDump]],
  * [[StreamFuzzDump]]): the SparkSession and the `dev/check.py` output
  * layout (per-query parquet + oracle_sql.json). One escaper serves every
  * dump so an escaping fix can't apply to one oracle_sql.json writer and
  * not another.
  */
private[graft] object DumpIO {

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Minimal JSON string escaping for oracle_sql.json (names and SQL
    * text only — no nesting, no numbers).
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeOracle(outDir: String, entries: Seq[(String, String)]): Unit = {
    val json = entries
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
