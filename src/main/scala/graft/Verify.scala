package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional gate-name filter (local debugging); an unknown name fails
    // here, before a session starts.
    val selected = SparkEntry.named(SparkEntry.queries.toSeq.sortBy(_._1), rest.toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Engine.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
    ).getOrCreate()
    // SPARK_GRAFT_CONF overrides (shared parser with Bench and ScaleProbe):
    // how a verify run checks the forced side of a measured route switch
    // against the oracles, e.g. spark.graft.dedup.denseUniverseMax=0.
    Engine.applyConfOverrides(spark).foreach { case (k, v) =>
      System.err.println(s"[verify] conf override: $k=$v")
    }
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      System.err.println(
        f"[verify] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a JSON string literal. Escapes backslash, quote and every
    * control character below 0x20: one tab or CR in an oracle's SQL would
    * otherwise make `json.load` of the whole oracle file fail.
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
}
