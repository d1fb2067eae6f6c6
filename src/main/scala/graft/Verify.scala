package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name-prefix filter for fast
    // local iteration (the driver always passes exactly 2 args)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Confs.session(cpus)
      .master(s"local[$cpus]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one line of scan provenance in the driver log: the generator
    // has re-encoded events.ts before (NANOS→MICROS between rounds 7
    // and 8) — surface what THIS run scanned and normalized, so the
    // next drift is visible here and not only as a spec failure
    try {
      val enc = graft.util.Tables.eventsRaw(spark, sfDir)
        .schema("ts").dataType.simpleString
      System.err.println(s"[verify] events.ts encoding: $enc " +
        "(normalized to canonical ts_us/event_time)")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] events.ts probe failed: ${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
