package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: op names — restrict the dump (and the emitted
    // oracle_sql.json) to that subset for fast local iteration with
    // tools/check.py. The driver always passes exactly two args.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // The correctness gate runs on Bench's session, so it checks the
    // exact engine configuration the bench measures.
    val spark = Conf.localSession()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(q => keep(q._1))
    val failed = Seq.newBuilder[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        // A reused outDir may hold this query's dump from an earlier run —
        // delete it, or the downstream compare would pass on stale data.
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          import scala.jdk.CollectionConverters._
          val walk = Files.walk(stale)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
          finally walk.close()
        }
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
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // One closing summary, so failures need not be fished out of the log.
    val names = failed.result()
    System.err.println(s"[verify] failed ${names.size}/${selected.size}: " +
      names.mkString("[", ", ", "]"))
    spark.stop()
  }
}
