package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registry entry's build → parquet, plus
  * oracle_sql.json for the driver's DuckDB compare and entries.json, the
  * names run, so the checker (tools/check.py) declares an entry that
  * threw as missing instead of never seeing it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated entry names (builder-side fast
    // iteration on a subset; the driver always runs every entry). A name
    // that resolves to no entry is an error, never a silently smaller run.
    val only = args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    val unknown = only.getOrElse(Set.empty).filter(SparkEntry.registry.get(_).isEmpty)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown entry names: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val entries = SparkEntry.registry.entries.filter(e => only.forall(_.contains(e.name)))
    // GraftSession: correctness-dump under the same extensions users run with
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    entries.foreach { e =>
      // a stale output from an earlier run must not pass for this one
      new scala.reflect.io.Directory(new java.io.File(s"$outDir/${e.name}")).deleteRecursively()
      try e.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${e.name}")
      catch { case t: Throwable =>
        System.err.println(s"[verify] ${e.name} failed: ${t.getMessage}")
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
    val json = entries.flatMap(e => e.oracle.map(sql => s"${q(e.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/entries.json"),
      entries.map(e => q(e.name)).mkString("[", ",", "]"))
    spark.stop()
  }
}
