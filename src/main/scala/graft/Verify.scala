package graft
import graft.collect.PhenopacketJson.quote
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional trailing args restrict the dump to queries whose name
    // contains any of the given substrings (new-oracle spot checks and
    // scale rehearsals); the driver passes exactly two args.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSeq)
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    val spark = Session.local(Session.envCores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    // A SPOT-CHECK dump (name filters given) must never clobber a full
    // run's oracle_sql.json in the same outdir: a later full precheck
    // over that outdir would then silently verify only the subset while
    // stale parquet dumps from the earlier full run sit unchecked —
    // reading as full coverage. Filtered runs write a suffixed file;
    // precheck.py is pointed at it explicitly for spot checks.
    val oracleFile =
      if (only.isEmpty) "oracle_sql.json" else "oracle_sql.spotcheck.json"
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
