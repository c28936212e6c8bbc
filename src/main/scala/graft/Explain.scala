package graft

/** Print the formatted physical plan of one harness query — the plan
  * audit loop (are filters pushed, joins broadcast, codegen spans
  * wide?). Usage:
  *   runMain graft.Explain <query> [sfDir]             — print one plan
  *   runMain graft.Explain --out <dir> <suffix> <q...> — write
  *     <dir>/<query><suffix>.txt per query in ONE session (the
  *     before/after plan-evidence loop; a JVM per plan would dominate).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <query> [sfDir] | --out <dir> <suffix> <queries...>")
    val batch = args(0) == "--out"
    val names = if (batch) args.drop(3).toSeq else Seq(args(0))
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty,
      s"unknown queries ${bad.mkString(", ")}; available:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
    val sfDir =
      if (!batch && args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(Session.envCores)
    names.foreach { name =>
      // queryExecution.explainString, not console print, so the batch
      // mode can write files; "formatted" matches explain("formatted").
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      if (batch) {
        val p = java.nio.file.Paths.get(args(1), s"$name${args(2)}.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[explain] wrote $p")
      } else {
        println(s"[explain] === $name ===")
        println(txt)
      }
    }
    spark.stop()
  }
}
