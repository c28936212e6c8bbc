package graft

/** Dev sweep: run every registry query at sf0.001 with
  * spark.sql.codegen.fallback=false and report which queries would
  * silently fall back to interpreted execution (janino 64KB-grows or
  * compile errors). Scratch tooling — not part of the shipped library.
  */
object FallbackSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Session.local(Session.envCores)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        println(s"OK       $name")
      } catch { case e: Throwable =>
        val root = {
          var c: Throwable = e
          while (c.getCause != null && c.getCause != c) c = c.getCause
          c
        }
        println(s"FALLBACK $name: ${root.getClass.getSimpleName}: " +
          Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160))
      }
    }
    spark.stop()
  }
}
