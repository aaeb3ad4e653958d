package graft

/** Plan-audit main: dumps the formatted physical plan of every SparkEntry
  * query so pushdown, broadcast choices, and codegen coverage can be
  * reviewed (`tools/run.sh graft.Plans <sfDir> [query...]`).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = GraftSession.harness()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n===== $name =====")
        try {
          val df = fn(spark, sfDir)
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch {
          case e: Throwable => println(s"explain failed: ${e.getMessage}")
        }
        // eager checkpoints materialize at CONSTRUCTION, so even a
        // plan dump creates blocks — free them per query (Bench rationale)
        Ckpt.releaseTransient()
      }
    }
    spark.stop()
  }
}
