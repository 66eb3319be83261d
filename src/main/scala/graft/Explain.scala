package graft

/** Dev tool: dump formatted physical plans for the registered queries
  * (or the subset named in args) — used to audit pushdown, broadcast
  * choices, codegen spans and shuffle counts. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val selected = SparkEntry.select(args.toSeq)
    val spark = GraftSession.local()
    selected.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
