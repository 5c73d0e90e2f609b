package graft
/** Dev tool: print `.explain("formatted")` for selected queries — the
  * plan-shape audit loop (pushdown / broadcast / codegen spans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else Seq("entry")
    val spark = Bench.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      val df = if (n == "entry") SparkEntry.entry(spark)
               else SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
    }
    spark.stop()
  }
}
