package graft

/** Plan-audit helper: prints the formatted physical plan of selected
  * declared queries (all, if no names given). Used to keep PERF.md honest —
  * pushdown, pruning, broadcast and shuffle claims are read off these
  * plans, not assumed.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = Bench.queryNames(args.drop(1).mkString(","), "graft.Explain")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val targets =
      if (names.nonEmpty) names else etl.Registry.all.map(_.name)
    targets.foreach { name =>
      println(s"\n========== $name ==========")
      etl.Registry.byName(name).build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
