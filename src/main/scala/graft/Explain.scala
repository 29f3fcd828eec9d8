package graft

/** Plan inspector: `sbt "runMain graft.Explain <sfDir> <prefix>..."`
  * prints the formatted physical plan of each registered query whose
  * name starts with a given prefix (all of them if none given). The
  * iterate-on-the-plan loop the 100 TB design review runs on. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    SparkEntry.select(args.drop(1).toSeq).foreach { o =>
      println(s"\n========== ${o.name} ==========")
      o.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
