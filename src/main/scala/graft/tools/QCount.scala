package graft.tools
/** Dev tool: row-count named queries at an SF dir (output-bound analysis). */
object QCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.Engine.session()
    args.tail.foreach { name =>
      println(s"[qcount] $name = ${graft.SparkEntry.queries(name)(spark, sfDir).count()}")
    }
    spark.stop()
  }
}
