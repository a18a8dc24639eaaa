package graft.tools
import graft.SparkEntry
object ShowQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    for (dir <- args.tail) {
      println(s"== ${args(0)} @ $dir ==")
      SparkEntry.queries(args(0))(spark, dir).show(50, false)
    }
    spark.stop()
  }
}
