package perfbench

import java.io.PrintWriter

/** Bridging board: the same declared queries timed under `count()` (how
  * `graft.Bench` has always timed them) and under full materialization
  * through the `noop` sink (how the benchmark times them), side by
  * side, on one data directory. Each query gets one untimed run, then
  * each mode is the minimum of `Repeats` runs, with the storage sweep
  * between runs as in `graft.Bench`.
  *
  * Usage: perfbench.Bridge --dir DIR --work DIR --cores N --out FILE
  */
object Bridge {
  val Repeats = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("dir")
    val cores = opt("cores").toInt
    val spark = Main.session(cores, opt("work"))
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val rows = for {
      (workload, names) <- Seq("enrich", "curate", "ann").map(w => w -> Workloads.fullLists(w))
      name <- names
    } yield {
      val fn = graft.SparkEntry.queries(name)
      def df = fn(spark, dir)
      try {
        df.write.format("noop").mode("overwrite").save()
        graft.GraftSession.sweep(spark)
        def best(run: => Unit) =
          (1 to Repeats).map { _ => val t = time(run); graft.GraftSession.sweep(spark); t }.min
        val counted = best(df.count())
        val materialized = best(df.write.format("noop").mode("overwrite").save())
        System.err.println(f"[bridge] $name%-24s count $counted%8.3f s  noop $materialized%8.3f s")
        Map("workload" -> workload, "query" -> name, "layer" -> Workloads.layerOf(name),
          "count_s" -> counted, "noop_s" -> materialized,
          "noop_over_count" -> materialized / counted)
      } catch {
        case e: Throwable =>
          Map("workload" -> workload, "query" -> name, "error" -> Main.describe(e))
      }
    }
    val record = Map(
      "dir" -> dir, "cores" -> cores, "master" -> s"local[$cores]",
      "repeats" -> s"min of $Repeats after one untimed run",
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "queries" -> rows)
    val w = new PrintWriter(opt("out"), "UTF-8")
    try w.println(Json(record)) finally w.close()
    spark.stop()
  }
}
