package graft

import org.apache.spark.sql.{SparkSession, functions => F}

/** Ad-hoc probe: scaling of a pure-Tungsten columnar job vs the native
  * `extract_spans` extract over the same input, to locate the scaling limiter.
  * Usage: ScaleProbe <inputDir> <mode: sql|expr> <cores> [runs] */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val inputDir = args(0); val mode = args(1); val cores = args(2).toInt
    val runs = args.lift(3).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def body(): Long = mode match {
      case "sql" =>
        spark.read.parquet(inputDir)
          .select(F.posexplode(F.col("spans")).as(Seq("p", "s")))
          .groupBy($"s.kind").agg(F.count("*"), F.sum(F.length($"s.text")))
          .collect(); 0L
      case "expr" =>
        plans.GraftFunctions.extractColumnar(spark.read.parquet(inputDir))
          .agg(F.count("*"), F.sum(F.size($"spans"))).collect(); 0L
    }
    body() // warm
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      body()
      println(f"[probe] mode=$mode cores=$cores run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
