package graft

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the extraction job (north rule: "run via
  * spark-submit on a multi-executor cluster"). In the sandbox it runs under
  * local[N]; on a real cluster the same main is submitted unchanged — the
  * master/parallelism comes from spark-submit, not from code.
  *
  * Usage: graft.ExtractMain <tableDir> [nDocs] [--no-resume]
  */
object ExtractMain {
  val Usage = "usage: graft.ExtractMain <tableDir> [nDocs] [--no-resume]"

  final case class Args(tableDir: String, nDocs: Long, resume: Boolean)

  /** Flags may appear anywhere; the first non-flag argument is `tableDir`,
    * the second `nDocs` (default 20000). Anything else — an unknown flag,
    * a non-positive or non-numeric `nDocs`, a third positional — is an
    * error carrying the usage line. */
  def parseArgs(args: Seq[String]): Either[String, Args] = {
    val (flags, positional) = args.partition(_.startsWith("-"))
    val unknown = flags.filterNot(_ == "--no-resume")
    val resume = !flags.contains("--no-resume")
    if (unknown.nonEmpty) Left(s"unknown option ${unknown.mkString(" ")}\n$Usage")
    else positional match {
      case Seq(dir) => Right(Args(dir, 20000L, resume))
      case Seq(dir, n) if n.toLongOption.exists(_ > 0) => Right(Args(dir, n.toLong, resume))
      case _ => Left(Usage)
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toSeq) match {
      case Right(a) => a
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runId = s"run-${java.util.UUID.randomUUID().toString.take(8)}"
    val t0 = System.nanoTime()
    val docs = DocGen.generate(spark, args.nDocs, cpus.toInt * 2)
    val snap = ExtractJob.run(spark, docs, args.tableDir, runId, args.resume)
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = snap.buckets.map(_.rows).sum
    println(f"[extract] snapshot=${snap.id} run=$runId buckets=${snap.buckets.length} " +
      f"rows=$rows wall=${secs}%.1fs docs/sec=${rows / secs}%.0f")
    snap.buckets.foreach(b => println(
      s"[extract]   bucket=${b.bucket} rows=${b.rows} watermark=${b.watermarkDocId}"))
    spark.stop()
  }
}
