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
  def main(args: Array[String]): Unit = {
    val tableDir = args.headOption.getOrElse(sys.error(
      "usage: graft.ExtractMain <tableDir> [nDocs] [--no-resume]"))
    val nDocs = args.lift(1).map(_.toLong).getOrElse(20000L)
    val resume = !args.contains("--no-resume")
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
    val docs = DocGen.generate(spark, nDocs, cpus.toInt * 2)
    val snap = ExtractJob.run(spark, docs, tableDir, runId, resume)
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = snap.buckets.map(_.rows).sum
    println(f"[extract] snapshot=${snap.id} run=$runId buckets=${snap.buckets.length} " +
      f"rows=$rows wall=${secs}%.1fs docs/sec=${rows / secs}%.0f")
    snap.buckets.foreach(b => println(
      s"[extract]   bucket=${b.bucket} rows=${b.rows} watermark=${b.watermarkDocId}"))
    spark.stop()
  }
}
