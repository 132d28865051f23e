package graft.etl

/** Runnable entry point for the two reference pipelines — the analog of
  * the reference's `main()` (/root/reference/dags/spark/etl.py:178-186)
  * with local paths instead of the S3/EMR control plane.
  *
  * Usage: graft.etl.EtlMain <xetraCsv> <eurexCsv> <dimensionCsv> <outDir>
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    val Array(xetraCsv, eurexCsv, dimCsv, outDir) = args
    val spark = graft.Harness.session()
    XetraPipeline.run(spark, xetraCsv, outDir)
    EurexPipeline.run(spark, eurexCsv, dimCsv, outDir)
    spark.stop()
  }
}
