package graft

/** Replicates the driver's t1 smoke check: SparkEntry.entry at sf0.001
  * must return rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "FAIL"))
    val media = multimodal.Multimodal.synthesize(spark, "/root/testdata/sf0.001")
    val feats = multimodal.Multimodal.extractFeatures(media).count()
    val stats = multimodal.Multimodal.metaStats(media).count()
    println(s"[smoke] multimodal features=$feats metaStats=$stats " +
      (if (feats > 0 && stats > 0) "OK" else "FAIL"))
    val cust = Tables.customer(spark, "/root/testdata/sf0.001")
    val csvTmp = java.nio.file.Files.createTempDirectory("graft_smoke").toFile
    val pipeTmp = java.nio.file.Files.createTempDirectory("graft_smoke_pipe").toFile
    try {
      val csvDir = s"$csvTmp/c.csv"
      sources.Sources.writeCsv(cust, csvDir)
      val back = sources.Sources.readCsv(spark, csvDir, cust.schema).count()
      println(s"[smoke] csv round-trip rows=$back " +
        (if (back == cust.count()) "OK" else "FAIL"))
      val rep = pipeline.TrainingDataPipeline.run(spark, "/root/testdata/sf0.001", s"$pipeTmp/docs")
      println(s"[smoke] pipeline ${rep.input}->${rep.afterQuality}->${rep.afterLang}->" +
        s"${rep.afterExactDedup}->${rep.afterNearDedup} " +
        (if (rep.afterNearDedup > 0) "OK" else "FAIL"))
    } finally Seq(csvTmp, pipeTmp).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    spark.stop()
  }
}
