package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DfStore

/** Streaming/batch df parity for BOTH counted units: the same documents
  * fed to [[StreamingDfUpdate.processBatch]] and to `CALL
  * update_doc_freqs` must serve identical df, cf and n_docs — the two
  * maintainers share one unit extraction, so a `term` or `para` store
  * means the same statistic whichever maintainer wrote it. */
class StreamingDfParitySpec extends AnyFunSuite {

  private lazy val warehouse: String =
    Files.createTempDirectory("graft-dfpar-wh").toString
  private lazy val src: String =
    Files.createTempDirectory("graft-dfpar-src").toString

  private val docs: Seq[(Long, String)] = Seq(
    1L -> "shared boilerplate footer here then alpha beta gamma delta",
    2L -> "shared boilerplate footer here then epsilon zeta eta theta",
    3L -> "alpha beta gamma delta alpha beta gamma delta once more",
    4L -> "Mixed CASE words, punctuation; and digits 42 too",
    5L -> "short",
    6L -> "then alpha beta gamma delta shared boilerplate footer here")

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.catalog.graft_dp",
      classOf[graft.sources.sstable.spark.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_dp.warehouse", warehouse)
    s.sql("CREATE NAMESPACE graft_dp.dp")
    val sp = s
    import sp.implicits._
    docs.toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    s
  }

  private def sorted(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted

  for (unit <- Seq("term", "para")) {
    test(s"unit '$unit': a streamed epoch and the batch CALL serve equal " +
      "df, cf and n_docs") {
      val sp = spark
      import sp.implicits._
      spark.sql(s"CALL graft_dp.system.update_doc_freqs(table => " +
        s"'dp.$unit', source_dir => '$src', unit => '$unit')").collect()
      val table = s"graft_dp.dp.$unit"
      val streamDir = Files.createTempDirectory(s"graft-dfpar-$unit").toString
      StreamingDfUpdate.processBatch(docs.toDF("doc_id", "text"), streamDir,
        0L, unit = unit)

      val batchDf = sorted(DfStore.docFreqs(spark, table))
      assert(batchDf.nonEmpty)
      assert(sorted(StreamingDfUpdate.docFreqs(spark, streamDir)) == batchDf)
      assert(sorted(StreamingDfUpdate.collFreqs(spark, streamDir)) ==
        sorted(DfStore.collFreqs(spark, table)))
      assert(StreamingDfUpdate.nDocs(spark, streamDir) ==
        DfStore.nDocs(spark, table))
      assert(DfStore.nDocs(spark, table) == docs.size.toLong)
      // the shared paragraph (or term) really is counted across docs
      assert(batchDf.exists(_._2 >= 2L), batchDf)
    }
  }
}
