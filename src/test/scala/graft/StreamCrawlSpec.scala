package graft

import graft.ops.Curation
import graft.sources.{JdbcBackend, WarcIngest}
import graft.streaming.{EventStreams, ExactlyOnceSink}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The composed streaming crawl→chunks path: bounded replay equals the
  * batch whole-path gate, and the exactly-once sink survives restarts
  * and at-least-once redelivery without doubling the training corpus. */
class StreamCrawlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bounded replay of the crawl stream equals the batch whole-path pipeline") {
    SparkSession.setActiveSession(spark)
    val streamed = EventStreams.crawlChunks(spark, TestSpark.Sf0001).collect()
    val (valid, _) = WarcIngest.readWithQuarantine(
      spark, WarcIngest.ensureWarcDrop(spark, TestSpark.Sf0001))
    val batch = Curation.crawlToChunks(valid)
      .orderBy("doc_id", "chunk_id").collect()
    assert(streamed.nonEmpty, "the crawl replay must produce chunks")
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq,
      "stream ≡ batch on the bounded replay")
  }

  test("restart-replay through ExactlyOnceSink: redelivered batches land exactly once") {
    SparkSession.setActiveSession(spark)
    val dir = TestSpark.Sf0001
    val drop = WarcIngest.ensureWarcDrop(spark, dir)
    val url = s"jdbc:derby:memory:graft_crawl_spec;create=true"
    val backend = JdbcBackend.forUrl(url)
    Seq("crawl_rt", "crawl_rt__staging", "crawl_rt__batches").foreach { t =>
      try backend.executeUpdate(s"""DROP TABLE "$t"""")
      catch { case _: Exception => () }
    }
    backend.executeUpdate(
      """CREATE TABLE "crawl_rt" ("doc_id" BIGINT, "lang" VARCHAR(16), """ +
        """"chunk_id" BIGINT, "chunk_start" BIGINT, "chunk_tokens" BIGINT, """ +
        """"chunk_text" VARCHAR(4000))""")
    def count(): Long = backend.executeSql(
      """SELECT COUNT(*) FROM "crawl_rt"""").head.get(0)
      .asInstanceOf[Number].longValue
    val ckpt = java.nio.file.Files.createTempDirectory("crawl_rt_ckpt").toString
    def runStream(): Unit = {
      val st = spark.readStream.format("binaryFile")
        .schema(EventStreams.BinaryFileSchema)
        .option("pathGlobFilter", "*.warc").load(drop)
      val q = st.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val (valid, _) = WarcIngest.parseChannels(b.toDF())
          ExactlyOnceSink(url, "crawl_rt")(Curation.crawlToChunks(valid), id)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runStream()
    val afterFirst = count()
    assert(afterFirst > 0)
    // at-least-once redelivery: the SAME micro-batch id arrives again
    // (driver died after publish, replayed on restart) — the marker makes
    // it a no-op
    val replayBatch = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc").load(drop)
    val (validReplay, _) = WarcIngest.parseChannels(replayBatch)
    ExactlyOnceSink(url, "crawl_rt")(Curation.crawlToChunks(validReplay), 0L)
    assert(count() == afterFirst, "a replayed batch id must not double-land")
    // restart with the checkpoint intact: no new files → no new batches →
    // the sink is untouched
    runStream()
    assert(count() == afterFirst, "a checkpointed restart must not re-land")
    // and the landed rows are exactly the batch pipeline's
    val batchRows = Curation.crawlToChunks(validReplay).count()
    assert(afterFirst == batchRows)
  }

  test("a multi-batch crawl stream leaves none of its batch caches persisted") {
    SparkSession.setActiveSession(spark)
    // two archives, one per trigger: two micro-batches through the
    // production batch body
    val one = new java.io.File(
      WarcIngest.ensureWarcDrop(spark, TestSpark.Sf0001), "crawl.warc")
    val drop = java.nio.file.Files.createTempDirectory("crawl_leak")
    Seq("a", "b").foreach(n =>
      java.nio.file.Files.copy(one.toPath, drop.resolve(s"crawl_$n.warc")))
    val url = "jdbc:derby:memory:graft_crawl_leak;create=true"
    val backend = JdbcBackend.forUrl(url)
    Seq("crawl_leak", "crawl_leak__staging", "crawl_leak__batches").foreach { t =>
      try backend.executeUpdate(s"""DROP TABLE "$t"""")
      catch { case _: Exception => () }
    }
    backend.executeUpdate(
      """CREATE TABLE "crawl_leak" ("doc_id" BIGINT, "lang" VARCHAR(16), """ +
        """"chunk_id" BIGINT, "chunk_start" BIGINT, "chunk_tokens" BIGINT, """ +
        """"chunk_text" VARCHAR(4000))""")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q = spark.readStream.format("binaryFile")
      .schema(EventStreams.BinaryFileSchema)
      .option("pathGlobFilter", "*.warc").option("maxFilesPerTrigger", "1")
      .load(drop.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStreams.landCrawlBatch(url, "crawl_leak")(b.toDF(), id)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2, "one archive per micro-batch")
    val leaked = spark.sparkContext.getPersistentRDDs -- before
    assert(leaked.isEmpty, s"persisted after the stream: ${leaked.values.map(_.name)}")
    // and both batches landed in full
    val landed = backend.executeSql("""SELECT COUNT(*) FROM "crawl_leak"""")
      .head.get(0).asInstanceOf[Number].longValue
    val (valid, _) = WarcIngest.readWithQuarantine(spark, one.getParent)
    assert(landed == 2 * Curation.crawlToChunks(valid).count())
  }
}
