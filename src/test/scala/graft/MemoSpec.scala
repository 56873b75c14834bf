package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Kg
import graft.sources.{RdfIO, Transcripts}

class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty)
    assert(want.exceptAll(got).isEmpty)
  }

  /** Spark jobs started while `f` runs, counted by a listener. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("memo-measured", "memo-measured")
      try f finally sc.clearJobGroup()
      // listener events arrive asynchronously but in order: once the
      // marker job is seen, every job started before it has been seen
      sc.setJobGroup("memo-marker", "memo-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("memo-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("memo-marker"), "listener never saw the marker job")
      groups.toArray.count(_ == "memo-measured")
    } finally sc.removeSparkListener(listener)
  }

  test("memos follow their input files: rewritten tables and probed files " +
      "are recomputed, unchanged inputs are a job-free hit") {
    val root = Files.createTempDirectory("graft_memo").toFile
    try {
      val dir = s"$root/sf"
      for (t <- Seq("events", "documents", "nation"))
        FileUtils.copyToDirectory(new File(s"${TestSpark.sf0001}/$t.parquet"),
          new File(dir))
      // first use: every memo is filled from the original tables
      Transcripts(spark, dir).collect()
      Kg.aliasCc(spark, dir).collect()
      Kg.canonicalTriplesShared(spark, dir).collect()
      assert(jobsDuring(Kg.aliasCc(spark, dir)) === 0)

      // both dimensions shrink in place
      spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .filter(col("doc_id") < 100)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
        .filter(col("n_nationkey") < 10)
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      // a path no memo has seen: the fresh computation
      val fresh = s"$root/fresh"
      FileUtils.copyDirectory(new File(dir), new File(fresh))

      assertSameRows(Transcripts(spark, dir), Transcripts(spark, fresh))
      assert(jobsDuring(Kg.aliasCc(spark, dir)) > 0)
      assertSameRows(Kg.aliasCc(spark, dir), Kg.aliasCc(spark, fresh))
      assertSameRows(Kg.canonicalTriplesShared(spark, dir),
        Kg.canonicalTriplesShared(spark, fresh))
      assert(jobsDuring(Kg.aliasCc(spark, dir)) === 0)

      val f = new File(root, "data.txt")
      Files.writeString(f.toPath, "plain text, not RDF {\n", UTF_8)
      assert(!RdfIO.probeRdfLocal(f.getPath))
      Files.writeString(f.toPath, "<urn:s> <urn:p> <urn:o> .\n", UTF_8)
      assert(RdfIO.probeRdfLocal(f.getPath))
    } finally FileUtils.deleteDirectory(root)
  }
}
