package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. RocksDB state store is
  * required by transformWithState; checkpoint dirs are per-suite temp.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run a streaming frame to completion over pre-chunked MemoryStream
    * input and return the memory sink's rows — the spec-side twin of
    * Replay.runToEnd (unique sink name, temp checkpoint, one
    * micro-batch per chunk, stop + checkpoint cleanup in finally).
    * Shared so each differential test doesn't hand-roll the harness.
    */
  def runStreamToTable[T](
      input: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T],
      out: org.apache.spark.sql.DataFrame, batches: Seq[Seq[T]],
      mode: String = "update"): Seq[org.apache.spark.sql.Row] = {
    val name = s"suite_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("suite_ckpt")
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", ckpt.toString).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally {
      q.stop()
      graft.queries.Q.deleteRecursively(ckpt)
    }
  }

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
