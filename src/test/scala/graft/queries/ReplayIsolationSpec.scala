package graft.queries

import graft.{SparkEntry, SparkSuite}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Every replay query starts in a child of the caller's session
  * ([[Replay.startReplayQuery]]): the pinned per-query conf and the
  * memory-sink views stay in the child, so a gate leaves the caller
  * exactly as it found it, and two gates starting at once cannot see
  * each other's settings.
  */
class ReplayIsolationSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private val pinned = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")

  private def answer(gate: String): Seq[String] =
    SparkEntry.queries(gate)(spark, dir).collect().map(_.toString).sorted.toSeq

  test("a RocksDB gate leaves the caller's conf and catalog untouched") {
    def views() = spark.catalog.listTables().collect().map(_.name).toSet
    val confBefore = pinned.map(spark.conf.getOption)
    val viewsBefore = views()
    // phase 1 (retained checkpoint) and phase 2 (runToEnd) both replay
    assert(answer("q_state_bootstrap").nonEmpty)
    assert(pinned.map(spark.conf.getOption) == confBefore)
    val leaked = (views() -- viewsBefore).filter(n =>
      Seq("qstream_", "qsb_", "qsf_").exists(n.startsWith))
    assert(leaked.isEmpty, s"replay sink views leaked into the caller: $leaked")
  }

  test("a RocksDB and an HDFS-store gate started together each give their serial answer") {
    // transformWithState refuses to start on the HDFS store, so a start
    // that saw the other gate's provider would fail, not just diverge
    val gates = Seq("q_stream_dedup_ttl", "q_stream_tumble")
    val serial = gates.map(answer)
    val barrier = new java.util.concurrent.CyclicBarrier(gates.length)
    val concurrent = Future.sequence(gates.map { g =>
      Future { barrier.await(); answer(g) }
    })
    assert(Await.result(concurrent, 10.minutes) == serial)
  }
}
