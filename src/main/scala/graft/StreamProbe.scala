package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only: run named streaming gates with a SparkContext-level
  * listener for query progress events and print each micro-batch's
  * durationMs breakdown (triggerExecution / queryPlanning / walCommit /
  * commitOffsets / addBatch / getBatch / latestOffset / stateCommit ...),
  * so the replay pool's per-batch floor is measurable instead of guessed.
  *
  * Usage: StreamProbe <sfDir> <name1,name2,...>
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, namesCsv) = args: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    // the SparkContext bus, not spark.streams: every replay gate starts
    // its query in a child session, whose progress events never reach
    // the caller's StreamingQueryManager listeners
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case e: StreamingQueryListener.QueryProgressEvent =>
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          batches.add((p.batchId, s"rows=${p.numInputRows} $d"))
        case _ =>
      }
    })
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    // warmup like Bench
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    namesCsv.split(",").foreach { n =>
      batches.clear()
      val t0 = System.nanoTime()
      val df = all(n)(spark, sfDir)
      val cnt = df.count()
      val t1 = System.nanoTime()
      println(s"== $n  total=${(t1 - t0) / 1e9}%s rows=$cnt")
      import scala.jdk.CollectionConverters._
      batches.asScala.toSeq.sortBy(_._1).foreach { case (id, s) =>
        println(f"  batch$id%-3d $s")
      }
    }
    spark.stop()
  }
}
