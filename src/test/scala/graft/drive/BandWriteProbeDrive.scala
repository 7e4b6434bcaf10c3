package graft.drive

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.BucketFanout

/** Micro-probe of the band index's per-trigger fixed costs at each
  * fan-out: [[BucketFanout.Bands]]`.append` of one trigger's band rows
  * (creating the index, then appending to it) and a
  * [[BucketFanout.Index.scan]] read-back over every bucket, each with
  * its Spark job count — a read over more bucket dirs than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) adds
  * a file-listing job. The figures in [[BucketFanout]]'s header come
  * from this probe. One unprinted pass warms the JVM first. Usage:
  *   Test/runMain graft.drive.BandWriteProbeDrive [rows=16000] [master=local[4]]
  * (16,000 rows = a 500-doc trigger's band rows, 32 bands per doc). */
object BandWriteProbeDrive {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(16000L)
    val master = args.lift(1).getOrElse("local[4]")
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobsByStep = new ConcurrentHashMap[String, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobsByStep.merge(g, 1, (a: Integer, b: Integer) => a + b))
    })
    val bands = spark.range(rows).select((col("id") / 32).cast("long").as("doc_id"),
        (col("id") % 32).cast("int").as("band"),
        (col("id") * 2654435761L % 1000003).as("bandhash"))
      .localCheckpoint(true)

    def step(label: String)(f: => Unit): Double = {
      spark.sparkContext.setJobGroup(label, label)
      val t0 = System.nanoTime()
      try f finally spark.sparkContext.clearJobGroup()
      (System.nanoTime() - t0) / 1e9
    }
    def pass(tag: String): Seq[(String, Double)] =
      Seq(256, 64, 32, 16).flatMap { fanout =>
        val store = java.nio.file.Files.createTempDirectory(s"band-probe-$fanout-").toString
        def at(what: String)(f: => Unit) = {
          val label = s"$tag fanout=$fanout $what"
          label -> step(label)(f)
        }
        Seq(
          at("first append")(BucketFanout.Bands.append(bands, store, fanout)),
          at("second append")(BucketFanout.Bands.append(bands, store, fanout)),
          at("scan read-back")(BucketFanout.Bands.scan(
            spark, BucketFanout.Bands.path(store), 0 until fanout).count()))
      }
    pass("warm-up")
    val measured = pass("measured")
    // listener events arrive in job order: once the marker job's start
    // is seen, every measured job has been counted
    step("marker")(spark.range(1).count())
    while (!jobsByStep.containsKey("marker")) Thread.sleep(50)
    println(s"BANDPROBE rows=$rows master=$master " +
      s"defaultParallelism=${spark.sparkContext.defaultParallelism}")
    measured.foreach { case (label, sec) =>
      println(f"BANDPROBE $label%-36s $sec%6.2f s  ${jobsByStep.getOrDefault(label, 0)}%3d jobs")
    }
    spark.stop()
  }
}
