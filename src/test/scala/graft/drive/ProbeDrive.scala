package graft.drive

import org.apache.spark.sql.SparkSession

/** Micro-probe: times one query's CONSTRUCTION (logical plan build —
  * eager counts/checkpoints included) vs EXECUTION (noop write)
  * separately, N reps in one JVM. Usage:
  *   Test/runMain graft.drive.ProbeDrive <query> [reps] [sfDir] [cpus]
  */
object ProbeDrive {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 3) args(3) else "32"
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    val fn = graft.SparkEntry.queries(name)
    // runtime metrics listener: input bytes / shuffle bytes / task count
    // are window-independent evidence (wall-clock on this host is not —
    // multi-minute CPU-steal regimes, see BASELINE.md)
    val inputBytes = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          inputBytes.addAndGet(m.inputMetrics.bytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          tasks.incrementAndGet()
        }
      }
    })
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageInput = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) stageInput
          .computeIfAbsent(te.stageId, _ => new java.util.concurrent.atomic.AtomicLong)
          .addAndGet(m.inputMetrics.bytesRead)
      }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (sys.env.contains("PROBE_JOBS")) {
          val desc = Option(js.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
          stageLog.add(f"job ${js.jobId}%4d start  [$desc] stages=${js.stageIds.mkString(",")}")
        }
      }
    })
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
        val in = Option(stageInput.get(si.stageId)).map(_.get).getOrElse(0L)
        stageLog.add(f"stage ${si.stageId}%3d ${dur.getOrElse(-1L)}%5d ms ${si.numTasks}%4d tasks ${in / 1e6}%7.1fMB  ${si.name.takeWhile(_ != '(').trim} ${si.details.linesIterator.toSeq.drop(1).headOption.getOrElse("")}")
      }
    })
    for (i <- 1 to reps) {
      inputBytes.set(0); shufWrite.set(0); shufRead.set(0); tasks.set(0)
      stageLog.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      // let straggler task-end events drain before reading the counters
      Thread.sleep(200)
      println(f"[probe] $name rep$i construct=${(t1 - t0) / 1e9}%.3f exec=${(t2 - t1) / 1e9}%.3f total=${(t2 - t0) / 1e9}%.3f " +
        f"input=${inputBytes.get / 1e6}%.1fMB shufW=${shufWrite.get / 1e6}%.1fMB shufR=${shufRead.get / 1e6}%.1fMB tasks=${tasks.get}")
      if (i == reps && sys.env.contains("PROBE_STAGES")) {
        stageLog.forEach(s => println("[stage] " + s))
      }
    }
    spark.stop()
  }
}
