package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up `--setups` times (start a graft
  * session, stage the workload's inputs, run its first warm-up op), run
  * the remaining warm-up ops, then run passes of the workload's ops in a
  * closed loop with one client (this thread) until `--seconds` have
  * passed, finishing the pass in progress. Writes a raw record of every op, setup and
  * (with `--trace 1`) listener event to `--out`; `perfbench/run.py`
  * turns it into metrics.
  *
  * Between ops it does only the documented reclaim,
  * `spark.catalog.clearCache()`, outside the op's timing.
  */
object Main {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def dirMb(f: java.io.File): Double = {
    def size(x: java.io.File): Long =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.map(size).sum
      else x.length()
    size(f) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new java.io.File(a("work")).getAbsolutePath
    val setups = a("setups").toInt
    val expected = scala.io.Source.fromFile(a("expected")).getLines()
      .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
    val w = Workload(a("workload"), seed, s"$work/data", expected)
    val extra = Map(
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.local.dir" -> s"$work/spark-local")
    val tracer = if (traced) Some(new Tracer) else None
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null

    def runOp(op: Op, pass: Int): Unit = {
      val t0 = now()
      var tb = Double.NaN
      var act: Action = null
      var err: Option[String] = None
      try {
        act = op.build(spark)
        tb = now()
        act.run()
      } catch { case e: Throwable =>
        err = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      val t1 = now()
      if (tb.isNaN) tb = t1
      if (err.isEmpty) err = try act.check() catch { case e: Throwable =>
        Some(s"check failed: ${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      val cachedMb = if (traced) spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0 else 0.0
      spark.catalog.clearCache()
      val batches = Option(act).map(_.batches).getOrElse(Nil)
      ops += Map("op" -> op.name, "pass" -> pass, "start_ms" -> t0,
        "build_end_ms" -> tb, "end_ms" -> t1, "rows" -> op.rows,
        "attempts" -> math.max(1, w.expectedBatches(op)),
        "result_rows" -> (try act.resultRows catch { case _: Throwable => 0L }),
        "fingerprint" -> (try act.fingerprint catch { case _: Throwable => None }),
        "error" -> err, "cached_mb" -> cachedMb,
        "batches" -> batches.map { case (s, d, r) =>
          Map("start_ms" -> s, "ms" -> d, "rows" -> r) })
    }

    val setupRecs = mutable.ArrayBuffer[Map[String, Any]]()
    for (i <- 0 until setups) {
      val t0 = if (i == 0) a("launched-ms").toDouble else now()
      if (spark != null) spark.stop()
      val s0 = now()
      spark = graft.Graft.session(appName = "graftbench", extra = extra)
      val s1 = now()
      w.stage(spark)
      val s2 = now()
      runOp(w.warmup.head, -1)
      val s3 = now()
      setupRecs += Map("setup_ms" -> (s3 - t0), "session_ms" -> (s1 - s0),
        "stage_ms" -> (s2 - s1), "first_op_ms" -> (s3 - s2))
    }
    w.warmup.tail.foreach(runOp(_, -1))

    tracer.foreach(_.attach(spark))
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val (cpu0, gc0, t0) = (cpuNs(), gcMs(), now())
    var p = 0
    while (p == 0 || now() - t0 < seconds * 1000) {
      val ps = now()
      w.pass(p).foreach(runOp(_, p))
      passes += Map("pass" -> p, "start_ms" -> ps, "end_ms" -> now())
      p += 1
    }
    val (cpu1, gc1, t1) = (cpuNs(), gcMs(), now())
    // the least heap in use over a few full collections: objects freed by
    // Spark's context cleaner only after a first collection go in later ones
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    tracer.foreach(_.drain())
    val record = Map(
      "workload" -> a("workload"), "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setups" -> setupRecs,
      "timed" -> Map("start_ms" -> t0, "end_ms" -> t1,
        "cpu_s" -> (cpu1 - cpu0) / 1e9, "gc_ms" -> (gc1 - gc0)),
      "passes" -> passes, "ops" -> ops,
      "heap_retained_mb" -> heapMb,
      "storage" -> Map(
        "rdds_left" -> spark.sparkContext.getPersistentRDDs.size,
        "tmp_mb_left" -> dirMb(new java.io.File(s"$work/spark-local"))),
      "listeners" -> tracer.map(_.snapshot()))
    tracer.foreach(_.detach())
    val out = new java.io.PrintWriter(a("out"), "UTF-8")
    try out.write(Json(record)) finally out.close()
    spark.stop()
  }
}
