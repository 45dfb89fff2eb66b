package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's own counters, read from outside the program: a listener for
  * jobs, tasks, shuffle, spill and I/O, plus the codegen compile counters.
  * `snapshot()` is cheap, so a caller brackets any region with two
  * snapshots and reports their difference.
  */
final class Counters extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val outputBytes = new AtomicLong
  private val csvBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  // input bytes of stages that decode a CSV file (`binaryFiles` names its
  // RDD after the path): how often a pipeline re-reads its raw snapshot
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (info.rddInfos.exists(_.name.endsWith(".csv")) && info.taskMetrics != null)
      csvBytes.addAndGet(info.taskMetrics.inputMetrics.bytesRead)
  }

  def snapshot(): Counters.Snap = Counters.Snap(
    jobs.get, tasks.get, runMs.get / 1e3, cpuNs.get / 1e9, shuffleWrite.get,
    spill.get, outputBytes.get, csvBytes.get,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)
}

object Counters {
  final case class Snap(jobs: Long, tasks: Long, taskRunS: Double, taskCpuS: Double,
      shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long, csvBytes: Long,
      compiles: Long, compileS: Double) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, taskRunS - o.taskRunS,
      taskCpuS - o.taskCpuS, shuffleWriteBytes - o.shuffleWriteBytes,
      spillBytes - o.spillBytes, outputBytes - o.outputBytes, csvBytes - o.csvBytes,
      compiles - o.compiles, compileS - o.compileS)
  }
  val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Waits until the listener bus has delivered every event posted so
    * far, so a snapshot taken after an action includes its tasks.
    */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
}

/** The box probes `graft.Bench` emits, at a two-hundredth of its throughput
  * probe's rows so that a reading before and after every run stays cheap:
  * a throughput probe (join + aggregate + window), a fixed-cost probe (one
  * codegen compile plus one job launch per rep) and the 1-minute load. A
  * contended or slow box identifies itself in the results instead of
  * reading as a regression.
  */
object Box {
  final case class Reading(calibS: Double, calibFixedS: Double, load1: Double)

  def read(spark: SparkSession): Reading = {
    def calib(): Double = Clock.time {
      val a = spark.range(0, 100000, 1, 8).selectExpr("id % 97 AS k", "id AS v")
      val b = spark.range(0, 5000, 1, 8).selectExpr("id % 97 AS k", "id AS w")
      a.join(b.groupBy("k").count(), "k")
        .selectExpr("k", "v", "count",
          "sum(v) OVER (PARTITION BY k % 7 ORDER BY v ROWS BETWEEN 100 PRECEDING AND CURRENT ROW) AS r")
        .selectExpr("sum(r + count) AS s").collect()
    }._2
    // a fresh literal per rep forces one new codegen compile per run
    val fixedBase = (System.nanoTime() % 100000).toInt
    def fixed(i: Int): Double = Clock.time {
      spark.range(0, 100000, 1, 8).selectExpr(s"sum(id % ${fixedBase + 101 + i}) AS s").collect()
    }._2
    Reading(calib(), Stats.median((1 to 3).map(fixed)), load1())
  }

  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

object Clock {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile over the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis estimate of the `q` quantile: a weighted mean of every
    * order statistic, the i-th of n weighted by the Beta((n+1)q, (n+1)(1-q))
    * mass on ((i-1)/n, i/n]. Unlike one or two order statistics it does not
    * jump when neighbouring values trade places, so a few operations with
    * close times give a steady percentile.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.size
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    // the Beta density on a fine midpoint grid, integrated per bucket
    val grid = 20000
    val mass = new Array[Double](n)
    (0 until grid).foreach { j =>
      val x = (j + 0.5) / grid
      mass(math.min(n - 1, (x * n).toInt)) += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
    }
    val total = mass.sum
    s.indices.map(i => s(i) * mass(i) / total).sum
  }
}
