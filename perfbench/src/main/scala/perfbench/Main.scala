package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run measured: per-operation wall times of the timed
  * region (failed operations excluded), attempts, failures, whether the
  * output checks passed, and the per-layer numbers of a traced run.
  */
final case class Outcome(samples: Map[String, Seq[Double]], attempted: Int, failed: Int,
    correct: Boolean, layers: Map[String, Double])

final class OutcomeBuilder {
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failedOps = mutable.LinkedHashSet.empty[String]
  private var attempts = 0
  private var failures = 0
  var correct = true
  val layers: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def sample(op: String, s: Double): Unit =
    times.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += s
  def attempt(): Unit = attempts += 1
  /** A failed operation counts against `fail_ratio`, and none of its
    * times enter the timing metrics.
    */
  def fail(op: String): Unit = { failures += 1; failedOps += op; correct = false }
  def samples(op: String): Seq[Double] = times.getOrElse(op, Nil).toSeq
  def build(): Outcome = Outcome(
    times.iterator.filterNot(e => failedOps(e._1)).map(e => e._1 -> e._2.toSeq).toMap,
    attempts, failures, correct, layers.toMap)
}

/** A workload: an untimed pass that checks every output (and warms the
  * JVM), then the timed region.
  */
trait Workload {
  def check(out: OutcomeBuilder): Unit
  def measure(out: OutcomeBuilder): Unit
}

/** Everything a workload needs: the session, the run's settings, its
  * fresh work dir, the trace, and Spark's counters (read only when traced).
  */
final class Ctx(val root: Path, val workDir: Path, val cacheDir: Path, val seed: Long,
    val seconds: Int, val trace: Trace) {
  var spark: SparkSession = _
  private var listener: Counters = _

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Starts a session with `graft.Bench`'s settings: `local[cores]`,
    * shuffle partitions = cores, AQE on, ANSI off, UTC. Temp files,
    * warehouse and staged artifacts live under `dir`.
    */
  def startSession(dir: Path): Unit = {
    if (spark != null) spark.stop()
    val tmp = Files.createDirectories(dir.resolve("tmp"))
    // LayoutOps roots its staged artifacts at java.io.tmpdir
    System.setProperty("java.io.tmpdir", tmp.toString)
    val cores = Runtime.getRuntime.availableProcessors.toString
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace.on) {
      listener = new Counters
      spark.sparkContext.addSparkListener(listener)
    }
  }

  def counters(): Counters.Snap =
    if (listener == null) Counters.zero
    else { Counters.drain(spark); listener.snapshot() }

  /** Persisted and checkpointed storage held right now, in MB. */
  def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Runs `warmRounds` untimed rounds `body(1 - warmRounds)` ... `body(0)`,
    * which finish warming the JVM on the timed calls themselves, then the
    * timed rounds `body(1)`, `body(2)`, ...: at least `minRounds`, and
    * another while one more of the mean length so far still ends within
    * `seconds`.
    * Each round starts on a freshly collected heap, so a GC pause owed to
    * earlier work does not land in it.
    */
  def timedLoop(minRounds: Int, warmRounds: Int)(body: Int => Unit): Unit = {
    (1 - warmRounds to 0).foreach { k =>
      System.gc()
      body(k)
    }
    var spent = 0.0
    var k = 1
    do {
      System.gc()
      val s = Clock.time(body(k))._2
      log(f"round $k: $s%.3f s")
      spent += s
      k += 1
    } while (k <= minRounds || spent * k / (k - 1) <= seconds)
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opts("root")).toAbsolutePath
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val workDir = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val trace = new Trace(opts("trace") == "1", s"$workload-s$seed")
    val ctx = new Ctx(root, workDir, root.resolve(".cache"), seed, opts("seconds").toInt, trace)

    val registry = workload match {
      case "etl_refresh" => None
      case w => Some(new RegistryBench(ctx, Workloads.load(root, w)))
    }
    val etl = if (registry.isEmpty) Some(new EtlBench(ctx, Workloads.etlRows(root))) else None
    if (opts.get("mode").contains("record")) return record(ctx, registry.get, opts.get("dump"))

    // set-up, several times from scratch; the first warms a cold JVM and is
    // not reported, the last one serves the run. A registry set-up builds
    // tables and artifacts (seconds each); an ETL set-up is a session start
    // (a tenth of a second), so it gets more reps for a steady median.
    val setupReps = if (registry.isEmpty) 5 else 3
    val reps = (1 to setupReps).map { i =>
      // every earlier set-up's files go, so nothing staged is reused
      (1 until i).foreach(j => Fs.deleteTree(workDir.resolve(s"setup_$j")))
      val dir = workDir.resolve(s"setup_$i")
      System.gc()
      val (_, sessionS) = trace.span("setup.session")(Clock.time(ctx.startSession(dir)))
      val parts = registry.map(_.setup()).getOrElse(Seq.empty)
      (Seq("setup.session_s" -> sessionS) ++ parts).toMap
    }
    val timedReps = reps.tail
    val setupS = Stats.median(timedReps.map(_.values.sum))
    etl.foreach(_.prepare())

    val bench: Workload = registry.orElse(etl).get
    val out = new OutcomeBuilder
    val (_, checkS) = Clock.time(bench.check(out))
    val (boxBefore, boxS) = Clock.time(Box.read(ctx.spark))
    val (_, runS) = Clock.time(bench.measure(out))
    val boxAfter = Box.read(ctx.spark)
    ctx.spark.stop()
    val outcome = out.build()
    ctx.log(f"phases: set-up ${reps.map(_.values.sum).mkString(" / ")} s, checks $checkS%.2f s, " +
      f"box probe $boxS%.2f s, measuring $runS%.2f s")

    // an operation's time is its median over the timed rounds; the
    // percentiles are taken over operations, the suite is their sum
    val perOp = outcome.samples.map { case (op, xs) => op -> Stats.median(xs) }
    require(perOp.nonEmpty, "no operation succeeded")
    val opTimes = perOp.values.toSeq
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "query_p50_s" -> (Stats.hdQuantile(opTimes, 0.5), "s"),
      "query_p90_s" -> (Stats.hdQuantile(opTimes, 0.9), "s"),
      "suite_s" -> (opTimes.sum, "s"))
    val box = Seq(
      "box.calib_s" -> boxBefore.calibS, "box.calib_fixed_s" -> boxBefore.calibFixedS,
      "box.load1" -> boxBefore.load1, "box.calib_s_after" -> boxAfter.calibS,
      "box.calib_fixed_s_after" -> boxAfter.calibFixedS, "box.load1_after" -> boxAfter.load1)
    val setupLayers = reps.head.keys.toSeq.map(k => k -> Stats.median(timedReps.map(_(k))))
    val layers = outcome.layers ++ box ++ setupLayers ++ Seq(
      "fail_ratio" -> outcome.failed.toDouble / math.max(1, outcome.attempted),
      "trace.suite_s" -> perOp.values.sum)

    ctx.log(s"$workload seed $seed: ${perOp.size} operations, " +
      s"${outcome.samples.values.map(_.size).sum} timed executions, " +
      s"${outcome.attempted} attempted, " +
      s"${outcome.failed} failed, correct=${outcome.correct}")
    perOp.toSeq.sortBy(-_._2).foreach { case (op, v) =>
      val xs = outcome.samples(op)
      ctx.log(f"  op $op%-28s median $v%.4f s over ${xs.size} runs: ${xs.map(x => f"$x%.4f").mkString(" ")}")
    }
    endToEnd.foreach { case (k, (v, u)) => ctx.log(f"  $k%-14s $v%.4f $u") }
    box.foreach { case (k, v) => ctx.log(f"  $k%-24s $v%.4f") }
    if (trace.on) {
      val dir = Files.createDirectories(root.resolve(".traces"))
      trace.write(dir.resolve(s"${workload}_s$seed.jsonl"))
    }

    // names and values only; run.py adds the declared units
    val metrics: Map[String, Double] =
      if (trace.on) layers.toMap else endToEnd.map { case (k, (v, _)) => k -> v }.toMap
    val result = Json.obj(Seq("correct" -> outcome.correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "metrics" -> metrics))
    Files.write(Paths.get(opts("out")), result.getBytes("UTF-8"))
  }

  /** Writes this workload's (rows, hash) records as the expected-results
    * file; run once on a commit whose outputs the oracle confirmed.
    */
  private def record(ctx: Ctx, registry: RegistryBench, dump: Option[String]): Unit = {
    ctx.startSession(ctx.workDir.resolve("record"))
    registry.setup()
    val got = registry.record(dump)
    ctx.spark.stop()
    val file = Workloads.expectedFile(ctx.root)
    val body = got.toSeq.sortBy(_._1).map { case (q, (n, h)) =>
      s"  ${Json.str(q)}: ${Json.obj(Seq("rows" -> n, "hash" -> h))}"
    }
    Files.write(file, body.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    ctx.log(s"recorded ${got.size} results into $file")
  }
}
