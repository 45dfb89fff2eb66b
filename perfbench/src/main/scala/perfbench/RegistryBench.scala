package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.etl.Tables
import graft.queries._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A registry workload as frozen in `workloads.json`: its queries by name,
  * the staged artifacts they read, and the (row count, content hash)
  * recorded for each query on the benchmark's data.
  */
final case class RegistryWorkload(name: String, dataDir: Path, queries: Seq[String],
    artifacts: Seq[String], expected: Map[String, (Long, String)])

object Workloads {
  private val mapper = new ObjectMapper()

  def file(root: Path): Path = root.resolve("workloads.json")
  def expectedFile(root: Path): Path = root.resolve("expected_registry.json")

  def etlRows(root: Path): Int =
    mapper.readTree(file(root).toFile).get("etl_refresh").get("rows_per_entity").asInt

  def load(root: Path, name: String): RegistryWorkload = {
    val all = mapper.readTree(file(root).toFile)
    val w = Option(all.get(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name'"))
    def strs(k: String): Seq[String] = w.get(k).elements().asScala.map(_.asText).toSeq
    val exp = expectedFile(root)
    val expected =
      if (!Files.exists(exp)) Map.empty[String, (Long, String)]
      else mapper.readTree(exp.toFile).fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
      }.toMap
    RegistryWorkload(name, root.resolve(all.get("data").asText), strs("queries"),
      strs("artifacts"), expected)
  }
}

/** `registry_ops` / `registry_llm`: registry queries run one at a time,
  * each timed as `fn(spark, dir).count()` the way `graft.Bench` times
  * them, with each query's checkpoint residue dropped outside the timed
  * region. Passes over the seed-shuffled list repeat until the measuring
  * time is used up; a query's time is its median over the passes.
  */
final class RegistryBench(ctx: Ctx, w: RegistryWorkload) extends Workload {
  import ctx.trace
  private def spark: SparkSession = ctx.spark
  private val dir = w.dataDir.toString
  private val fns = graft.SparkEntry.queries
  w.queries.filterNot(fns.contains).foreach(q =>
    throw new IllegalArgumentException(s"${w.name}: no registry query named '$q'"))
  require(Files.isDirectory(w.dataDir), s"missing registry data dir ${w.dataDir}")

  /** Every staged artifact a frozen list reads, by name: built in set-up,
    * from a cold temp dir, each timed on its own.
    */
  private val artifactBuilds: Map[String, (SparkSession, String) => Any] = Map(
    "text_index" -> Breadth7.ensureTextIndex,
    "aug_simhash" -> Breadth20.ensureAugSimhash)
  w.artifacts.filterNot(artifactBuilds.contains).foreach(a =>
    throw new IllegalArgumentException(s"${w.name}: unknown artifact '$a'"))

  private val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var cachePeakMb = 0.0

  /** Table warm-up, then each artifact; a failing build fails the run. */
  def setup(): Seq[(String, Double)] = {
    val (_, tablesS) = trace.span("setup.tables")(Clock.time(
      Tables.names.foreach(t => Tables(spark, dir, t).count())))
    val arts = w.artifacts.map { a =>
      val (_, s) = trace.span(s"setup.artifact.$a")(Clock.time(artifactBuilds(a)(spark, dir)))
      s"setup.artifact.${a}_s" -> s
    }
    ("setup.tables_s" -> tablesS) +: arts
  }

  /** Runs `body`, then drops the persisted/checkpointed RDDs it left. */
  private def scoped[A](body: => A): A = {
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet
    try body
    finally {
      if (trace.on) cachePeakMb = math.max(cachePeakMb, ctx.cachedMb())
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!pre.contains(id)) rdd.unpersist(false) }
    }
  }

  private val failed = mutable.LinkedHashSet.empty[String]

  /** Each result against its record, once per invocation, untimed. */
  def check(out: OutcomeBuilder): Unit =
    w.queries.foreach { q =>
      out.attempt()
      val got = try Right(scoped(ResultHash.of(fns(q)(spark, dir))))
        catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val problem = (got, w.expected.get(q)) match {
        case (Left(err), _) => Some(err)
        case (Right(_), None) => Some("no recorded result")
        case (Right(r), Some(e)) if r != e => Some(s"got (rows ${r._1}, ${r._2}) expected (rows ${e._1}, ${e._2})")
        case _ => None
      }
      problem.foreach { p =>
        ctx.log(s"FAIL $q: $p")
        failed += q
        out.fail(q)
      }
    }

  def measure(out: OutcomeBuilder): Unit = {
    val live = w.queries.filterNot(failed)
    var passes = 0
    // three passes at least: a short query's median needs the samples; two
    // untimed passes, as the first one still leaves planning warming up
    ctx.timedLoop(minRounds = 3, warmRounds = 2) { pass =>
      new scala.util.Random(ctx.seed * 1000 + pass).shuffle(live).foreach { q =>
        out.attempt()
        try {
          val s = scoped(
            if (trace.on && pass > 0) traced(q, pass)
            else Clock.time(fns(q)(spark, dir).count())._2)
          if (pass > 0) out.sample(q, s)
        } catch {
          case e: Exception =>
            ctx.log(s"FAIL $q: ${e.getClass.getSimpleName}: ${e.getMessage}")
            out.fail(q)
        }
      }
      if (pass > 0) passes += 1
    }
    out.layers ++= acc.map { case (k, v) => k -> v / passes }
    out.layers("queries.count") = live.size.toDouble
    out.layers("cache_peak_mb") = cachePeakMb
  }

  /** One query split into build (the registry fn, eager checkpoints
    * included), planning and execution, with Spark's counters for each.
    */
  private def traced(q: String, pass: Int): Double = trace.span("query", Map("query" -> q, "pass" -> pass)) {
    val c0 = ctx.counters()
    val (df, buildS) = trace.span("queries.build")(Clock.time(fns(q)(spark, dir)))
    val c1 = ctx.counters()
    val counted = df.groupBy().count()
    val (_, planS) = trace.span("queries.plan")(Clock.time(counted.queryExecution.executedPlan))
    val c2 = ctx.counters()
    val (_, execS) = trace.span("queries.exec")(Clock.time(counted.collect()))
    val c3 = ctx.counters()
    val all = c3 - c0
    val exec = c3 - c2
    acc("queries.build_s") += buildS
    acc("queries.build_jobs") += (c1 - c0).jobs
    acc("queries.plan_s") += planS
    acc("queries.exec_s") += execS
    acc("queries.jobs") += exec.jobs
    acc("queries.tasks") += all.tasks
    acc("queries.task_run_s") += all.taskRunS
    acc("queries.task_cpu_s") += all.taskCpuS
    acc("queries.shuffle_bytes") += all.shuffleWriteBytes
    acc("queries.spill_bytes") += all.spillBytes
    acc("spark.codegen_compiles") += all.compiles
    acc("spark.codegen_compile_s") += all.compileS
    buildS + planS + execS
  }

  /** Records (rows, hash) of every query of this workload; with `dump`,
    * also writes each result and the oracle SQL in the layout
    * `tools/check_oracle.py` reads.
    */
  def record(dump: Option[String]): Map[String, (Long, String)] = {
    dump.foreach { d =>
      w.queries.foreach(q => scoped(fns(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$d/$q")))
      val sql = graft.SparkEntry.oracleSql.filter(e => w.queries.contains(e._1))
      Files.write(Path.of(d, "oracle_sql.json"), Json.value(sql).getBytes("UTF-8"))
    }
    w.queries.map(q => q -> scoped(ResultHash.of(fns(q)(spark, dir)))).toMap
  }
}

/** Order-insensitive content hash of a query result: columns sorted by
  * name, each row rendered canonically (doubles bit-distinct, maps with
  * sorted entries), rows sorted, then MD5.
  */
object ResultHash {
  def of(df: DataFrame): (Long, String) = {
    val names = df.schema.fieldNames.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(names.sorted.mkString(",").getBytes("UTF-8"))
    rows.foreach { r => md.update("\n".getBytes("UTF-8")); md.update(r.getBytes("UTF-8")) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}
