package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.etl._
import graft.sources.{LocalFsConnector, Sinks}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `etl_refresh`: `EtlRunner.run` for creditos and radicados on the t0
  * snapshots into an empty modeled dir (write only), then on t1 (audit
  * log + merge against t0 + swap). One cycle is four operations, run one
  * at a time; cycles repeat until the measuring time is used up.
  */
final class EtlBench(ctx: Ctx, rows: Int) extends Workload {
  import ctx.{spark, trace}

  private val entities: Seq[(String, Seq[DictColumn])] =
    Seq("creditos" -> Dictionaries.creditos, "radicados" -> Dictionaries.radicados)
  private val runTs = java.time.LocalDateTime.of(2026, 8, 12, 0, 0)
  private val today = java.sql.Date.valueOf(EtlInputs.Today)

  private var inputs: EtlInputs.Inputs = _
  // traced-run sums over the timed cycles; reported per cycle
  private val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var cycles = 0
  private var cachePeakMb = 0.0

  def prepare(): Unit = {
    val (in, s) = Clock.time(EtlInputs.ensure(ctx.cacheDir, ctx.seed, rows))
    inputs = in
    ctx.log(f"etl inputs: ${in.rawRowsT0} + ${in.rawRowsT1} raw rows, " +
      f"${(in.csvBytesT0 + in.csvBytesT1) / 1e6}%.1f MB, ready in $s%.2f s (${in.dir})")
  }

  private def rawDir(phase: String): Path = if (phase == "t0") inputs.t0Dir else inputs.t1Dir

  private def runOnce(modeled: Path, entity: String, dict: Seq[DictColumn],
      phase: String): EtlRunner.RunResult =
    EtlRunner.run(spark, rawDir(phase).toString, modeled.toString, entity, today, dict,
      DictionaryOps.auditColumns(dict), runId = s"bench-$phase", runTs = runTs)

  private def expected(entity: String, phase: String, r: EtlRunner.RunResult): Boolean = {
    val t = inputs.truth(entity)
    if (phase == "t0") r.rows == t.t0Ids.size && r.authlogRows.isEmpty
    else r.rows == t.t1Ids.size && r.authlogRows.contains(t.authlogIds.size.toLong)
  }

  private var checker: EtlCheck = _

  def check(out: OutcomeBuilder): Unit = {
    checker = new EtlCheck(spark, inputs)
    cycle(out, 0, Some(checker), timed = false)
    out.correct &&= checker.ok
  }

  def measure(out: OutcomeBuilder): Unit = {
    val check = checker
    // the ETL chain is still warming one round after the check cycle (its
    // cycles shorten by a tenth each), so it gets a second untimed round;
    // two timed rounds at least, as a traced cycle takes most of the time
    ctx.timedLoop(minRounds = 2, warmRounds = 2) { k =>
      cycle(out, k + 1, None, timed = k > 0)
      if (k > 0) cycles += 1
    }
    val layers = mutable.LinkedHashMap.empty[String, Double]
    acc.foreach { case (k, v) => layers(k) = v / cycles }
    layers("sources.read_amplification") =
      acc("csv_bytes_read") / cycles / (inputs.csvBytesT0 + inputs.csvBytesT1).toDouble
    layers.remove("csv_bytes_read")
    layers("cache_peak_mb") = cachePeakMb
    layers("etl_bad_values") = check.badValues.toDouble
    val load = entities.map(e => Stats.median(out.samples(s"${e._1}_t0"))).sum
    val refresh = entities.map(e => Stats.median(out.samples(s"${e._1}_t1"))).sum
    layers("etl_load_s") = load
    layers("etl_refresh_s") = refresh
    layers("etl_rows_per_s") = (inputs.rawRowsT0 + inputs.rawRowsT1) / (load + refresh)
    ctx.log(f"etl_refresh: load $load%.3f s, refresh $refresh%.3f s, " +
      s"etl_bad_values ${check.badValues} (${check.badByColumn.toSeq.sortBy(-_._2).take(10).mkString(", ")})")
    if (check.badValues > 0)
      ctx.log("KNOWN FAILURE: modeled cells disagree with the generator's truth; " +
        "the creditos dates are nulled by the dictionary cast (P8 writes yyyy-MM-dd, " +
        "castByDictionary parses dd/MM/yyyy)")
    out.layers ++= layers
  }

  private def cycle(out: OutcomeBuilder, k: Int, check: Option[EtlCheck], timed: Boolean): Unit = {
    val modeled = ctx.workDir.resolve(s"modeled_$k")
    Fs.deleteTree(modeled)
    Files.createDirectories(modeled)
    for (phase <- Seq("t0", "t1"); (entity, dict) <- entities) {
      val op = s"${entity}_$phase"
      if (trace.on && timed) prefixes(modeled, entity, dict, phase)
      val before = ctx.counters()
      val res = trace.span("EtlRunner.run", Map("op" -> op, "cycle" -> k)) {
        Clock.time(try Right(runOnce(modeled, entity, dict, phase))
          catch { case e: Exception => Left(e) })
      }
      val delta = ctx.counters() - before
      res match {
        case (Right(r), s) if expected(entity, phase, r) =>
          if (timed) out.sample(op, s)
          if (trace.on && timed) {
            acc(s"etl.jobs_$phase") += delta.jobs
            acc("etl.shuffle_bytes") += delta.shuffleWriteBytes
            acc("etl.spill_bytes") += delta.spillBytes
            acc("csv_bytes_read") += delta.csvBytes
            acc("spark.codegen_compiles") += delta.compiles
            acc("spark.codegen_compile_s") += delta.compileS
            cachePeakMb = math.max(cachePeakMb, ctx.cachedMb())
          }
        case (Right(r), _) =>
          ctx.log(s"FAIL $op: rows=${r.rows} authlog=${r.authlogRows}")
          out.fail(op)
        case (Left(e), _) =>
          ctx.log(s"FAIL $op: ${e.getClass.getSimpleName}: ${e.getMessage}")
          out.fail(op)
      }
      out.attempt()
      check.foreach { c =>
        val (_, cs) = Clock.time(c.after(modeled, entity, phase))
        ctx.log(f"  check cycle $op: run ${res._2}%.2f s, checks $cs%.2f s")
      }
    }
    Fs.deleteTree(modeled)
  }

  /** Layer split of one operation, replayed before the real run (so the
    * previous snapshot is still in place): each prefix of the pipeline is
    * forced with a `noop` write, and a layer's self time is the difference
    * between consecutive prefixes.
    */
  private def prefixes(modeled: Path, entity: String, dict: Seq[DictColumn],
      phase: String): Unit = trace.span("etl.prefixes", Map("op" -> s"${entity}_$phase")) {
    def forced(name: String, df: DataFrame): (Double, Counters.Snap) = {
      val before = ctx.counters()
      val (_, s) = trace.span(name)(Clock.time(df.write.format("noop").mode("overwrite").save()))
      (s, ctx.counters() - before)
    }
    val (meta, listS) = trace.span("sources.list")(Clock.time(
      LocalFsConnector.listObjects(spark, rawDir(phase).toString)))
    val (file, catS) = trace.span("etl.catalog")(Clock.time(
      CatalogOps.latest(CatalogOps.filterByEntity(meta, entity)).collect()(0).getAs[String]("id")))
    val raw = LocalFsConnector.readCsv(spark, file)
    val (extractS, extract) = forced("sources.extract", raw)
    val cleaned = entity match {
      case "creditos" => Pipelines.cleanCreditos(raw, today)
      case _ => Pipelines.cleanRadicados(raw)
    }
    val (cleanS, _) = forced("etl.clean", cleaned)
    val typed = DictionaryOps.castByDictionary(cleaned, dict)
    val (castS, _) = forced("etl.cast", typed)
    acc("sources.list_s") += listS
    acc("etl.catalog_s") += catS
    acc("sources.extract_s") += extractS
    acc("sources.extract_tasks") += extract.tasks
    acc("etl.clean_s") += cleanS - extractS
    acc("etl.cast_s") += castS - cleanS
    acc("etl.cast_nulled") += nonNull(cleaned, dict) - nonNull(typed, dict)
    val (toWrite, upstreamS) =
      if (phase == "t0") (typed, castS)
      else {
        val prev = spark.read.parquet(modeled.resolve(entity).toString)
        val id = DictionaryOps.primaryKey(dict)
        val audit = DictionaryOps.auditColumns(dict)
        val log = AuditOps.authlog(prev, typed, id, audit, fuenteLog = s"${rawDir(phase)}/$entity",
          runId = "bench-t1", runTs = runTs)
        val (authS, _) = forced("etl.authlog", log)
        val merged = MergeOps.tableUpdated(prev, typed, id, audit)
        val (mergeS, _) = forced("etl.merge", merged)
        acc("etl.authlog_s") += authS - castS
        acc("etl.merge_s") += mergeS - castS
        acc("etl.authlog_rows") += log.count()
        val unchanged = MergeOps.unchangedIds(prev, typed, id, audit).count()
        val prevIds = prev.select(col(id).cast("string").as(id)).distinct()
        val newIds = typed.select(col(id).cast("string").as(id)).distinct()
        val common = prevIds.intersect(newIds).count()
        acc("etl.merge_unchanged") += unchanged
        acc("etl.merge_updated") += common - unchanged
        acc("etl.merge_inserted") += newIds.count() - common
        acc("etl.merge_deleted") += prevIds.count() - common
        (merged, mergeS)
      }
    val target = ctx.workDir.resolve("prefix_write").toString
    val before = ctx.counters()
    val (_, writeS) = trace.span("sources.write")(Clock.time(Sinks.writeParquet(toWrite, target)))
    acc("sources.write_s") += writeS - upstreamS
    acc("sources.write_bytes") += (ctx.counters() - before).outputBytes
    Fs.deleteTree(ctx.workDir.resolve("prefix_write"))
  }

  /** Non-null cells over the dictionary's columns present in `df`. */
  private def nonNull(df: DataFrame, dict: Seq[DictColumn]): Double = {
    val cols = dict.map(_.name).distinct.filter(df.columns.contains)
    val r = df.select(cols.map(c => count(col(c))): _*).collect()(0)
    cols.indices.map(r.getLong).sum.toDouble
  }
}

/** Output checks against the generator's truth, run on the untimed first
  * cycle: row counts and ids of each snapshot, the audit log's ids, the
  * merge classes, and every checked cell.
  */
final class EtlCheck(spark: SparkSession, inputs: EtlInputs.Inputs) {
  var ok = true
  var badValues = 0L
  val badByColumn: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  private val t0Snap = mutable.Map.empty[String, Map[String, Row]]

  def after(modeled: Path, entity: String, phase: String): Unit = {
    val t = inputs.truth(entity)
    val df = spark.read.parquet(modeled.resolve(entity).toString)
    val rows = df.collect().map(r => r.getAs[Any](t.pk).toString -> r).toMap
    val ids = if (phase == "t0") t.t0Ids else t.t1Ids
    expect(s"$entity $phase ids", rows.keySet == ids,
      s"${rows.size} modeled rows vs ${ids.size} expected")
    t.columns.foreach { case (c, ct) =>
      val exp = if (phase == "t0") ct.t0 else ct.t1
      if (!df.columns.contains(c)) {
        expect(s"$entity $phase column $c", cond = false, "missing from the modeled table")
      } else rows.foreach { case (id, r) =>
        exp.get(id).foreach { e =>
          if (Check.canon(ct.kind, r.getAs[Any](c)) != e) {
            badValues += 1
            badByColumn(s"$entity.$c") += 1
          }
        }
      }
    }
    if (phase == "t0") t0Snap(entity) = rows
    else {
      val prev = t0Snap(entity)
      val common = prev.keySet intersect rows.keySet
      def audit(r: Row): Seq[String] = t.auditCols.map { c =>
        Check.canon(t.columns.get(c).map(_.kind).getOrElse("str"), r.getAs[Any](c))
      }
      val updated = common.filter(id => audit(prev(id)) != audit(rows(id)))
      expect(s"$entity merge updated", updated == t.updated, s"${updated.size} vs ${t.updated.size}")
      expect(s"$entity merge inserted", rows.keySet -- prev.keySet == t.inserted, "")
      expect(s"$entity merge deleted", prev.keySet -- rows.keySet == t.deleted, "")
      val log = spark.read.parquet(modeled.resolve(s"${entity}_authlog").toString)
      val logIds = log.select(col(t.pk).cast("string")).collect().map(_.getString(0)).toSeq
      expect(s"$entity authlog", logIds.size == t.authlogIds.size && logIds.toSet == t.authlogIds,
        s"${logIds.size} rows vs ${t.authlogIds.size} expected")
    }
  }

  private def expect(what: String, cond: Boolean, detail: String): Unit =
    if (!cond) {
      ok = false
      System.err.println(s"CHECK FAILED $what: $detail")
    }
}

object Check {
  /** Canonical text of a checked cell, whether it comes from a typed
    * (t0) or an all-string (merged) snapshot; null stays null.
    */
  def canon(kind: String, v: Any): String = if (v == null) null else (kind, v) match {
    case ("date", d: java.time.LocalDateTime) => d.toLocalDate.toString
    case ("date", d: java.time.LocalDate) => d.toString
    case ("date", d: java.sql.Date) => d.toString
    case ("date", s: String) => s.take(10)
    case ("ts", d: java.time.LocalDateTime) => d.toString.take(16).replace('T', ' ')
    case ("ts", s: String) => s.take(16)
    case ("double", d: Double) => java.lang.Double.toString(d)
    case ("double", s: String) =>
      s.toDoubleOption.map(x => java.lang.Double.toString(x)).getOrElse(s"unparsable:$s")
    case ("long", n: java.lang.Number) => n.longValue.toString
    case ("long", s: String) => s.toLongOption.map(_.toString).getOrElse(s"unparsable:$s")
    case (_, x) => x.toString
  }
}
