package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.temporal.ChronoUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Deterministic raw creditos/radicados snapshots in the shapes of the
  * reference's exports (latin1, `;`, a junk first line, duplicate headers,
  * ragged rows, mixed and garbage dates, decimal commas), with the ground
  * truth the modeled tables must match.
  *
  * t1 is t0 with about 5% of the rows changed in audit columns, 2% deleted
  * and 3% added. Every changed row changes at least one non-date audit
  * column, so the audit log and the merge classes are checkable whether
  * or not date columns survive the pipeline.
  *
  * The truth records, per entity, the ids of each change class, the ids
  * the audit log must hold, and for every checked column the canonical
  * value each id must have in the t0 and the t1 modeled snapshot (null
  * where the raw value is garbage or absent).
  */
object EtlInputs {

  val Today: LocalDate = LocalDate.of(2026, 8, 12)

  /** Column kinds of the checked cells; values are compared canonically
    * (see [[Check.canon]]).
    */
  final case class ColTruth(kind: String, t0: Map[String, String], t1: Map[String, String])

  final case class EntityTruth(pk: String, t0Ids: Set[String], t1Ids: Set[String],
      updated: Set[String], inserted: Set[String], deleted: Set[String],
      authlogIds: Set[String], auditCols: Seq[String], columns: Map[String, ColTruth])

  final case class Inputs(dir: Path, t0Dir: Path, t1Dir: Path, rawRowsT0: Long,
      rawRowsT1: Long, csvBytesT0: Long, csvBytesT1: Long,
      truth: Map[String, EntityTruth])

  // the 42 physical columns of the creditos export, in file order; the
  // repeated names are the duplicate headers of the original export
  val CreditosHeader: Seq[String] = Seq(
    "Dias Mora Actual", "Crédito", "EstadoCrédito", "Monto", "Saldo", "Plazo",
    "FechaSolicitud", "CódigoLínea", "Línea", "CuotasPagas", "TasaInterés", "FormaPago",
    "Categoría", "ValorCuota", "IdentificaciónDeudor", "CategoríaDeudor", "Nombre Deudor",
    "VencimientoCuota", "DirecciónResidencia", "DirecciónCorrespondencia", "E Mail",
    "NúmeroVez", "Municipio Residencia", "Departamento Residencia", "Monto Aprobado",
    "Fecha Acta Aprobación", "ActaAprobación", "Destino", "Estado", "FechaGiro",
    "FechaIngreso", "FechaInicio", "FechaLegalización", "FormaPago", "Indice Color",
    "LíneaCrédito", "NombreCategoría", "Observaciones", "Pagaduría", "Periodicidad",
    "Periodicidad", "Tipo70 / 30")

  val RadicadosHeader: Seq[String] = Seq("Radicado", "Fecha Radicacion", "Procedencia",
    "Detalle", "Naturaleza", "Medio", "Expediente", "Destino", "Rpta", "Opciones")

  val CreditosDates: Seq[String] = Seq("FechaSolicitud", "VencimientoCuota",
    "Fecha Acta Aprobación", "FechaGiro", "FechaIngreso", "FechaInicio", "FechaLegalización")
  val CreditosAudit: Seq[String] = Seq("EstadoCrédito", "TasaInterés", "ValorCuota",
    "Fecha Acta Aprobación", "FechaGiro", "FechaIngreso", "FechaInicio",
    "FechaLegalización", "LíneaCrédito")
  val RadicadosAudit: Seq[String] = Seq("Procedencia")

  private val Estados = Seq("VIGENTE", "CANCELADO", "EN MORA", "CASTIGADO", "REESTRUCTURADO")
  private val Lineas = Seq("VIVIENDA", "EDUCACIÓN", "LIBRE INVERSIÓN", "VEHÍCULO", "SALUD")
  private val Nombres = Seq("JOSÉ", "MARÍA", "ÁNGEL", "NÚÑEZ", "PEÑA", "LUCÍA", "ANDRÉS",
    "GÓMEZ", "RAMÍREZ", "SOFÍA", "MUÑOZ", "IBÁÑEZ")
  private val Municipios = Seq("Bogotá", "Medellín", "Cúcuta", "Ibagué", "Popayán", "Montería")
  private val Garbage = Seq("N/D", "pendiente", "sin fecha")
  // working-group codes of the designation field, plus one unmapped code
  private val Codes = graft.etl.Pipelines.workingGroups.map(_._1) :+ "XYZ"
  private val CodeNames = graft.etl.Pipelines.workingGroups.toMap

  private final class Row(val id: String, val raw: mutable.Map[String, String],
      val truth: mutable.Map[String, String])

  /** Generates (or reuses, when already on disk) the snapshots for
    * (seed, rows) under `cacheRoot`.
    */
  def ensure(cacheRoot: Path, seed: Long, rows: Int): Inputs = {
    val dir = cacheRoot.resolve(s"etl_s${seed}_n$rows")
    val manifest = dir.resolve("manifest.json")
    if (!Files.exists(manifest)) {
      val tmp = cacheRoot.resolve(s"etl_s${seed}_n${rows}.tmp")
      Files.createDirectories(cacheRoot)
      Fs.deleteTree(tmp)
      generate(tmp, seed, rows)
      Fs.deleteTree(dir)
      Files.move(tmp, dir)
    }
    load(dir)
  }

  private def generate(dir: Path, seed: Long, rows: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val t0Dir = Files.createDirectories(dir.resolve("t0"))
    val t1Dir = Files.createDirectories(dir.resolve("t1"))
    val truths = Seq(
      "creditos" -> entity(rnd, rows, "Crédito", CreditosHeader, CreditosAudit,
        creditosRow(rnd, _), mutateCreditos(rnd, _)),
      "radicados" -> entity(rnd, rows, "Radicado", RadicadosHeader, RadicadosAudit,
        radicadosRow(rnd, _), mutateRadicados(rnd, _)))
    val out = mutable.LinkedHashMap.empty[String, Any]
    truths.foreach { case (name, (t0Rows, t1Rows, truth)) =>
      val header = if (name == "creditos") CreditosHeader else RadicadosHeader
      writeCsv(rnd, t0Dir.resolve(s"raw_$name.csv"), header, t0Rows)
      // t1 lists the t0 export too; the catalog must pick the newer file
      Files.copy(t0Dir.resolve(s"raw_$name.csv"), t1Dir.resolve(s"raw_$name.csv"))
      writeCsv(rnd, t1Dir.resolve(s"raw2_$name.csv"), header, t1Rows)
      t1Dir.resolve(s"raw_$name.csv").toFile.setLastModified(1700000000000L)
      t1Dir.resolve(s"raw2_$name.csv").toFile.setLastModified(1700000100000L)
      out(name) = truth
    }
    Files.write(dir.resolve("manifest.json"), Json.value(Map(
      "seed" -> seed, "rows" -> rows, "entities" -> out.toMap)).getBytes("UTF-8"))
  }

  /** One entity's t0/t1 rows and truth. */
  private def entity(rnd: scala.util.Random, n: Int, pk: String, header: Seq[String],
      audit: Seq[String], mk: String => Row, mutate: Row => Row)
      : (Seq[Row], Seq[Row], Map[String, Any]) = {
    val base = 100000
    val t0 = (0 until n).map(i => mk((base + i).toString))
    val t1 = mutable.ArrayBuffer.empty[Row]
    val updated, deleted = mutable.LinkedHashSet.empty[String]
    t0.foreach { r =>
      val u = rnd.nextDouble()
      if (u < 0.02) deleted += r.id
      else if (u < 0.07) { updated += r.id; t1 += mutate(r) }
      else t1 += r
    }
    val nNew = math.max(1, (n * 0.03).round.toInt)
    val inserted = (0 until nNew).map(i => (base + n + i).toString)
    inserted.foreach(id => t1 += mk(id))
    val shuffled = rnd.shuffle(t1.toSeq)
    val cols = (t0 ++ t1).flatMap(_.truth.keys).distinct.sorted
    val t0Map = t0.map(r => r.id -> r).toMap
    val t1Map = shuffled.map(r => r.id -> r).toMap
    val colTruth = cols.map { c =>
      val kind = kindOf(c)
      c -> Map("kind" -> kind,
        "t0" -> t0Map.map { case (id, r) => id -> r.truth.get(c).orNull },
        "t1" -> t1Map.map { case (id, r) => id -> r.truth.get(c).orNull })
    }.toMap
    val truth = Map[String, Any](
      "pk" -> pk, "t0_ids" -> t0.map(_.id), "t1_ids" -> shuffled.map(_.id),
      "updated" -> updated.toSeq, "inserted" -> inserted, "deleted" -> deleted.toSeq,
      // every update changes a non-date audit column present on both sides
      "authlog_ids" -> updated.toSeq, "audit_cols" -> audit, "columns" -> colTruth)
    (rnd.shuffle(t0), shuffled, truth)
  }

  private def kindOf(c: String): String = c match {
    case "Fecha Radicacion" => "ts"
    case x if CreditosDates.contains(x) || x == "fecha_actual" => "date"
    case "Monto" | "Saldo" | "Monto Aprobado" | "TasaInterés" | "ValorCuota" => "double"
    case "Dias Mora Actual" | "Plazo" | "CuotasPagas" | "NúmeroVez" |
         "tiempo_solicitud_giro" | "tiempo_solicitud_inicio" |
         "tiempo_solicitud_legalizacion" | "tiempo_de_espera" => "long"
    case _ => "str"
  }

  private def pick[A](rnd: scala.util.Random, xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  /** A raw date in one of the export's formats, or garbage (truth: null). */
  private def rawDate(rnd: scala.util.Random, d: Option[LocalDate]): (String, Option[LocalDate]) =
    d match {
      case None => ("", None)
      case Some(_) if rnd.nextDouble() < 0.04 => (pick(rnd, Garbage), None)
      case Some(x) =>
        val dd = f"${x.getDayOfMonth}%02d"
        val mm = f"${x.getMonthValue}%02d"
        val s = rnd.nextInt(10) match {
          case 0 | 1 | 2 | 3 => s"$dd/$mm/${x.getYear}"
          case 4 | 5 => s"$dd-$mm-${x.getYear}"
          case 6 | 7 => s"$dd.$mm.${x.getYear}"
          case _ => f"$dd/$mm/${x.getYear} ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d"
        }
        (s, Some(x))
    }

  /** Money in cents as the export writes it: integral, or with a decimal comma. */
  private def rawMoney(cents: Long): (String, String) = {
    val s = if (cents % 100 == 0) (cents / 100).toString else f"${cents / 100},${cents % 100}%02d"
    (s, java.lang.Double.toString(s.replace(',', '.').toDouble))
  }

  private def creditosRow(rnd: scala.util.Random, id: String): Row = {
    val raw = mutable.Map.empty[String, String]
    val truth = mutable.Map.empty[String, String]
    def str(c: String, v: String): Unit = { raw(c) = v; truth(c) = v }
    def long(c: String, v: Long): Unit = { raw(c) = v.toString; truth(c) = v.toString }
    str("Crédito", id)
    long("Dias Mora Actual", rnd.nextInt(121))
    str("EstadoCrédito", pick(rnd, Estados))
    Seq("Monto", "Saldo", "Monto Aprobado").foreach { c =>
      val (r, t) = rawMoney(100000L * (10 + rnd.nextInt(5000)) + (if (rnd.nextBoolean()) rnd.nextInt(100) else 0))
      raw(c) = r; truth(c) = t
    }
    long("Plazo", 6 + rnd.nextInt(115))
    long("CuotasPagas", rnd.nextInt(60))
    long("NúmeroVez", 1 + rnd.nextInt(5))
    setRate(rnd, raw, truth)
    setCuota(rnd, raw, truth)
    str("LíneaCrédito", pick(rnd, Lineas))
    str("Nombre Deudor", s"${pick(rnd, Nombres)} ${pick(rnd, Nombres)} ${pick(rnd, Nombres)}")
    val sol = LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(1800).toLong)
    val giro = if (rnd.nextDouble() < 0.2) None else Some(sol.plusDays(1L + rnd.nextInt(60)))
    val dates = Map(
      "FechaSolicitud" -> Some(sol),
      "VencimientoCuota" -> Some(sol.plusDays(30L + rnd.nextInt(400))),
      "Fecha Acta Aprobación" -> Some(sol.plusDays(rnd.nextInt(20).toLong)),
      "FechaGiro" -> giro,
      "FechaIngreso" -> Some(sol.minusDays(rnd.nextInt(30).toLong)),
      "FechaInicio" -> Some(sol.plusDays(rnd.nextInt(40).toLong)),
      "FechaLegalización" -> Some(sol.plusDays(rnd.nextInt(80).toLong)))
    CreditosDates.foreach(c => setDate(rnd, raw, truth, c, dates(c)))
    Seq("CódigoLínea" -> f"L${rnd.nextInt(40)}%02d", "Línea" -> pick(rnd, Lineas),
      "FormaPago" -> pick(rnd, Seq("NÓMINA", "CAJA", "DÉBITO")), "Categoría" -> pick(rnd, Seq("A", "B", "C")),
      "IdentificaciónDeudor" -> (10000000L + rnd.nextInt(89999999)).toString,
      "CategoríaDeudor" -> pick(rnd, Seq("AFILIADO", "PENSIONADO", "BENEFICIARIO")),
      "DirecciónResidencia" -> s"Calle ${rnd.nextInt(200)} # ${rnd.nextInt(99)}-${rnd.nextInt(99)}",
      "DirecciónCorrespondencia" -> s"Carrera ${rnd.nextInt(120)} # ${rnd.nextInt(99)}-${rnd.nextInt(99)}",
      "E Mail" -> s"deudor$id@correo.co", "Municipio Residencia" -> pick(rnd, Municipios),
      "Departamento Residencia" -> pick(rnd, Seq("Cundinamarca", "Antioquia", "Tolima", "Cauca")),
      "ActaAprobación" -> s"ACTA-${rnd.nextInt(900)}", "Destino" -> pick(rnd, Seq("COMPRA", "MEJORA", "ESTUDIO")),
      "Estado" -> pick(rnd, Seq("ACTIVO", "INACTIVO")), "Indice Color" -> pick(rnd, Seq("VERDE", "ÁMBAR", "ROJO")),
      "NombreCategoría" -> pick(rnd, Seq("CATEGORÍA A", "CATEGORÍA B")),
      "Observaciones" -> pick(rnd, Seq("", "revisión pendiente", "al día")),
      "Pagaduría" -> pick(rnd, Seq("MINDEFENSA", "POLICÍA", "EJÉRCITO")),
      "Periodicidad" -> "MENSUAL", "Tipo70 / 30" -> pick(rnd, Seq("70", "30"))
    ).foreach { case (c, v) => raw(c) = v }
    derive(truth)
    new Row(id, raw, truth)
  }

  private def setRate(rnd: scala.util.Random, raw: mutable.Map[String, String],
      truth: mutable.Map[String, String]): Unit = {
    val v = 100000 + rnd.nextInt(2000000)
    if (rnd.nextDouble() < 0.03) { raw("TasaInterés") = "abc"; truth.remove("TasaInterés") }
    else {
      raw("TasaInterés") = if (rnd.nextBoolean()) s"$v %" else s" $v% "
      truth("TasaInterés") = java.lang.Double.toString(v.toDouble / 1e7)
    }
  }

  private def setCuota(rnd: scala.util.Random, raw: mutable.Map[String, String],
      truth: mutable.Map[String, String]): Unit = {
    val s = f"${10000 + rnd.nextInt(900000)}.${rnd.nextInt(100)}%02d"
    raw("ValorCuota") = s
    truth("ValorCuota") = java.lang.Double.toString(s.toDouble)
  }

  private def setDate(rnd: scala.util.Random, raw: mutable.Map[String, String],
      truth: mutable.Map[String, String], c: String, d: Option[LocalDate]): Unit = {
    val (r, t) = rawDate(rnd, d)
    raw(c) = r
    t match {
      case Some(x) => truth(c) = x.toString
      case None => truth.remove(c)
    }
  }

  /** The cleaning step's derived columns, from the truth dates. */
  private def derive(truth: mutable.Map[String, String]): Unit = {
    def d(c: String): Option[LocalDate] = truth.get(c).map(LocalDate.parse)
    def days(a: String, b: String): Option[String] =
      for (x <- d(a); y <- d(b)) yield ChronoUnit.DAYS.between(y, x).toString
    Seq("tiempo_solicitud_giro" -> "FechaGiro", "tiempo_solicitud_inicio" -> "FechaInicio",
      "tiempo_solicitud_legalizacion" -> "FechaLegalización").foreach { case (out, end) =>
      days(end, "FechaSolicitud") match {
        case Some(v) => truth(out) = v
        case None => truth.remove(out)
      }
    }
    val espera = if (d("FechaGiro").isEmpty)
      d("FechaSolicitud").map(s => ChronoUnit.DAYS.between(s, Today).toString) else None
    espera match {
      case Some(v) => truth("tiempo_de_espera") = v
      case None => truth.remove("tiempo_de_espera")
    }
    truth("fecha_actual") = Today.toString
  }

  private def copyRow(r: Row): Row = new Row(r.id, r.raw.clone(), r.truth.clone())

  private def mutateCreditos(rnd: scala.util.Random, r0: Row): Row = {
    val r = copyRow(r0)
    val old = r.raw("EstadoCrédito")
    val estado = pick(rnd, Estados.filterNot(_ == old))
    r.raw("EstadoCrédito") = estado
    r.truth("EstadoCrédito") = estado
    if (rnd.nextBoolean()) setRate(rnd, r.raw, r.truth)
    if (rnd.nextDouble() < 0.3) setCuota(rnd, r.raw, r.truth)
    if (rnd.nextDouble() < 0.3) {
      val sol = r.truth.get("FechaSolicitud").map(LocalDate.parse)
        .getOrElse(LocalDate.of(2021, 6, 1))
      setDate(rnd, r.raw, r.truth, "FechaGiro", Some(sol.plusDays(61L + rnd.nextInt(30))))
      derive(r.truth)
    }
    r
  }

  private def radicadosRow(rnd: scala.util.Random, id: String): Row = {
    val raw = mutable.Map.empty[String, String]
    val truth = mutable.Map.empty[String, String]
    raw("Radicado") = id; truth("Radicado") = id
    val ts = LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(rnd.nextInt(525600).toLong)
    if (rnd.nextDouble() < 0.05) raw("Fecha Radicacion") = pick(rnd, Garbage)
    else {
      raw("Fecha Radicacion") = f"${ts.getDayOfMonth}%02d/${ts.getMonthValue}%02d/${ts.getYear} " +
        f"${ts.getHour}%02d:${ts.getMinute}%02d"
      truth("Fecha Radicacion") = ts.toString.take(16).replace('T', ' ')
    }
    setProcedencia(rnd, raw, truth)
    val code = pick(rnd, Codes)
    val person = s"${pick(rnd, Nombres)} ${pick(rnd, Nombres)}"
    rnd.nextInt(10) match {
      case 0 | 1 => // no hyphen: the default group
        raw("Destino") = person
        truth("cod_grupo_destino") = "GAUEGI"
      case 2 => // hyphen-rich name stays whole in the third field
        raw("Destino") = s"ASESOR-$code-ANA-$person"
        truth("cargo_destino") = "ASESOR"; truth("cod_grupo_destino") = code
        truth("funcionario_destino") = s"ANA-$person"
      case _ =>
        raw("Destino") = s"PROFESIONAL-$code-$person"
        truth("cargo_destino") = "PROFESIONAL"; truth("cod_grupo_destino") = code
        truth("funcionario_destino") = person
    }
    truth("Destino") = raw("Destino")
    CodeNames.get(truth("cod_grupo_destino")).foreach(n => truth("grupo_destino") = n)
    if (rnd.nextDouble() < 0.3) raw("Rpta") = ""
    else { raw("Rpta") = rnd.nextInt(100000).toString; truth("Rpta") = raw("Rpta") }
    raw("Detalle") = pick(rnd, Seq("petición", "queja", "reclamo", "solicitud de información"))
    raw("Naturaleza") = pick(rnd, Seq("N", "P"))
    raw("Medio") = pick(rnd, Seq("WEB", "CORREO", "VENTANILLA"))
    raw("Expediente") = s"E${rnd.nextInt(9999)}"
    raw("Opciones") = ""
    new Row(id, raw, truth)
  }

  private def setProcedencia(rnd: scala.util.Random, raw: mutable.Map[String, String],
      truth: mutable.Map[String, String]): Unit = {
    val v = s"${pick(rnd, Nombres)} ${rnd.nextInt(1000)}"
    raw("Procedencia") = v; truth("Procedencia") = v
  }

  private def mutateRadicados(rnd: scala.util.Random, r0: Row): Row = {
    val r = copyRow(r0)
    val old = r.raw("Procedencia")
    while (r.raw("Procedencia") == old) setProcedencia(rnd, r.raw, r.truth)
    r
  }

  /** latin1, `;`, one junk line, then the header; about 1% of the rows
    * short by one field and 1% with two extra fields. The trailing column
    * of both exports is unchecked.
    */
  private def writeCsv(rnd: scala.util.Random, path: Path, header: Seq[String],
      rows: Seq[Row]): Unit = {
    val w = Files.newBufferedWriter(path, ISO_8859_1)
    try {
      w.write("REPORTE GENERADO POR EL SISTEMA - no editar;;\n")
      w.write(header.mkString(";")); w.write("\n")
      rows.foreach { r =>
        // a duplicate header repeats its column's value
        val fields = header.map(h => r.raw.getOrElse(h, ""))
        val u = rnd.nextDouble()
        val line =
          if (u < 0.01) fields.dropRight(1)
          else if (u < 0.02) fields ++ Seq("x", "y")
          else fields
        w.write(line.mkString(";")); w.write("\n")
      }
    } finally w.close()
  }

  private def load(dir: Path): Inputs = {
    val root: JsonNode = new ObjectMapper().readTree(dir.resolve("manifest.json").toFile)
    def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    def vals(n: JsonNode): Map[String, String] =
      n.fields().asScala.map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)).toMap
    val truth = root.get("entities").fields().asScala.map { e =>
      val t = e.getValue
      val cols = t.get("columns").fields().asScala.map { c =>
        c.getKey -> ColTruth(c.getValue.get("kind").asText, vals(c.getValue.get("t0")),
          vals(c.getValue.get("t1")))
      }.toMap
      e.getKey -> EntityTruth(t.get("pk").asText, strs(t.get("t0_ids")).toSet,
        strs(t.get("t1_ids")).toSet, strs(t.get("updated")).toSet,
        strs(t.get("inserted")).toSet, strs(t.get("deleted")).toSet,
        strs(t.get("authlog_ids")).toSet, strs(t.get("audit_cols")), cols)
    }.toMap
    def lines(p: Path): Long = {
      val s = Files.lines(p, ISO_8859_1)
      try s.count() - 2 finally s.close()
    }
    val t0Files = Seq("creditos", "radicados").map(e => dir.resolve(s"t0/raw_$e.csv"))
    val t1Files = Seq("creditos", "radicados").map(e => dir.resolve(s"t1/raw2_$e.csv"))
    Inputs(dir, dir.resolve("t0"), dir.resolve("t1"), t0Files.map(lines).sum,
      t1Files.map(lines).sum, t0Files.map(Files.size).sum, t1Files.map(Files.size).sum, truth)
  }
}

object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
