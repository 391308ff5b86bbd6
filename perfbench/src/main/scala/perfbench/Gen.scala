package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** One synthetic PHI-shaped source (FIXTURES.md §1): header, delimiter,
  * the `{}`-wrapped id that is also the lookup key, the status column the
  * source filter drops `Deleted` rows on, and a row builder. All values
  * are made up. */
final case class Shape(
    practice: String,
    fileType: String,
    delimiter: String,
    gz: Boolean,
    caseSensitive: Boolean,
    columns: Seq[String],
    idCol: String,
    statusCol: String,
    eligibleCol: Option[String],
    regex: Seq[(String, String, String, String)], // column, match, search, replace
    reformat: Option[String], // "Last, First" provider column
    mapping: Seq[(String, String)], // curated target <- refined source
    row: (SplittableRandom, String, String, String) => Seq[String]) {
  def ext: String = if (delimiter == ",") ".csv" else if (gz) ".txt.gz" else ".txt"
  def table(layer: String): String = s"$layer.${practice.toUpperCase}.${fileType.toUpperCase}"
  def filePattern: String = s"^${practice}_${fileType}_.*" +
    (if (delimiter == ",") "\\.csv$" else "\\.txt(\\.gz)?$")
  /** Column name as REFINED spells it (uppercased, separators to `_`). */
  def refined(c: String): String = c.replaceAll("[ /.]", "_").toUpperCase
}

/** What the engine must produce for one drop, computed by the generator
  * alone: the precheck verdict, and for a passing drop the CURATED
  * `RECORD_TYPE` distribution and the CRM op count. */
final case class DropExpect(
    files: Seq[String], // file names, in the drop's stage dir
    bytes: Long,
    rows: Long,
    precheckOk: Boolean,
    newRows: Long,
    updateRows: Long,
    lookupKeys: Seq[String]) {
  def curated: Long = newRows + updateRows
  /** `StageResult.details` of the CURATED stage. */
  def distribution: String =
    Seq("NEW" -> newRows, "UPDATE" -> updateRows).filter(_._2 > 0)
      .map { case (k, n) => s"$k=$n" }.mkString(",")
}

sealed trait BadFile
case object EmptyFile extends BadFile
case object MissingColumn extends BadFile

object Gen {
  private val First = Vector("Avery", "Blake", "Casey", "Devon", "Emery", "Finley",
    "Harper", "Jordan", "Kendall", "Logan", "Morgan", "Parker", "Quinn", "Riley",
    "Sawyer", "Taylor")
  private val Last = Vector("Abbott", "Barlow", "Castillo", "Dunn", "Ellison",
    "Foster", "Garza", "Hale", "Ingram", "Jensen", "Keller", "Lowe", "Mercer",
    "Nolan", "Ortega", "Pruitt")
  private val Cities = Vector("Springfield", "Riverton", "Fairview", "Lakeside",
    "Greenville", "Madison")
  private val States = Vector("AL", "KY", "TN", "MS", "SC", "FL")
  private val Insurers = Vector("Medicare A", "Medicare Advantage", "Medicaid",
    "Commercial PPO", "Self Pay")

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))
  private def digits(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString
  private def date(r: SplittableRandom, year: Int): String =
    f"$year%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
  private def time(r: SplittableRandom): String =
    f"${7 + r.nextInt(11)}%02d:${r.nextInt(4) * 15}%02d"
  private def provider(r: SplittableRandom): String = s"${pick(r, Last)}, ${pick(r, First)}"
  private def phone(r: SplittableRandom): String = s"555-01${digits(r, 2)}"

  val adcs: Shape = Shape("adcs", "AppointmentData", ",", gz = false, caseSensitive = true,
    Seq("appt_id", "Appt_Date", "Appt_Provider", "Appt_StartTime", "Appt_Status",
      "Appt_Type", "national_provider_id", "location_id", "location_name",
      "Patient_Address_1", "Patient_Address_2", "cell_phone", "city", "email_address",
      "home_phone", "state", "zip", "Primary_Financial_Class", "Primary_Ins_Name",
      "Primary_Policy_Number", "Secondary_Ins_Name", "Secondary_Policy_Number",
      "Secondary_Group_Number", "date_of_birth", "ethnicity", "first_name", "sex",
      "last_name", "middle_name", "med_rec_nbr", "language", "QMB_Status", "race",
      "Appointment_Deleted"),
    idCol = "appt_id", statusCol = "Appt_Status", eligibleCol = None,
    regex = Seq(("location_name", "Clinic", "ADCS Clinic (\\w+)", "ADCS-$1")),
    reformat = Some("Appt_Provider"),
    mapping = Seq("APPT_ID" -> "APPT_ID", "PROVIDER" -> "APPT_PROVIDER",
      "OFFICE" -> "LOCATION_NAME", "STATUS" -> "APPT_STATUS", "APPT_DATE" -> "APPT_DATE",
      "MRN" -> "MED_REC_NBR"),
    row = (r, id, status, _) => {
      val fn = pick(r, First); val ln = pick(r, Last)
      Seq(id, date(r, 2025), provider(r), time(r), status, pick(r, Vector("NEW", "FU", "AWV")),
        "1" + digits(r, 9), s"{L-${10 + r.nextInt(8)}}",
        pick(r, Vector("ADCS Clinic Main", "ADCS Clinic North", "ADCS Lab East")),
        s"${100 + r.nextInt(900)} Elm St", "", phone(r), pick(r, Cities),
        s"${fn.toLowerCase}.${ln.toLowerCase}@example.test", phone(r), pick(r, States),
        digits(r, 5), pick(r, Vector("MCR", "MCD", "COM")), pick(r, Insurers),
        digits(r, 9), pick(r, Insurers), digits(r, 9), digits(r, 6), date(r, 1950),
        pick(r, Vector("Hispanic", "Not Hispanic")), fn, pick(r, Vector("F", "M")), ln,
        pick(r, Vector("", "A", "J")), "MR" + digits(r, 7), pick(r, Vector("English", "Spanish")),
        pick(r, Vector("Y", "N")), pick(r, Vector("White", "Black", "Asian", "Other")),
        if (status == "Deleted") "Y" else "N")
    })

  val fastpace: Shape = Shape("fastpace", "AppointmentData", ",", gz = false,
    caseSensitive = false,
    Seq("AppointmentDate", "Provider", "AppointmentStartDate", "AppointmentStatus",
      "AppointmentType", "ProviderNPI", "OfficeLocation", "Address1", "Address2",
      "CellPhone", "City", "Email", "HomePhone", "State", "ZipCode",
      "PrimaryInsurancePackageName", "PrimaryInsuranceSubscriberId",
      "SecondaryInsurancePackageName", "SecondaryInsuranceSubscriberId",
      "SecondaryInsuranceGroupNumber", "DateOfBirth", "Ethnicity", "FirstName", "Sex",
      "LastName", "PatientNumber", "Language", "QMBStatus", "Race", "SystemId",
      "AppointmentDeleted", "InteractionResult", "InteractionUser", "Eligible",
      "AcoEnrolled", "ApcmEnrolled", "emr_appointment_id"),
    idCol = "emr_appointment_id", statusCol = "AppointmentStatus",
    eligibleCol = Some("Eligible"),
    regex = Seq(("OfficeLocation", "FastPace", "FastPace (FP[A-Z]{2}) ", "$1-")),
    reformat = Some("Provider"),
    mapping = Seq("APPT_ID" -> "EMR_APPOINTMENT_ID", "PROVIDER" -> "PROVIDER",
      "OFFICE" -> "OFFICELOCATION", "STATUS" -> "APPOINTMENTSTATUS",
      "APPT_DATE" -> "APPOINTMENTDATE", "MRN" -> "PATIENTNUMBER"),
    row = (r, id, status, eligible) => {
      val fn = pick(r, First); val ln = pick(r, Last)
      val d = date(r, 2025)
      Seq(d, provider(r), s"$d ${time(r)}", status, pick(r, Vector("CCM", "AWV", "TCM")),
        "1" + digits(r, 9),
        pick(r, Vector("FastPace FPAL Birmingham", "FastPace FPKY Louisville",
          "FastPace FPTN Nashville", "FastPace FPMS Tupelo")),
        s"${100 + r.nextInt(900)} Oak Ave", "", phone(r), pick(r, Cities),
        s"${fn.toLowerCase}@example.test", phone(r), pick(r, States), digits(r, 5),
        pick(r, Insurers), if (r.nextInt(10) == 0) "" else "1EG4" + digits(r, 7),
        pick(r, Insurers), digits(r, 9), digits(r, 6), date(r, 1948),
        pick(r, Vector("Hispanic", "Not Hispanic")), fn, pick(r, Vector("F", "M")), ln,
        "P" + digits(r, 6), pick(r, Vector("English", "Spanish")), pick(r, Vector("Y", "N")),
        pick(r, Vector("White", "Black", "Asian", "Other")), "S" + digits(r, 5),
        if (status == "Deleted") "true" else "false",
        pick(r, Vector("declined", "not_offered", "needs_more_info", "accepted")),
        pick(r, Vector("agent1", "agent2", "agent3")), eligible,
        pick(r, Vector("Y", "N")), pick(r, Vector("Y", "N")), id)
    })

  val werter: Shape = Shape("werter", "AppointmentData", ",", gz = false,
    caseSensitive = false,
    Seq("Appt ID", "Appt Date", "Appt Time", "Appt Provider", "Appt Location",
      "Appt Status", "Appt Type", "Patient First", "Patient Last", "Patient DOB",
      "Patient Phone", "Patient MRN", "Insurance"),
    idCol = "Appt ID", statusCol = "Appt Status", eligibleCol = None,
    regex = Seq(("Appt Location", "Myrtle Beach", "Myrtle Beach", "MB"),
      ("Appt Location", "Surfside", "Surfside Beach", "SSB")),
    reformat = Some("Appt Provider"),
    mapping = Seq("APPT_ID" -> "APPT_ID", "PROVIDER" -> "APPT_PROVIDER",
      "OFFICE" -> "APPT_LOCATION", "STATUS" -> "APPT_STATUS", "APPT_DATE" -> "APPT_DATE",
      "MRN" -> "PATIENT_MRN"),
    row = (r, id, status, _) => Seq(id, date(r, 2025), time(r), provider(r),
      pick(r, Vector("International Drive Office", "Myrtle Beach Clinic", "Conway Clinic",
        "Little River Office", "Surfside Beach Clinic")),
      status, pick(r, Vector("Office Visit", "Telehealth")), pick(r, First), pick(r, Last),
      date(r, 1952), phone(r), "W" + digits(r, 6), pick(r, Insurers)))

  /** humana/CSE-shaped capitation feed: pipe-delimited `.txt.gz`. */
  val humana: Shape = Shape("humana", "CSE", "|", gz = true, caseSensitive = false,
    Seq("SRC_MBR_ID", "YEARMO", "CAP_SPEC_AMT", "TYPE"),
    idCol = "SRC_MBR_ID", statusCol = "TYPE", eligibleCol = None,
    regex = Seq(("TYPE", "CAP", "^CAP$", "CAPITATION")),
    reformat = None,
    mapping = Seq("APPT_ID" -> "SRC_MBR_ID", "STATUS" -> "TYPE", "APPT_DATE" -> "YEARMO",
      "AMOUNT" -> "CAP_SPEC_AMT"),
    row = (r, id, status, _) => Seq(id, f"2025${1 + r.nextInt(12)}%02d",
      f"${r.nextInt(90000) / 100.0}%.2f", status))

  def statusOf(shape: Shape, r: SplittableRandom): String = shape.fileType match {
    case "CSE" => if (r.nextInt(12) == 0) "Deleted" else pick(r, Vector("CAP", "ADJ"))
    case _ => if (r.nextInt(12) == 0) "Deleted"
      else pick(r, Vector("Scheduled", "Completed", "Canceled", "Rescheduled"))
  }

  /** The shape under another practice's name. */
  def asPractice(s: Shape, name: String): Shape = s.copy(practice = name)

  /** CRM sync batch size, as in the reference's config. */
  val CrmBatchSize = 500

  /** Config in the reference's `practice_ingest_config.json` shape. */
  def config(shapes: Seq[Shape]): String = {
    val practices = shapes.groupBy(_.practice).toSeq.sortBy(_._1).map { case (p, ss) =>
      s"""{"practice_name": ${Json.quote(p)}, "display_name": ${Json.quote(p.toUpperCase)},
         | "ingest": [${ss.map(ingest).mkString(",\n")}]}""".stripMargin
    }
    s"""{"Practices": [${practices.mkString(",\n")}],
       | "ArchiveNotification": {"logic_app_url": "N/A"}}""".stripMargin
  }

  private def ingest(s: Shape): String = {
    def q(x: String) = Json.quote(x)
    def fq(t: String) = t.split('.')
    val Array(rd, rs, rt) = fq(s.table("RAW"))
    val Array(fd, fs, ft) = fq(s.table("REFINED"))
    val Array(cd, cs, ct) = fq(s.table("CURATED"))
    val regex = s.regex.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, rules) =>
      s"""{"column": ${q(c)}, "rules": [${rules.map { case (_, m, se, re) =>
        s"""{"match_substring": ${q(m)}, "search": ${q(se)}, "replace": ${q(re)}}"""
      }.mkString(",")}]}"""
    }
    val reformat = s.reformat.toSeq.map(c =>
      s"""{"column": ${q(c)}, "type": "split_reorder", "split_by": ",",
         | "part_order": [1, 0], "join_with": " ", "trim_parts": true}""".stripMargin)
    val filters = Seq(s"""{"column": ${q(s.refined(s.statusCol))}, "operator": "!=", "value": "Deleted"}""") ++
      s.eligibleCol.map(e => s"""{"column": ${q(s.refined(e))}, "operator": "=", "value": "Y"}""")
    val mapping = s.mapping.map { case (t, src) => s"""{"target": ${q(t)}, "source": ${q(src)}}""" }
    s"""{"file_type": ${q(s.fileType)}, "source_type": "file",
       | "source": {"container": "inbound", "directory": ${q(s.practice)},
       |   "file_pattern": ${q(s.filePattern)}, "delimiter": ${q(s.delimiter)}},
       | "archive": {"container": "archive", "directory": ${q(s.practice)}},
       | "error": {"container": "error", "directory": ${q(s.practice)}},
       | "precheck": {"expected_columns": [${s.columns.map(q).mkString(",")}],
       |   "min_row_count": 1, "require_all_columns": true, "allow_extra_columns": false,
       |   "case_sensitive_headers": ${s.caseSensitive}},
       | "snowflake": {"database": ${q(rd)}, "schema": ${q(rs)}, "table": ${q(rt)},
       |   "load_mode": "append",
       |   "refined_database": ${q(fd)}, "refined_schema": ${q(fs)}, "refined_table": ${q(ft)},
       |   "column_regex_replace": [${regex.mkString(",")}],
       |   "column_reformat": [${reformat.mkString(",")}],
       |   "column_strip": [{"column": ${q(s.idCol)}, "chars": "{}"}],
       |   "curated_database": ${q(cd)}, "curated_schema": ${q(cs)}, "curated_table": ${q(ct)},
       |   "curated_column_mapping": [${mapping.mkString(",")}],
       |   "curated_lookup": {"lookup_table": ${q(s.table("LOOKUP"))},
       |     "source_key": ${q(s.refined(s.idCol))}, "lookup_key": "KNOWN_ID",
       |     "result_column": "RECORD_TYPE", "match_value": "UPDATE", "no_match_value": "NEW"},
       |   "source_filter": [${filters.mkString(",")}],
       |   "dataverse_sync": {"enabled": true, "batch_size": $CrmBatchSize,
       |     "field_mapping": {"crm_appointment_id": "APPT_ID",
       |       "crm_status": {"source": "STATUS", "prefix": "ST_"},
       |       "crm_record_type": "RECORD_TYPE"}}}}""".stripMargin
  }
}

/** Writes drops of synthetic files for one run, seeded by the run's
  * seed, and hashes every byte it writes (name and content) so a run
  * can show its inputs are the ones its seed names. Ids are unique
  * across the run; every third one is in the lookup table. */
final class Generator(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private val digest = MessageDigest.getInstance("SHA-256")
  private var nextId = 0L

  def inputHash: String = digest.clone().asInstanceOf[MessageDigest].digest()
    .map(b => f"${b & 0xff}%02x").mkString

  /** Writes `nFiles` files of `rows` data rows each into `dir`; `bad`
    * replaces the last file with one that must fail precheck. */
  def drop(shape: Shape, dir: Path, tag: String, nFiles: Int, rows: Int,
      bad: Option[BadFile] = None): DropExpect = {
    Files.createDirectories(dir)
    var bytes = 0L; var total = 0L; var newRows = 0L; var upd = 0L
    val keys = Vector.newBuilder[String]
    val names = (0 until nFiles).map { i =>
      val name = s"${shape.practice}_${shape.fileType}_${tag}_$i${shape.ext}"
      val badHere = if (i == nFiles - 1) bad else None
      val sb = new StringBuilder
      val header = badHere match {
        case Some(MissingColumn) => shape.columns.init
        case _ => shape.columns
      }
      if (!badHere.contains(EmptyFile)) {
        sb.append(line(header, shape.delimiter))
        (0 until rows).foreach { _ =>
          nextId += 1
          val key = f"${shape.practice.take(2).toUpperCase}$nextId%08d-${rng.nextInt(100)}%02d"
          val status = Gen.statusOf(shape, rng)
          val eligible = if (rng.nextInt(5) == 0) "N" else "Y"
          val inLookup = nextId % 3 == 0 // every third id was synced before
          val values = shape.row(rng, s"{$key}", status, eligible)
          sb.append(line(if (badHere.isDefined) values.init else values, shape.delimiter))
          if (badHere.isEmpty) {
            total += 1
            if (inLookup) keys += key
            val kept = status != "Deleted" && (shape.eligibleCol.isEmpty || eligible == "Y")
            if (kept) { if (inLookup) upd += 1 else newRows += 1 }
          }
        }
      }
      val content = sb.toString.getBytes("UTF-8")
      // an empty compressed file is what gzip makes of no content
      val data = if (shape.gz) gzip(content) else content
      Files.write(dir.resolve(name), data)
      digest.update(name.getBytes("UTF-8"))
      digest.update(data)
      bytes += data.length
      name
    }
    DropExpect(names, bytes, total, bad.isEmpty, newRows, upd, keys.result())
  }

  private def line(values: Seq[String], delimiter: String): String =
    values.map { v =>
      if (v.contains(delimiter) || v.contains("\"")) "\"" + v.replace("\"", "\"\"") + "\""
      else v
    }.mkString("", delimiter, "\n")

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }
}
