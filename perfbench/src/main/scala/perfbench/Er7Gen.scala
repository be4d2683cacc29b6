package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** What the generator planted, in the pipeline's own terms.
  *
  * The counts follow the program's documented semantics, not its output:
  *   - a file holds messages separated by a blank line (an empty line between
  *     two LF or CRLF line breaks), and trailing whitespace is not part of a
  *     message;
  *   - a message's id is the sha-256 of its raw payload before newline
  *     normalization, so a line-ending variant is a distinct message;
  *   - exact duplicates of a payload are dropped by dedup;
  *   - a payload the ER7 grammar rejects lands in the error zone as `txt`,
  *     every other distinct payload is staged as `json`.
  */
final case class Manifest(
    files: Int,
    inputBytes: Long,
    offered: Int,
    distinct: Int,
    duplicates: Int,
    rejected: Int,
    lineEndingVariants: Int,
    pidSegments: Long,
    obxSegments: Long,
    dg1Segments: Long,
    nk1Segments: Long,
    mrgSegments: Long) {

  def staged: Int = distinct - rejected

  /** (zone, format) → rows of the batch lake, which holds the ingested
    * population plus its staged/error branch. */
  def batchZones: Map[(String, String), Long] = Map(
    ("ingestion", "er7") -> distinct.toLong,
    ("staging", "json") -> staged.toLong,
    ("error", "txt") -> rejected.toLong).filter(_._2 > 0)

  /** (zone, format) → rows of the streaming lake, which writes only the
    * staged/error branch. */
  def streamZones: Map[(String, String), Long] = batchZones - (("ingestion", "er7"))

  def toJson: String = Json.obj(
    "files" -> files, "input_bytes" -> inputBytes, "offered" -> offered,
    "distinct" -> distinct, "duplicates" -> duplicates, "rejected" -> rejected,
    "staged" -> staged, "line_ending_variants" -> lineEndingVariants,
    "segments" -> Json.Raw(Json.obj("PID" -> pidSegments, "OBX" -> obxSegments,
      "DG1" -> dg1Segments, "NK1" -> nk1Segments, "MRG" -> mrgSegments)),
    "batch_zones" -> zones(batchZones), "stream_zones" -> zones(streamZones))

  private def zones(z: Map[(String, String), Long]): Json.Raw =
    Json.Raw(Json.obj(z.toSeq.sortBy(_._1.toString).map { case ((zone, f), n) => s"$zone/$f" -> (n: Any) }: _*))
}

/** One generated file: its name and the payloads it carries, in order. */
final case class GenFile(name: String, payloads: Vector[String], separator: String) {
  def text: String = payloads.mkString(separator) + separator.take(separator.length / 2)
}

/** A generated corpus: files in drop order, every distinct payload by id
  * (the lookup oracle), the ids that were rejected, and the manifest. */
final case class Corpus(files: Vector[GenFile], payloadById: Map[String, String],
                        rejectedIds: Set[String], manifest: Manifest) {
  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.write(dir.resolve(f.name), f.text.getBytes(UTF_8)))
  }
}

/** Seeded HL7 v2 ER7 corpus generator.
  *
  * Covers the corpus quirks of FIXTURES.md: multi-message files; the
  * backtick escape character in MSH-2; `""` nulls, `~` repetitions and `&`
  * sub-components; MRG/NK1/OBX groups; versions 2.1 through 2.7; RTF blobs
  * and non-ASCII dashes. It plants exact duplicates, payloads the ER7
  * grammar rejects, and line-ending variants at fixed rates. The same seed
  * gives the same bytes.
  */
object Er7Gen {
  val DuplicateRate = 0.05
  val RejectRate = 0.03
  val VariantRate = 0.04

  private val versions = Vector("2.1", "2.2", "2.3", "2.3.1", "2.4", "2.5", "2.5.1", "2.6", "2.7")
  private val families = Vector("DOE", "SMITH", "LEVERKUHN", "GARCÍA", "O'NEIL", "NGUYEN", "MÜLLER", "PATEL")
  private val givens = Vector("JOHN", "JANE", "ADRIAN", "MARÍA", "WEI", "PRIYA", "JOSÉ", "ANNA")
  private val loinc = Vector(
    ("2345-7", "Glucose", "mg/dL"), ("718-7", "Hemoglobin", "g/dL"),
    ("2951-2", "Sodium", "mmol/L"), ("2823-3", "Potassium", "mmol/L"),
    ("8867-4", "Heart rate", "/min"), ("8480-6", "Systolic BP", "mm[Hg]"))
  private val icd = Vector(("I10", "Essential hypertension"), ("E11.9", "Type 2 diabetes"),
    ("J45.909", "Asthma – unspecified"), ("R07.9", "Chest pain — unspecified"))
  private val rtf = "{\\rtf1\\ansi\\deff0 {\\fonttbl {\\f0 Courier;}}\\f0\\fs20 ECG: sinus rhythm \\u8211? normal axis\\par QTc 412 ms\\par}"

  /** Renders a message's segments with the given segment terminator. */
  private def render(segments: Seq[String], terminator: String): String =
    segments.mkString(terminator)

  private final class Builder(rng: java.util.SplittableRandom) {
    private def pick[T](v: Vector[T]): T = v(rng.nextInt(v.length))
    private def digits(n: Int): String = (1 to n).map(_ => ('0' + rng.nextInt(10)).toChar).mkString
    private def ts(): String = f"20${10 + rng.nextInt(15)}%02d${1 + rng.nextInt(12)}%02d${1 + rng.nextInt(28)}%02d${rng.nextInt(24)}%02d${rng.nextInt(60)}%02d"

    /** A valid message as segments, with its control id `n` (unique per
      * corpus, so no two generated messages collide by accident). */
    def valid(n: Long): Seq[String] = {
      val backtick = rng.nextInt(8) == 0
      val enc = if (backtick) "^~`&" else "^~\\&"
      val version = pick(versions)
      val kind = rng.nextInt(4)
      val msgType = kind match {
        case 0 => "ADT^A01"
        case 1 => "ADT^A04"
        case 2 => "ADT^A40"
        case _ => "ORU^R01"
      }
      val facility = if (rng.nextInt(5) == 0) "" else s"FAC${rng.nextInt(20)}"
      val msh = s"MSH|$enc|APP${rng.nextInt(9)}|$facility|LAKE|HCLS|${ts()}||$msgType|CTL$n|P|$version"
      val family = pick(families)
      // repeated identifiers (~) with an assigning-authority sub-component (&)
      val ids = if (rng.nextInt(3) == 0) s"${digits(9)}^^^MRN&1.2.3&ISO~${digits(6)}^^^SSN" else digits(9)
      val sex = if (rng.nextBoolean()) "M" else "F"
      // the `""` explicit-null quirk lands in the family name now and then
      val name = if (rng.nextInt(10) == 0) "\"\"" else s"$family^${pick(givens)}"
      val pidSeg = s"PID|1||$ids||$name||19${40 + rng.nextInt(60)}${f"${1 + rng.nextInt(12)}%02d"}01|$sex|||${rng.nextInt(999)} MAIN ST^^CITY^ST^${digits(5)}"
      val body = Vector.newBuilder[String]
      body += msh
      body += s"EVN|${msgType.takeRight(3)}|${ts()}"
      body += pidSeg
      kind match {
        case 0 | 1 =>
          val nNk1 = 1 + rng.nextInt(3)
          (1 to nNk1).foreach { i =>
            body += s"NK1|$i|${pick(families)}^${pick(givens)}|SPO|${digits(3)}-${digits(4)}~${digits(3)}-${digits(4)}"
          }
          body += s"PV1|1|I|WARD${rng.nextInt(9)}^${rng.nextInt(40)}^1||||${digits(6)}^${pick(families)}"
          if (rng.nextBoolean()) {
            val (code, desc) = pick(icd)
            body += s"DG1|1||$code^$desc^I10||${ts()}|A"
          }
          if (kind == 1) body += s"IN1|1|PLAN${rng.nextInt(9)}|${digits(5)}|INSURER ${rng.nextInt(50)}"
          if (rng.nextInt(3) == 0) {
            val (code, label, unit) = pick(loinc)
            body += s"OBX|1|NM|$code^$label^LN||${rng.nextInt(300)}|$unit|||||F"
          }
        case 2 =>
          body += s"PD1|||CLINIC ${rng.nextInt(9)}"
          body += s"MRG|${digits(9)}^^^MRN&1.2.3&ISO||${digits(7)}"
        case _ =>
          val groups = 1 + rng.nextInt(3)
          (1 to groups).foreach { g =>
            body += s"OBR|$g||${digits(8)}|${pick(loinc)._1}^PANEL $g^L|||${ts()}"
            val nObx = 2 + rng.nextInt(5)
            (1 to nObx).foreach { i =>
              val (code, label, unit) = pick(loinc)
              val obxSeg = rng.nextInt(10) match {
                case 0 => s"OBX|$i|FT|$code&ALT&L^$label^LN||$rtf||||||F"
                case 1 => s"OBX|$i|TX|$code^$label^LN||Result pending – see note — clinician review||||||F"
                case 2 => s"OBX|$i|CE|$code^$label^LN||POS^Positive^L~NEG^Negative^L||||||F"
                case _ => s"OBX|$i|NM|$code^$label^LN||${rng.nextInt(500)}.${rng.nextInt(10)}|$unit|||||F"
              }
              body += obxSeg
              }
            if (rng.nextInt(4) == 0) body += s"NTE|1||Specimen hemolyzed – repeat draw"
          }
      }
      body.result()
    }

    /** A payload the ER7 grammar rejects, one of several causes. */
    def rejected(n: Long): String = rng.nextInt(5) match {
      case 0 => s"I'm just a random number: $n"
      case 1 => s"MSH|^~\\&|APP|FAC|LAKE|HCLS|${ts()}||ADT^A01|CTL$n|P"       // no MSH-12
      case 2 => s"MSH|^~\\&|APP|FAC|LAKE|HCLS|${ts()}||ADT^A01|CTL$n|P|3.0\rPID|1||$n" // unknown version
      case 3 => s"MSH|^~\\&|APP|FAC|LAKE|HCLS|${ts()}||ADT^A01|CTL$n|P|2.5\rP!D|1||$n"  // bad segment id
      case _ => s"MSH|^~\\&#%|APP|FAC|LAKE|HCLS|${ts()}||ADT^A01|CTL$n|P|2.5"         // bad MSH-2
    }
  }

  private val terminators = Vector("\r", "\n", "\r\n")

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  /** `nMessages` messages offered in files of 1–5 messages each. */
  def generate(seed: Long, nMessages: Int, filePrefix: String = "msg"): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    val b = new Builder(rng)
    // valid messages' segments with the terminators already used for them,
    // for line-ending variants
    val validSegs = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Set[String])]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    val byId = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rejectedIds = scala.collection.mutable.HashSet.empty[String]
    var duplicates, variants = 0
    val payloads = Vector.newBuilder[String]
    var n = 0L
    var offered = 0
    while (offered < nMessages) {
      val roll = rng.nextDouble()
      val payload =
        if (roll < DuplicateRate && emitted.nonEmpty) {
          duplicates += 1
          emitted(rng.nextInt(emitted.length))
        } else if (roll < DuplicateRate + RejectRate) {
          n += 1
          val p = b.rejected(n)
          rejectedIds += sha256Hex(p)
          p
        } else if (roll < DuplicateRate + RejectRate + VariantRate && validSegs.nonEmpty) {
          // the same segments with another segment terminator: a distinct
          // payload (distinct sha-256) that parses identically
          variants += 1
          val k = rng.nextInt(validSegs.length)
          val (segs, used) = validSegs(k)
          val unused = terminators.filterNot(used)
          val t = if (unused.isEmpty) terminators(0) else unused(rng.nextInt(unused.length))
          validSegs(k) = (segs, used + t)
          render(segs, t)
        } else {
          n += 1
          val segs = b.valid(n)
          // most messages use the native CR terminator; some arrive as LF/CRLF
          val t = if (rng.nextInt(4) == 0) terminators(1 + rng.nextInt(2)) else "\r"
          validSegs += ((segs, Set(t)))
          render(segs, t)
        }
      emitted += payload
      byId.getOrElseUpdate(sha256Hex(payload), payload)
      payloads += payload
      offered += 1
    }
    // a fourth variant of one message repeats a terminator: then it is an
    // exact duplicate, and the manifest counts it as one
    val all = payloads.result()
    val realDuplicates = all.length - byId.size
    val realVariants = variants - (realDuplicates - duplicates)
    val files = Vector.newBuilder[GenFile]
    var i = 0
    var fileNo = 0
    while (i < all.length) {
      val k = math.min(1 + rng.nextInt(5), all.length - i)
      // files separate messages by a blank line, LF or CRLF style
      val sep = if (rng.nextInt(3) == 0) "\r\n\r\n" else "\n\n"
      files += GenFile(f"$filePrefix-$fileNo%06d.txt", all.slice(i, i + k), sep)
      i += k
      fileNo += 1
    }
    val fs = files.result()
    // segment totals over distinct staged payloads, for the view checks
    def count(seg: String): Long = byId.iterator.filterNot(kv => rejectedIds(kv._1)).map { case (_, p) =>
      p.split("\r\n|\r|\n").count(_.startsWith(seg + "|")).toLong
    }.sum
    val manifest = Manifest(
      files = fs.length,
      inputBytes = fs.map(_.text.getBytes(UTF_8).length.toLong).sum,
      offered = all.length,
      distinct = byId.size,
      duplicates = realDuplicates,
      rejected = rejectedIds.size,
      lineEndingVariants = realVariants,
      pidSegments = count("PID"), obxSegments = count("OBX"), dg1Segments = count("DG1"),
      nk1Segments = count("NK1"), mrgSegments = count("MRG"))
    Corpus(fs, byId.toMap, rejectedIds.toSet, manifest)
  }
}
