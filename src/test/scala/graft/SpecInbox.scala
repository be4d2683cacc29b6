package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

/** The specs' hand-written HL7 inbox, for tests that need a lake of their
  * own rather than the reference corpus. */
object SpecInbox {

  /** One ADT^A01 message, as its segment lines. */
  val adt: Seq[String] = Seq(
    "MSH|^~\\&|ADT1|GOOD HEALTH|REG|HOSP|20240101120000||ADT^A01|MSG0001|P|2.5",
    "EVN|A01|20240101120000",
    "PID|1||PAT123^^^HOSP^MR||DOE^JANE||19800101|F",
    "PV1|1|I|W^389^1")

  /** Writes a valid ADT, an exact duplicate of it, an unparseable payload
    * and the ADT with CRLF line endings, one file each: 3 distinct
    * messages, 2 of which parse. Returns the files in that order, which is
    * also the order of their modification times, so a file stream reads
    * them in it.
    *
    * Both dedups keep the ADT from `adt.txt`. A stream keeps the copy it
    * reads first, and `adt.txt` is older. A batch scan reads the larger of
    * two files first, and `adt.txt` ends in blank lines that the message
    * split drops. */
  def write(dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    val files = Seq(
      "adt.txt" -> (adt.mkString("\n") + "\n\n\n"),
      "adt_resent.txt" -> (adt.mkString("\n") + "\n"),
      "junk.txt" -> "I'm just a random number: 42\n",
      "adt_crlf.txt" -> (adt.mkString("\r\n") + "\r\n"))
    val start = System.currentTimeMillis() - 60000L
    files.zipWithIndex.map { case ((name, text), i) =>
      val f = Files.writeString(dir.resolve(name), text)
      Files.setLastModifiedTime(f, FileTime.fromMillis(start + i * 1000L))
    }
  }
}
