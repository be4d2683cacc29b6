package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.hl7.Er7Parser
import org.scalatest.funsuite.AnyFunSuite

class Er7GenSpec extends AnyFunSuite {
  private def bytes(c: Corpus): Seq[(String, Seq[Byte])] = c.files.map(f => f.name -> f.text.getBytes(UTF_8).toSeq)

  test("the same seed gives identical bytes, another seed different bytes") {
    val a = Er7Gen.generate(7, 600)
    assert(bytes(a) == bytes(Er7Gen.generate(7, 600)))
    assert(a.manifest == Er7Gen.generate(7, 600).manifest)
    assert(bytes(a) != bytes(Er7Gen.generate(8, 600)))
  }

  test("the manifest matches a recount of the files under the documented semantics") {
    val c = Er7Gen.generate(3, 2000)
    val m = c.manifest
    // blank-line split (LF or CRLF lines), trailing whitespace dropped
    val messages = c.files.flatMap(_.text.split("(\\r?\\n)\\s*(\\r?\\n)+").map(_.replaceAll("\\s+$", "")).filter(_.nonEmpty))
    assert(messages.length == m.offered)
    val ids = messages.map(Er7Gen.sha256Hex)
    assert(ids.distinct.length == m.distinct)
    assert(m.offered == m.distinct + m.duplicates)
    assert(ids.toSet == c.payloadById.keySet)
    // the program's parser, after its newline preparation, rejects exactly
    // the planted payloads
    val rejected = c.payloadById.filter { case (_, p) => Er7Parser.parse(p.replaceAll("\r\n|\n", "\r")).isLeft }.keySet
    assert(rejected == c.rejectedIds)
    assert(m.rejected == rejected.size && m.staged == m.distinct - m.rejected)
    assert(m.batchZones.values.sum == 2L * m.distinct)
    assert(m.streamZones.values.sum == m.distinct.toLong)
    assert(m.files == c.files.length && m.inputBytes == c.files.map(_.text.getBytes(UTF_8).length.toLong).sum)
  }

  test("planted rates land near their targets and every quirk is present") {
    val c = Er7Gen.generate(5, 5000)
    val m = c.manifest
    def near(count: Int, rate: Double) = math.abs(count.toDouble / m.offered - rate) < 0.015
    assert(near(m.duplicates, Er7Gen.DuplicateRate))
    assert(near(m.rejected, Er7Gen.RejectRate))
    assert(near(m.lineEndingVariants, Er7Gen.VariantRate))
    val all = c.payloadById.values.toSeq
    assert(c.files.exists(_.payloads.length > 1), "multi-message files")
    assert(all.exists(_.startsWith("MSH|^~`&|")), "backtick escape character")
    assert(all.exists(_.contains("|\"\"|")), "\"\" nulls")
    assert(all.exists(p => p.contains("~") && p.contains("&")), "repetitions and sub-components")
    for (seg <- Seq("MRG|", "NK1|", "OBX|")) assert(all.exists(_.contains(seg)), seg)
    for (v <- Seq("2.1", "2.3.1", "2.7")) assert(all.exists(_.contains(s"|P|$v")), v)
    assert(all.exists(_.contains("{\\rtf1")), "RTF blob")
    assert(all.exists(p => p.contains("–") || p.contains("—")), "non-ASCII dashes")
    assert(all.exists(_.contains("\r\n")) && all.exists(p => p.contains("\n") && !p.contains("\r")), "line endings")
  }
}
