package perfbench

import java.nio.charset.Charset
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Cols
import graft.sources.CsvIngest

/** The generator's planted truth, checked by re-reading the bytes it
  * wrote without the generator's bookkeeping, and its properties checked
  * against the branches `CsvIngest` takes on them. */
class UploadGenSpec extends AnyFunSuite {
  private val contacts = 150L
  private val emailRe = Cols.EmailRegex.r

  /** The email column of an upload as the parser will see it: None for an
    * empty field (Spark's csv source reads it as null). */
  private def emails(u: Upload): Seq[Option[String]] = {
    val lines = new String(u.bytes, Charset.forName(u.spec.encoding)).split("\n").toSeq
    val header = lines.head.split(u.spec.delimiter).map(CsvIngest.normalizeHeader).toSeq
    val at = header.indexOf("email")
    assert(at >= 0, s"no email column in ${u.header}")
    val sep = java.util.regex.Pattern.quote(u.spec.delimiter.toString)
    lines.tail.map(_.split(sep, -1)(at)).map(e => if (e.isEmpty) None else Some(e))
  }

  private def recount(u: Upload): Truth = {
    val es = emails(u)
    val known = (0L until contacts).flatMap(UploadGen.contactEmail).toSet
    Truth(
      rows = es.length,
      invalidEmails = es.flatten.count(e => emailRe.findFirstIn(e).isEmpty),
      missingRequired = es.count(_.forall(_.trim.isEmpty)),
      duplicateKeys = es.groupBy(identity).count(_._2.length > 1),
      existingEmails = es.flatten.count(known))
  }

  private val passes = for (seed <- Seq(1L, 7L, 42L); pass <- -1 to 2) yield
    (seed, pass, UploadGen.passSpecs(seed, pass).zipWithIndex.map { case (s, i) =>
      UploadGen.render(s"p$pass-u$i", s, seed * 31 + pass * 7 + i, contacts)
    })

  test("planted counts equal a recount of the written bytes") {
    for ((seed, pass, uploads) <- passes; u <- uploads)
      assert(recount(u) == u.truth, s"seed $seed pass $pass ${u.name} ${u.spec}")
  }

  test("every issue class is planted in every upload") {
    for ((_, _, uploads) <- passes; u <- uploads) {
      val t = u.truth
      assert(t.invalidEmails > 0 && t.missingRequired > 0 && t.duplicateKeys > 0 && t.existingEmails > 0)
    }
  }

  test("a pass carries each encoding, delimiter and size once") {
    for ((_, _, uploads) <- passes) {
      val specs = uploads.map(_.spec)
      assert(specs.map(_.encoding).sorted == UploadGen.Encodings.sorted)
      assert(specs.map(_.delimiter).sorted == UploadGen.Delimiters.sorted)
      assert(specs.map(_.rows).sorted == UploadGen.Sizes.sorted)
    }
  }

  test("a cycle of passes carries every pairing of encoding, size and delimiter once") {
    for (seed <- Seq(1L, 7L); start <- Seq(-1, 0, 5)) {
      val specs = (start until start + UploadGen.Cycle).flatMap(UploadGen.passSpecs(seed, _))
      for (pairs <- Seq(specs.map(s => (s.encoding, s.rows)), specs.map(s => (s.encoding, s.delimiter)),
                        specs.map(s => (s.rows, s.delimiter))))
        assert(pairs.distinct.length == 9, s"seed $seed start $start: $pairs")
    }
  }

  test("the same seed and pass give the same bytes") {
    val a = UploadGen.passSpecs(5, 3).head
    assert(UploadGen.render("x", a, 9, contacts).bytes sameElements UploadGen.render("x", a, 9, contacts).bytes)
    assert(UploadGen.passSpecs(5, 3) != UploadGen.passSpecs(5, 4) ||
      UploadGen.passSpecs(5, 3) != UploadGen.passSpecs(6, 3))
  }

  test("CsvIngest detects each upload's encoding and delimiter and accepts it") {
    for ((_, _, uploads) <- passes; u <- uploads) {
      val f = Files.createTempFile("upload", ".csv")
      try {
        Files.write(f, u.bytes)
        val sniff = CsvIngest.sniff(f.toString)
        assert(sniff.encoding == u.spec.encoding, u.spec)
        assert(sniff.delimiter == u.spec.delimiter, u.spec)
        assert(CsvIngest.validateFile(f.toString).isRight, u.spec)
      } finally Files.delete(f)
    }
  }

  test("shares of one pass: a third per encoding, delimiter and size") {
    val shares = UploadGen.shares(passes.head._3.map(_.spec)).toMap
    for (k <- Seq("encoding=UTF-8", "delimiter=tab", "rows=50000"))
      assert(math.abs(shares(k) - 1.0 / 3) < 1e-9)
    assert(UploadGen.shares(Nil).isEmpty)
  }
}
