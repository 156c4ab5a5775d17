package graft

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Files

import graft.sources.CsvIngest
import graft.sources.CsvIngest._

/** Covers the csv_validator semantics: encoding detect (:180-204), delimiter
  * detect + plausibility (:206-265), header variations (:18-23,131-165),
  * file-level validation (:34-129). */
class CsvIngestSpec extends SparkSpec {

  // ------------------------------------------------------------- encoding

  test("detectEncoding: clean ASCII/UTF-8") {
    assert(detectEncoding("email,name\na@b.com,Ana\n".getBytes(StandardCharsets.UTF_8)) == "UTF-8")
  }

  test("detectEncoding: UTF-8 multibyte") {
    assert(detectEncoding("nome\nJoão,Café\n".getBytes(StandardCharsets.UTF_8)) == "UTF-8")
  }

  test("detectEncoding: UTF-8 BOM") {
    val bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ "email\n".getBytes(StandardCharsets.UTF_8)
    assert(detectEncoding(bom) == "UTF-8")
  }

  test("detectEncoding: latin-1 bytes are NOT valid UTF-8") {
    val latin = "João".getBytes(Charset.forName("ISO-8859-1")) // 0xE3 alone
    val enc = detectEncoding("nome\n".getBytes(StandardCharsets.UTF_8) ++ latin)
    assert(enc == "windows-1252") // first non-UTF-8 candidate that decodes
  }

  test("detectEncoding: windows-1252 smart quote (0x93 undefined in ISO-8859-1 table order)") {
    val bytes = "name\n".getBytes(StandardCharsets.UTF_8) ++ Array(0x93.toByte, 0x41.toByte)
    assert(Seq("windows-1252", "ISO-8859-1").contains(detectEncoding(bytes)))
  }

  // ------------------------------------------------------------ delimiter

  test("detectDelimiter: semicolon") {
    assert(detectDelimiter(Seq("a;b;c", "1;2;3", "4;5;6")) == ';')
  }

  test("detectDelimiter: comma wins when the ';' rung yields a single field") {
    assert(detectDelimiter(Seq("a,b,c,d", "1,2,3,4")) == ',')
  }

  test("detectDelimiter: tab") {
    assert(detectDelimiter(Seq("a\tb", "1\t2")) == '\t')
  }

  test("detectDelimiter: cross-delimiter plausibility rejects both, falls back to comma") {
    // reference py:227-233 semantics: ';' split leaves ',' inside fields →
    // implausible; ',' split leaves ';' inside a field → implausible; tab
    // yields one field → the py:256 comma fallback fires
    assert(detectDelimiter(Seq("a,b;x,c", "1,2x,3", "4,5x,6")) == ',')
  }

  test("detectDelimiter: ';' is preferred FIRST (European exports, reference ladder order)") {
    // both ';' and ',' split this header consistently into >1 clean fields —
    // the reference tries ';' first and its fields contain no ',', so ';'
    // wins even though ',' would give MORE fields (the old max-field-count
    // rule picked ',' here; the ladder is the parity behavior)
    assert(detectDelimiter(Seq("a;b", "1,5;2,7", "3,1;4,2")) == ';')
  }

  test("detectDelimiter: ambiguous mixed header lands on the reference's comma fallback") {
    // 'a;b,c;d': ';' fields contain ',' and ',' fields contain ';' — every
    // ladder rung is implausible, exactly like the reference, which then
    // defaults to ',' (py:256-265)
    assert(detectDelimiter(Seq("a;b,c;d")) == ',')
  }

  test("detectDelimiter: quoted fields hide their delimiters from the plausibility rule") {
    // header a;"b,c" — the ',' lives INSIDE quotes, so the ';' split parses
    // fields [a] [b,c]: python csv sees the ',' in the PARSED field and
    // rejects ';'; then ',' splits into [a;"b] [c"] whose field carries ';'
    // → rejected → comma fallback. Mirrored exactly.
    assert(detectDelimiter(Seq("a;\"b,c\"")) == ',')
    // but a fully quoted ';' header with benign fields takes the ';' rung
    assert(detectDelimiter(Seq("\"name\";\"org\"", "x;y")) == ';')
  }

  test("detectDelimiter: '|' extension rung — pipe files the reference rejects still ingest") {
    assert(detectDelimiter(Seq("a|b|c", "1|2|3")) == '|')
    // inconsistent pipe counts across sample rows → not plausible → comma
    assert(detectDelimiter(Seq("a|b|c", "1|2")) == ',')
  }

  test("detectDelimiter: empty input falls back to comma") {
    assert(detectDelimiter(Seq.empty) == ',')
  }

  // -------------------------------------------- encoding-ladder deviation

  test("encoding ladders agree outside 0x80-0x9F; inside it graft pins windows-1252 glyphs") {
    // valid UTF-8: both ladders say UTF-8
    val utf8 = "email,nome\njoão@x.com,João\n".getBytes(StandardCharsets.UTF_8)
    assert(detectEncoding(utf8) == "UTF-8")
    assert(CsvIngest.referenceEncodingLadder(utf8) == "utf-8")
    // latin-1 high bytes OUTSIDE 0x80-0x9F (é = 0xE9): reference says
    // latin-1, graft says windows-1252 — the two charsets map every byte
    // outside 0x80-0x9F to the SAME character, so the decoded text agrees
    val e9 = "nome\ncaf".getBytes(StandardCharsets.UTF_8) :+ 0xE9.toByte
    assert(CsvIngest.referenceEncodingLadder(e9) == "latin-1")
    assert(detectEncoding(e9) == "windows-1252")
    assert(new String(Array(0xE9.toByte), "windows-1252") ==
      new String(Array(0xE9.toByte), "ISO-8859-1"))
    // INSIDE 0x80-0x9F (0x93 = left smart quote): the pinned deviation —
    // reference latin-1 yields the invisible C1 control U+0093, graft
    // yields the glyph the upload meant
    val smart = "x\n".getBytes(StandardCharsets.UTF_8) :+ 0x93.toByte
    assert(CsvIngest.referenceEncodingLadder(smart) == "latin-1")
    assert(detectEncoding(smart) == "windows-1252")
    assert(new String(Array(0x93.toByte), "ISO-8859-1") == "\u0093", "reference: C1 control")
    assert(new String(Array(0x93.toByte), "windows-1252") == "“", "graft: the glyph")
  }

  // -------------------------------------------------------------- headers

  test("normalizeHeader: variation mapping (case/trim-insensitive)") {
    assert(normalizeHeader("E-Mail") == "email")
    assert(normalizeHeader("  email_address ") == "email")
    assert(normalizeHeader("NOME") == "first_name")
    assert(normalizeHeader("First Name") == "first_name")
    assert(normalizeHeader("Sobrenome") == "last_name")
    assert(normalizeHeader("empresa") == "company")
    assert(normalizeHeader("org") == "company")
  }

  test("normalizeHeader: unknown headers snake_cased") {
    assert(normalizeHeader("Custom Field!") == "custom_field")
    assert(normalizeHeader("  Weird--Name  ") == "weird_name")
  }

  // ----------------------------------------------------------- validation

  private def tmpCsv(name: String, content: Array[Byte]): String = {
    val dir = Files.createTempDirectory("graft_csvspec")
    val f = dir.resolve(name)
    Files.write(f, content)
    f.toString
  }

  test("validateFile: rejects non-csv extension") {
    val p = tmpCsv("data.txt", "email\na@b.com\n".getBytes(StandardCharsets.UTF_8))
    assert(validateFile(p) == Left(NotCsv))
  }

  test("validateFile: rejects empty file") {
    val p = tmpCsv("empty.csv", Array.emptyByteArray)
    assert(validateFile(p) == Left(EmptyFile))
  }

  test("validateFile: rejects header-only file") {
    val p = tmpCsv("headeronly.csv", "email,name\n".getBytes(StandardCharsets.UTF_8))
    assert(validateFile(p) == Left(NoDataRows))
  }

  test("validateFile: rejects oversized file") {
    val p = tmpCsv("big.csv", "email\na@b.com\n".getBytes(StandardCharsets.UTF_8))
    assert(validateFile(p, sizeCap = 4) == Left(TooLarge(Files.size(java.nio.file.Paths.get(p)), 4)))
  }

  test("validateFile: rejects missing required header") {
    val p = tmpCsv("noemail.csv", "nome,empresa\nAna,Acme\n".getBytes(StandardCharsets.UTF_8))
    assert(validateFile(p) == Left(MissingRequiredHeader(Seq("email"))))
  }

  test("validateFile: accepts a valid upload (variation header counts as email)") {
    Seq("E-Mail;Nome\nana@example.com;Ana\n",
        // fully quoted: ingest's csv reader strips the quotes, so must this
        "\"E-Mail\";\"Nome\"\n\"ana@example.com\";\"Ana\"\n").foreach { csv =>
      assert(validateFile(tmpCsv("ok.csv", csv.getBytes(StandardCharsets.UTF_8))).isRight, csv)
    }
  }

  // --------------------------------------------------------------- ingest

  test("ingest: semicolon + latin-1 file ends up normalized with row hashes") {
    val bytes = "E-Mail;NOME;Empresa\nana@ex.com;João;Café\n"
      .getBytes(Charset.forName("ISO-8859-1"))
    val p = tmpCsv("latin.csv", bytes)
    val df = CsvIngest.ingest(spark, p)
    assert(df.columns.toSet == Set("email", "first_name", "company", "staging_row_hash"))
    val row = df.collect().head
    assert(row.getAs[String]("email") == "ana@ex.com")
    assert(row.getAs[String]("first_name") == "João")
    assert(row.getAs[String]("staging_row_hash").length == 64) // sha-256 hex
  }

  test("ingest: windows-1252 smart quotes survive (no C1 mojibake)") {
    // 0x93/0x94 are “ ” in windows-1252 but C1 controls in ISO-8859-1;
    // € (0x80) likewise. These bytes are also what trips the UTF-8 decoder.
    val content = ("email,nome\n" + "a@b.com,").getBytes(StandardCharsets.US_ASCII) ++
      Array(0x93.toByte) ++ "Ana".getBytes(StandardCharsets.US_ASCII) ++
      Array(0x94.toByte, ' '.toByte, 0x80.toByte) ++ "\n".getBytes(StandardCharsets.US_ASCII)
    val p = tmpCsv("win1252.csv", content)
    assert(CsvIngest.sniff(p).encoding == "windows-1252")
    val row = CsvIngest.ingest(spark, p).collect().head
    assert(row.getAs[String]("first_name") == "“Ana” €") // “Ana” €
  }

  test("ingest: row hash is deterministic and row-distinct") {
    val p = tmpCsv("two.csv", "email,nome\na@b.com,Ana\nb@c.com,Bob\n".getBytes(StandardCharsets.UTF_8))
    val h1 = CsvIngest.ingest(spark, p).select("staging_row_hash").collect().map(_.getString(0)).sorted
    val h2 = CsvIngest.ingest(spark, p).select("staging_row_hash").collect().map(_.getString(0)).sorted
    assert(h1.sameElements(h2) && h1.distinct.length == 2)
  }

  test("fileHashes: duplicate uploads detected by content hash") {
    val dir = Files.createTempDirectory("graft_dupdir")
    Files.write(dir.resolve("a.csv"), "email\nx@y.com\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.csv"), "email\nx@y.com\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("c.csv"), "email\nz@w.com\n".getBytes(StandardCharsets.UTF_8))
    val out = CsvIngest.fileHashes(spark, dir.toString).collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_uploads") == 2).get
    assert(dup.getAs[scala.collection.Seq[String]]("paths").length == 2)
  }

  test("splitQuoted: RFC 4180 doubled quote is a literal quote, as csv.DictReader sees it") {
    assert(splitQuoted("\"a\"\"b\"", ',') == Seq("a\"b"))
    assert(splitQuoted("\"a,\"\"b\"\",c\",d", ',') == Seq("a,\"b\",c", "d"))
    assert(splitQuoted("x,\"y\"\"\",z", ',') == Seq("x", "y\"", "z"))
  }
}
