package graft.sources

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** CSV ingestion with the reference's upload-validation semantics
  * (/root/reference/src/app/services/csv_validator.py): file-level checks,
  * encoding auto-detect (:180-204), delimiter auto-detect with plausibility
  * (:206-265), header normalization + variation mapping (:18-23,131-165),
  * and content hashing for duplicate-upload detection (:111).
  *
  * Scale design: detection reads a BOUNDED PREFIX of one file on the driver
  * (64 KiB), never the whole file; the actual parse is Spark's distributed
  * csv source with the detected options, so a directory of thousands of
  * uploads scans in parallel. The file-hash dedup path uses the distributed
  * `binaryFile` source — hashing happens on executors.
  */
object CsvIngest {

  /** Canonical column ← accepted header variations (csv_validator.py:18-23
    * semantics: case-insensitive, trimmed; includes pt-BR variants). */
  val HeaderVariations: Map[String, Seq[String]] = Map(
    "email" -> Seq("email", "e-mail", "e_mail", "email_address", "mail"),
    "first_name" -> Seq("first_name", "firstname", "first name", "nome", "fname", "given_name"),
    "last_name" -> Seq("last_name", "lastname", "last name", "sobrenome", "lname", "surname"),
    "company" -> Seq("company", "empresa", "organization", "org", "company_name"))

  private val variationIndex: Map[String, String] =
    for ((canon, vars) <- HeaderVariations; v <- vars) yield (v, canon)

  /** Normalize one raw header: trim + lowercase, map known variations to the
    * canonical name, otherwise snake_case the cleaned name. */
  def normalizeHeader(raw: String): String = {
    val clean = raw.trim.toLowerCase
    variationIndex.getOrElse(clean, clean.replaceAll("[^a-z0-9]+", "_").stripPrefix("_").stripSuffix("_"))
  }

  val RequiredColumns: Seq[String] = Seq("email")

  // ------------------------------------------------------------- detection

  /** Charsets tried in order; first that decodes the prefix without error
    * wins (csv_validator.py:178-204 shape). ISO-8859-1 is the last resort —
    * it never fails, it just maps bytes 1:1.
    *
    * PINNED DEVIATION from the reference (documented in SURVEY §3): the
    * reference ladder is utf-8 → latin-1 → cp1252 → iso-8859-1 →
    * windows-1252, and since Python's latin-1 decode NEVER fails its
    * effective behavior is "utf-8 else latin-1" — bytes 0x80–0x9F become
    * invisible C1 CONTROL characters. Graft tries windows-1252 before the
    * latin-1 catch-all, so those bytes decode to the glyphs real uploads
    * mean by them (“smart quotes”, €, —, …). The two ladders agree on
    * every byte sequence outside 0x80–0x9F; inside it graft is a strict
    * readability improvement. [[referenceEncodingLadder]] computes the
    * reference's answer so the divergence is testable, not folklore. */
  val CandidateCharsets: Seq[String] = Seq("UTF-8", "windows-1252", "ISO-8859-1")

  /** What the REFERENCE's encoding ladder would pick for these bytes:
    * "utf-8" when the bytes are valid UTF-8, else "latin-1" (the catch-all
    * that cannot fail — csv_validator.py:178's second rung). Exists to pin
    * the deviation note above with a spec, and for callers that need
    * bug-for-bug reference compatibility. */
  def referenceEncodingLadder(prefix: Array[Byte]): String = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try { dec.decode(java.nio.ByteBuffer.wrap(prefix)); "utf-8" }
    catch { case _: java.nio.charset.CharacterCodingException => "latin-1" }
  }

  def detectEncoding(prefix: Array[Byte]): String = {
    if (prefix.length >= 3 && prefix(0) == 0xEF.toByte && prefix(1) == 0xBB.toByte && prefix(2) == 0xBF.toByte)
      return "UTF-8" // BOM
    CandidateCharsets.find { name =>
      val dec = Charset.forName(name).newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      try { dec.decode(java.nio.ByteBuffer.wrap(prefix)); true }
      catch { case _: java.nio.charset.CharacterCodingException => false }
    }.getOrElse("ISO-8859-1")
  }

  /** Reference ladder order: ';' FIRST (European exports), then ',', then
    * tab (csv_validator.py:206-209). '|' is a graft EXTENSION rung tried
    * only after all three fail — see [[detectDelimiter]]. */
  val CandidateDelimiters: Seq[Char] = Seq(';', ',', '\t', '|')

  /** Delimiter occurrences outside double-quoted sections ("" escapes a
    * quote inside a quoted field, RFC 4180). */
  private[graft] def unquotedCount(line: String, d: Char): Int = {
    var n = 0; var inQ = false; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQ = !inQ
      else if (c == d && !inQ) n += 1
      i += 1
    }
    n
  }

  /** Quote-aware split (the field view Python's csv module gives the
    * reference): quote characters toggle, delimiters inside quotes don't
    * split, quote chars themselves are dropped from field content, and an
    * RFC 4180 doubled quote inside a quoted section ("") is a literal '"'
    * — matching csv.DictReader, so the cross-delimiter plausibility check
    * sees the same field content the reference parser would. */
  private[graft] def splitQuoted(line: String, d: Char): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var inQ = false; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') {
        if (inQ && i + 1 < line.length && line.charAt(i + 1) == '"') {
          cur += '"'; i += 1
        } else inQ = !inQ
      }
      else if (c == d && !inQ) { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Reference-parity delimiter detection (csv_validator.py:206-265): walk
    * the ladder ';' → ',' → tab IN ORDER over the HEADER line; a candidate
    * wins when it yields MORE THAN ONE non-empty field and passes the
    * cross-delimiter plausibility rule — a ';' split is implausible if any
    * parsed field still contains ',' (and vice versa; tab fields must
    * contain neither). First winner takes it; final fallback is ','
    * (py:256-265).
    *
    * EXTENSION rung (documented deviation, strictly a superset): before
    * falling back, try '|' with a consistent-field-count check across the
    * sample lines — the reference has no '|' support, fails all three
    * rungs on a pipe file, parses it as one comma column, and then REJECTS
    * it for missing headers; graft ingests it. Every file the reference
    * successfully parses takes the same rung here. */
  def detectDelimiter(sampleLines: Seq[String]): Char = {
    val lines = sampleLines.filter(_.nonEmpty)
    if (lines.isEmpty) return ','
    val header = lines.head
    val ladder = CandidateDelimiters.takeWhile(_ != '|').find { d =>
      val fields = splitQuoted(header, d).map(_.trim).filter(_.nonEmpty)
      fields.length > 1 && (d match {
        case ';' => !fields.exists(_.contains(','))
        case ',' => !fields.exists(_.contains(';'))
        case _ => !fields.exists(f => f.contains(',') || f.contains(';'))
      })
    }
    ladder.getOrElse {
      val counts = lines.map(unquotedCount(_, '|'))
      if (counts.head > 0 && counts.distinct.size == 1) '|' else ','
    }
  }

  // ------------------------------------------------------------ validation

  sealed trait ValidationError { def message: String }
  case object NotCsv extends ValidationError { val message = "file must have a .csv extension" }
  case object EmptyFile extends ValidationError { val message = "file is empty" }
  case object NoDataRows extends ValidationError { val message = "file has a header but no data rows" }
  case class TooLarge(size: Long, cap: Long) extends ValidationError {
    val message = s"file is $size bytes; cap is $cap"
  }
  case class MissingRequiredHeader(missing: Seq[String]) extends ValidationError {
    val message = s"missing required column(s): ${missing.mkString(", ")}"
  }

  val DefaultSizeCap: Long = 100L * 1024 * 1024 // 100 MiB, csv_validator.py size-cap analog

  /** File-level validation (csv_validator.py:34-129): extension, empty file,
    * size cap, has data rows, required headers present after mapping. */
  def validateFile(path: String, sizeCap: Long = DefaultSizeCap): Either[ValidationError, Unit] = {
    val p = Paths.get(path)
    if (!path.toLowerCase.endsWith(".csv")) Left(NotCsv)
    else if (!Files.exists(p) || Files.size(p) == 0) Left(EmptyFile)
    else if (Files.size(p) > sizeCap) Left(TooLarge(Files.size(p), sizeCap))
    else {
      val Sniff(enc, delim, lines) = sniff(path)
      if (lines.length < 2) Left(NoDataRows)
      else {
        // quote-aware, like the csv reader `ingest` parses with: a quoted
        // "E-Mail" header must map to email here too
        val headers = splitQuoted(lines.head, delim).map(normalizeHeader)
        val missing = RequiredColumns.filterNot(headers.contains)
        if (missing.nonEmpty) Left(MissingRequiredHeader(missing))
        else { val _ = enc; Right(()) }
      }
    }
  }

  case class Sniff(encoding: String, delimiter: Char, sampleLines: Seq[String])

  /** Bounded-prefix sniff: 64 KiB from the head of the file, decoded with the
    * detected charset, split into sample lines for delimiter detection. */
  def sniff(path: String, prefixBytes: Int = 64 * 1024): Sniff = {
    val in = Files.newInputStream(Paths.get(path))
    val buf = try in.readNBytes(prefixBytes) finally in.close()
    val enc = detectEncoding(buf)
    val text = new String(buf, Charset.forName(enc))
    // drop a possibly-truncated last line unless we read the whole file
    val raw = text.split("\r?\n", -1).toSeq
    val lines = if (buf.length < prefixBytes) raw.filter(_.nonEmpty)
                else raw.dropRight(1).filter(_.nonEmpty)
    Sniff(enc, detectDelimiter(lines.take(20)), lines.take(20))
  }

  // --------------------------------------------------------------- ingest

  /** Full ingest: sniff one file for options, then distributed-parse the
    * whole path (file OR directory of like-formatted uploads) with Spark's
    * csv source, normalize headers, and stamp each row with the
    * staging_row_hash idempotency key (models/issue.py:81). */
  def ingest(spark: SparkSession, path: String, sniffFile: Option[String] = None): DataFrame = {
    val probe = sniffFile.getOrElse {
      val p = Paths.get(path)
      if (Files.isDirectory(p)) {
        val it = Files.list(p)
        try it.filter(f => f.toString.toLowerCase.endsWith(".csv")).findFirst()
          .orElseThrow(() => new IllegalArgumentException(s"no csv files under $path"))
          .toString
        finally it.close()
      } else path
    }
    val Sniff(enc, delim, _) = sniff(probe)
    // Spark's csv source only supports a fixed charset list that excludes
    // windows-1252, and reading it as ISO-8859-1 would corrupt 0x80–0x9F
    // (smart quotes, €, — …) into C1 controls — exactly the bytes that made
    // the sniffer pick windows-1252. Transcode those files to UTF-8 copies
    // (streaming IO, per file) and parse the copies.
    val (parsePath, parseCharset) =
      if (enc == "windows-1252") (transcodeToUtf8(path, enc), "UTF-8") else (path, enc)
    val raw = spark.read
      .option("header", "true")
      .option("sep", delim.toString)
      .option("encoding", parseCharset)
      .option("mode", "PERMISSIVE")
      .csv(parsePath)
    val renamed = raw.columns.foldLeft(raw) { (df, c) => df.withColumnRenamed(c, normalizeHeader(c)) }
    // null sentinel \u0001 (SOH): cannot occur in CSV field data, and the
    // DuckDB oracle reproduces it as chr(1) (NUL is not storable there)
    val hashCols = renamed.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0001")))
    renamed.withColumn("staging_row_hash", Cols.rowHashSha(hashCols.toIndexedSeq: _*))
  }

  /** Transcode the csv file(s) at `path` from `fromCharset` to UTF-8 copies
    * in a temp dir (streaming IO — constant memory per file). Used only for
    * charsets Spark's csv source can't parse natively. The dir and every
    * copy are deleted at JVM exit (the JVM cannot delete a non-empty dir,
    * and it deletes in reverse registration order, so each copy is
    * registered after the dir). */
  private def transcodeToUtf8(path: String, fromCharset: String): String = {
    val outDir = Files.createTempDirectory("graft_transcode")
    outDir.toFile.deleteOnExit()
    val p = Paths.get(path)
    val files =
      if (Files.isDirectory(p)) {
        val it = Files.list(p)
        try {
          val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
          it.filter(f => f.toString.toLowerCase.endsWith(".csv")).forEach(f => b += f)
          b.toSeq
        } finally it.close()
      } else Seq(p)
    files.foreach { f =>
      val copy = outDir.resolve(f.getFileName)
      copy.toFile.deleteOnExit()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        Files.newInputStream(f), Charset.forName(fromCharset)))
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        Files.newOutputStream(copy), StandardCharsets.UTF_8))
      try {
        val buf = new Array[Char](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally { in.close(); out.close() }
    }
    outDir.toString
  }

  /** Duplicate-upload detection by content hash (csv_validator.py:111 +
    * job_repository.py:148-183): distributed sha256 over the `binaryFile`
    * source — returns one row per DISTINCT content with the list of paths
    * carrying it; n_uploads > 1 ⇒ duplicate upload. */
  def fileHashes(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", "*.csv").load(dir)
      .select(col("path"), sha2(col("content"), 256).as("file_sha256"))
      .groupBy("file_sha256")
      .agg(sort_array(collect_list("path")).as("paths"), count(lit(1)).as("n_uploads"))
      .orderBy("file_sha256")
}
