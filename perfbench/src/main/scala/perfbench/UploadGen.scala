package perfbench

import java.nio.charset.Charset
import scala.util.Random

import graft.sources.CsvIngest

/** One generated contact upload: the properties `CsvIngest` branches on and
  * the exact number of rows planted in each issue class. */
final case class UploadSpec(rows: Int, encoding: String, delimiter: Char,
                            invalid: Int, empty: Int, blank: Int,
                            duplicate: Int, existing: Int) {
  def validNew: Int = rows - invalid - empty - blank - duplicate - existing
}

/** What the upload flow must find in one upload. A blank (whitespace-only)
  * email is both missing and malformed; an empty field parses as null,
  * which is missing but not malformed. Duplicate keys count distinct
  * emails that occur more than once, and the empty and the blank email
  * are one key each. */
final case class Truth(rows: Long, invalidEmails: Long, missingRequired: Long,
                       duplicateKeys: Long, existingEmails: Long) {
  def json: String =
    s"""{"rows":$rows,"invalid_emails":$invalidEmails,"missing_required":$missingRequired,"duplicate_keys":$duplicateKeys,"existing_emails":$existingEmails}"""
}

object Truth {
  def of(s: UploadSpec): Truth = Truth(
    rows = s.rows,
    invalidEmails = s.invalid + s.blank,
    missingRequired = s.empty + s.blank,
    duplicateKeys = s.duplicate + (if (s.empty >= 2) 1 else 0) + (if (s.blank >= 2) 1 else 0),
    existingEmails = s.existing)
}

final case class Upload(name: String, spec: UploadSpec, header: Seq[String],
                        bytes: Array[Byte]) {
  def truth: Truth = Truth.of(spec)
}

/** Seeded generator of contact CSV uploads for the `upload_ingest` workload.
  *
  * A pass is three uploads, one per encoding, with each delimiter, size
  * and planted-rate level used once. The size and the delimiter an
  * encoding gets follow a fixed Graeco-Latin square over the pass number,
  * so any [[Cycle]] consecutive passes carry every (encoding, size),
  * (encoding, delimiter) and (size, delimiter) pair exactly once: every
  * run of whole cycles uploads the same mix of properties. (seed, pass)
  * decides the request order, the rate levels, the header variants, the
  * column order and every row's content. */
object UploadGen {
  val Encodings: Seq[String] = Seq("UTF-8", "ISO-8859-1", "windows-1252")
  val Delimiters: Seq[Char] = Seq(',', ';', '\t')
  /** Rows per upload: 50 000, the size the upload flow was first profiled
    * at (~1.8 s warm on 4 cores), and 0.4 and 1.6 times it. */
  val Sizes: Seq[Int] = Seq(20000, 50000, 80000)
  /** Passes after which every (encoding, size, delimiter) pairing recurs. */
  val Cycle: Int = 3
  // planted shares of an upload's rows, one level per Latin-square cell
  val InvalidRates: Seq[Double] = Seq(0.005, 0.02, 0.05)
  val MissingRates: Seq[Double] = Seq(0.004, 0.01, 0.03)
  val DuplicateRates: Seq[Double] = Seq(0.005, 0.01, 0.03)
  val ExistingRates: Seq[Double] = Seq(0.001, 0.004, 0.008)

  /** The email a `customer` row carries as a contact: the engine's
    * derivation, where keys divisible by 7 or 11 are malformed and so can
    * never match an upload's well-formed email. */
  def contactEmail(custkey: Long): Option[String] =
    if (custkey % 7 == 0 || custkey % 11 == 0) None else Some(s"user$custkey@example.com")

  private val FirstNames = Seq("Ana", "José", "Zoë", "François", "Jürgen", "Inês",
    "Noël", "Søren", "Björn", "Maria", "João", "Chloé")
  private val LastNames = Seq("Silva", "Müller", "Nuñez", "Gonçalves", "Øster",
    "Dubois", "Ström", "Costa", "Peña", "Brandão", "Weiß", "Moreau")
  private val Companies = Seq("Acme", "Café Lux", "Estúdio Norte", "Fábrica Sul",
    "Grün AG", "Hôtel Vert", "Indústria", "Jóia Ltda")
  private val Domains = Seq("example.com", "mail.example.org", "corp.example.net")

  /** A header spelled as one of `CsvIngest.HeaderVariations`, in a random
    * case and with stray padding — `normalizeHeader` must map it back. */
  private def headerVariant(canon: String, rnd: Random): String = {
    val vars = CsvIngest.HeaderVariations(canon)
    val v = vars(rnd.nextInt(vars.length))
    val cased = rnd.nextInt(3) match {
      case 0 => v
      case 1 => v.toUpperCase
      case _ => v.split(" ").map(_.capitalize).mkString(" ")
    }
    if (rnd.nextBoolean()) s" $cased" else cased
  }

  /** The specs of one pass, in request order: three uploads that together
    * carry each encoding, delimiter, size and rate level exactly once.
    * Encoding e gets size (e + pass) mod 3 and delimiter (e + 2 pass) mod 3. */
  def passSpecs(seed: Long, pass: Int): Seq[UploadSpec] = {
    val rnd = new Random(mix(seed, pass))
    def perm3() = rnd.shuffle((0 until 3).toVector)
    val (inv, miss, dup, ex) = (perm3(), perm3(), perm3(), perm3())
    val specs = Encodings.indices.map { e =>
      val rows = Sizes(Math.floorMod(e + pass, Cycle))
      def n(rates: Seq[Double], lvl: Int) = math.round(rows * rates(lvl)).toInt
      val missing = n(MissingRates, miss(e))
      UploadSpec(rows, Encodings(e), Delimiters(Math.floorMod(e + 2 * pass, Cycle)),
        invalid = n(InvalidRates, inv(e)),
        empty = missing - missing / 2, blank = missing / 2,
        duplicate = n(DuplicateRates, dup(e)),
        existing = n(ExistingRates, ex(e)))
    }
    rnd.shuffle(specs)
  }

  /** A well-spread `Random` seed for (seed, pass): consecutive seeds of
    * `java.util.Random` start alike, so the pair is hashed first. */
  def mix(seed: Long, pass: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + pass
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Renders one upload. `contacts` is the number of `customer` rows; the
    * planted existing emails are drawn without replacement from their
    * well-formed contact emails (capped at how many there are). */
  def render(name: String, spec0: UploadSpec, seed: Long, contacts: Long): Upload = {
    val rnd = new Random(seed)
    val pool = rnd.shuffle((0L until contacts).flatMap(contactEmail).toVector)
    val spec = spec0.copy(existing = math.min(spec0.existing, pool.length))
    require(spec.validNew >= math.max(1, spec.duplicate), s"$name: too few valid rows")

    val canon = Seq("email", "first_name", "last_name", "company", "phone")
    val order = rnd.shuffle(canon)
    val header = order.map {
      case "phone" => if (rnd.nextBoolean()) "Phone Number" else "phone"
      case c => headerVariant(c, rnd)
    }

    // row kinds: 0 valid-new, 1 invalid, 2 empty, 3 blank, 4 duplicate, 5 existing
    val kinds = rnd.shuffle(
      Seq.fill(spec.validNew)(0) ++ Seq.fill(spec.invalid)(1) ++ Seq.fill(spec.empty)(2) ++
        Seq.fill(spec.blank)(3) ++ Seq.fill(spec.duplicate)(4) ++ Seq.fill(spec.existing)(5))
    val newEmails = Array.tabulate(spec.validNew) { i =>
      val f = FirstNames(rnd.nextInt(FirstNames.length)).filter(_ < 128).toLowerCase
      s"$f.$name.$i@${Domains(rnd.nextInt(Domains.length))}".replace('_', '-')
    }
    val dupSources = rnd.shuffle(newEmails.toVector).take(spec.duplicate)
    var nNew = 0; var nDup = 0; var nEx = 0
    val marker = spec.encoding match {
      case "windows-1252" => " “Prime” — €" // 0x80-0x9F glyphs: the transcode path
      case "ISO-8859-1" => " \u0081" // a stray C1 byte windows-1252 cannot map
      case _ => " ★"
    }
    val sep = spec.delimiter.toString
    val sb = new StringBuilder(spec.rows * 64)
    sb.append(header.mkString(sep)).append('\n')
    kinds.zipWithIndex.foreach { case (k, i) =>
      val email = k match {
        case 0 => nNew += 1; newEmails(nNew - 1)
        case 1 => s"contact.$i.at-$name" + (if (i % 2 == 0) "@bad@bad" else ".example.com")
        case 2 => ""
        case 3 => "   "
        case 4 => nDup += 1; dupSources(nDup - 1)
        case _ => nEx += 1; pool(nEx - 1)
      }
      val company = Companies(rnd.nextInt(Companies.length)) + (if (i == 0) marker else "")
      val fields = order.map {
        case "email" => email
        case "first_name" => FirstNames(rnd.nextInt(FirstNames.length))
        case "last_name" => LastNames(rnd.nextInt(LastNames.length))
        case "company" => company
        case _ => f"+55 11 9${rnd.nextInt(100000000)}%08d"
      }
      sb.append(fields.mkString(sep)).append('\n')
    }
    Upload(name, spec, header, sb.toString.getBytes(Charset.forName(spec.encoding)))
  }

  /** The share of uploads carrying each property value among `specs`. */
  def shares(specs: Seq[UploadSpec]): Seq[(String, Double)] = if (specs.isEmpty) Nil else {
    val n = specs.length.toDouble
    def share[K](key: String, f: UploadSpec => K, values: Seq[K]) =
      values.map(v => s"$key=$v" -> specs.count(s => f(s) == v) / n)
    val delimName = Map(',' -> "comma", ';' -> "semicolon", '\t' -> "tab")
    val rows = specs.map(_.rows.toDouble).sum
    share("encoding", _.encoding, Encodings) ++
      share("delimiter", s => delimName(s.delimiter), Delimiters.map(delimName)) ++
      share("rows", _.rows, Sizes) ++
      Seq("invalid_row_share" -> specs.map(_.invalid).sum / rows,
        "missing_row_share" -> specs.map(s => s.empty + s.blank).sum / rows,
        "duplicate_row_share" -> specs.map(_.duplicate).sum / rows,
        "existing_row_share" -> specs.map(_.existing).sum / rows)
  }
}
