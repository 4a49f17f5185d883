package perfbench

import graft.pipeline.Bronze

/** Seeded Open Brewery DB snapshot for one ingestion date, served as
  * API pages through [[Bronze.PageSource]].
  *
  * Every record is a pure function of (seed, date, index), so pages
  * can be fetched in any order and the expected pipeline outputs are
  * computed without Spark. Shapes follow the real API: 10 brewery
  * types, 6 countries, 13 (country, state) pairs skewed to the US, so
  * about 140 gold partition keys per date.
  * About a fifth of the records carry the dirty-row mix of
  * FIXTURES.md A.1: duplicate ids, whitespace-only names, the
  * `state` → `state_province` fallback, non-numeric and out-of-range
  * coordinates, and missing keys.
  */
final class BreweryPages(seed: Long, date: String, val records: Int)
    extends Bronze.PageSource {
  import BreweryPages._

  require(records > 0)

  /** Pages at the reference's PER_PAGE. */
  val pages: Int = lastPage(PerPage)

  private def lastPage(perPage: Int): Int = (records + perPage - 1) / perPage

  private val salt = mix(seed ^ mix(date.hashCode.toLong))

  /** Uniform 64-bit hash of (record, field). */
  private def h(i: Int, field: Int): Long =
    mix(salt + i.toLong * 0x9E3779B97F4A7C15L + field)

  private def unit(i: Int, field: Int): Double =
    (h(i, field) >>> 11).toDouble / (1L << 53).toDouble

  private def pick[A](xs: IndexedSeq[A], cdf: Array[Double], u: Double): A = {
    val k = java.util.Arrays.binarySearch(cdf, u)
    xs(math.min(if (k >= 0) k else -k - 1, xs.length - 1))
  }

  def kind(i: Int): Kind = {
    val u = unit(i, 0)
    // a duplicate needs an earlier clean record to copy
    if (i > 0 && u < 0.05) Duplicate
    else pick(KindOrder, KindCdf, unit(i, 1))
  }

  /** Index of the record a [[Duplicate]] copies: the nearest earlier
    * clean record at or before a hashed back-offset. */
  def original(i: Int): Int = {
    var j = i - 1 - (h(i, 2) % math.min(i, 400)).toInt.abs
    while (j > 0 && kind(j) != Clean) j -= 1
    if (kind(j) == Clean) j else -1
  }

  private def country(i: Int): Int = pick(Countries.indices, CountryCdf, unit(i, 3))
  private def state(i: Int, c: Int): String = {
    val ss = States(c)
    pick(ss, StateCdf(c), unit(i, 4))
  }
  private def breweryType(i: Int): String = pick(Types, TypeCdf, unit(i, 5))
  private def lat(i: Int): Double = math.round((unit(i, 6) * 170 - 85) * 1e6) / 1e6
  private def lon(i: Int): Double = math.round((unit(i, 7) * 350 - 175) * 1e6) / 1e6
  private def id(i: Int): String = f"${h(i, 8)}%016x-${i}%06d"

  /** Clean field values of record `i` (before the dirty-row rewrite). */
  private def base(i: Int): Map[String, String] = {
    val c = country(i)
    Map(
      "id" -> id(i),
      "name" -> s"${Words((h(i, 9) % Words.length).toInt.abs)} Brewing ${i % 997}",
      "brewery_type" -> breweryType(i),
      "country" -> Countries(c),
      "state" -> state(i, c),
      "city" -> s"City ${(h(i, 10) % 500).abs}",
      "postal_code" -> f"${(h(i, 11) % 100000).abs}%05d",
      "latitude" -> lat(i).toString,
      "longitude" -> lon(i).toString)
  }

  /** The raw API object of record `i`: field → raw string value; a
    * missing key is absent from the map. */
  def raw(i: Int): Map[String, String] = kind(i) match {
    case Clean => base(i)
    case Duplicate =>
      val j = original(i)
      if (j < 0) base(i)
      else base(j).map { case (k, v) =>
        // padded copy: trims back to the original, same id
        if (k == "id") k -> v else k -> s" $v  "
      }
    case BlankName => base(i) + ("name" -> "   ")
    case MissingCountry => base(i) - "country"
    case ProvinceFallback =>
      val b = base(i)
      b + ("state" -> " ") + ("state_province" -> b("state"))
    case NoState => base(i) - "state" + ("state_province" -> "")
    case TextLatitude => base(i) + ("latitude" -> "n/a")
    case OutOfRange =>
      if (h(i, 12) % 2 == 0) base(i) + ("latitude" -> (lat(i) + 200).toString)
      else base(i) + ("longitude" -> (lon(i) - 400).toString)
    case MissingKeys => base(i) -- Seq("city", "postal_code", "brewery_type")
  }

  /** Whether record `i`'s id survives to silver, and with which gold
    * dimensions (country, state, brewery_type with NULL → ""). */
  def survivor(i: Int): Option[(String, String, String)] = kind(i) match {
    case BlankName | MissingCountry | NoState | OutOfRange => None
    case Duplicate if original(i) >= 0 => None // its original counts
    case _ =>
      val b = base(i)
      val t = if (kind(i) == MissingKeys) "" else b("brewery_type")
      Some((b("country"), b("state"), t))
  }

  /** Expected silver rows and gold counts per (country, state, type). */
  lazy val expected: Expected = {
    val counts = scala.collection.mutable.HashMap.empty[(String, String, String), Long]
    var silver = 0L
    var i = 0
    while (i < records) {
      survivor(i).foreach { k =>
        silver += 1
        counts(k) = counts.getOrElse(k, 0L) + 1
      }
      i += 1
    }
    Expected(silver, counts.toMap)
  }

  private def json(m: Map[String, String]): String =
    FieldOrder.filter(m.contains)
      .map(k => "\"" + k + "\":\"" + m(k) + "\"")
      .mkString("{", ",", "}")

  override def fetch(page: Int, perPage: Int): Bronze.Page = {
    val from = (page - 1) * perPage
    val until = math.min(records, page * perPage)
    val body = (from until until).map(i => json(raw(i))).mkString("[", ",", "]")
    val link = s"""<https://api.openbrewerydb.org/v1/breweries?per_page=$perPage&page=${page + 1}>; rel="next", """ +
      s"""<https://api.openbrewerydb.org/v1/breweries?per_page=$perPage&page=${lastPage(perPage)}>; rel="last""""
    Bronze.Page(body, math.max(0, until - from), Some(link))
  }
}

object BreweryPages {
  /** The reference's PER_PAGE. */
  val PerPage = 200

  final case class Expected(silverRows: Long,
      gold: Map[(String, String, String), Long]) {
    def goldKeys: Int = gold.size
  }

  sealed trait Kind
  case object Clean extends Kind
  case object Duplicate extends Kind
  case object BlankName extends Kind
  case object MissingCountry extends Kind
  case object ProvinceFallback extends Kind
  case object NoState extends Kind
  case object TextLatitude extends Kind
  case object OutOfRange extends Kind
  case object MissingKeys extends Kind

  // non-duplicate kinds and their shares (duplicates take 5 % first)
  private val KindShares: Seq[(Kind, Double)] = Seq(
    Clean -> 0.84, BlankName -> 0.03, MissingCountry -> 0.02,
    ProvinceFallback -> 0.03, NoState -> 0.02, TextLatitude -> 0.02,
    OutOfRange -> 0.02, MissingKeys -> 0.02)
  private val KindOrder = KindShares.map(_._1).toIndexedSeq
  private val KindCdf = cdf(KindShares.map(_._2))

  val FieldOrder: Seq[String] = Seq("id", "name", "brewery_type", "country",
    "state", "state_province", "city", "postal_code", "latitude", "longitude")

  val Types: IndexedSeq[String] = IndexedSeq("micro", "brewpub", "planning",
    "regional", "contract", "closed", "proprietor", "large", "nano", "taproom")
  private val TypeCdf =
    cdf(Seq(0.45, 0.25, 0.06, 0.05, 0.04, 0.04, 0.03, 0.03, 0.03, 0.02))

  private val UsStates: IndexedSeq[String] = IndexedSeq("California",
    "Colorado", "Washington", "Michigan", "Pennsylvania", "New York",
    "Oregon", "Texas")

  /** Country, share of records, number of states/provinces it reports. */
  private val CountryShape: Seq[(String, Double, Int)] = Seq(
    ("United States", 0.75, UsStates.size), ("England", 0.08, 1),
    ("Germany", 0.06, 1), ("Canada", 0.05, 1), ("Ireland", 0.03, 1),
    ("Belgium", 0.03, 1))
  val Countries: IndexedSeq[String] = CountryShape.map(_._1).toIndexedSeq
  private val CountryCdf = cdf(CountryShape.map(_._2))
  val States: IndexedSeq[IndexedSeq[String]] = CountryShape.map {
    case ("United States", _, _) => UsStates
    case (c, _, n) => (1 to n).map(k => s"$c Region $k")
  }.toIndexedSeq
  /** Zipf-like state skew inside each country. */
  private val StateCdf: IndexedSeq[Array[Double]] =
    States.map(ss => cdf(ss.indices.map(r => 1.0 / math.pow(r + 1, 0.8))))

  def stateKeys: Int = States.map(_.size).sum

  private val Words = IndexedSeq("Hop", "Barrel", "Anchor", "Copper", "Granite",
    "River", "Summit", "Lantern", "Harbor", "Prairie", "Cedar", "Iron")

  private def cdf(w: Seq[Double]): Array[Double] = {
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
