package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded generator of CDC-shaped landing CSV (the reference's Chronic
  * Disease Indicators feed) plus the ground truth the benchmark checks the
  * pipeline's outputs against.
  *
  * Every base row has a distinct (location, question, year, stratification)
  * key, so distinct-row and latest-per-key counts are known by
  * construction. The input carries what the cleaning layer exists for:
  * mixed-case, spaced and dashed headers, padded strings, exact duplicate
  * lines, empty numerics, a `date`-named column with unparseable values,
  * and out-of-range `DataValue`s.
  */
object CdcGen {

  val Header: Seq[String] = Seq("YearStart", "YearEnd", "LocationAbbr",
    "LocationDesc", "DataSource", "Topic", "Question", "Response",
    "Data Value Unit", "DataValueType", "DataValue", "DataValueAlt",
    "Low-Confidence-Limit", "High Confidence Limit",
    "StratificationCategory1", "Stratification1", "Geolocation",
    "LocationID", "TopicID", "QuestionID", "Report Date")

  /** Key columns after name normalization (readLatest / compact keys). */
  val Keys: Seq[String] =
    Seq("locationid", "questionid", "yearstart", "stratification1")

  private val Years = 2010 to 2022
  private val NLoc = 55
  private val NQuestion = 40
  private val NStrat = 24
  private val Combos = NLoc * NQuestion * Years.size * NStrat
  private val Topics = Seq("Asthma", "Diabetes", "Arthritis", "Alcohol",
    "Cancer", "Tobacco", "Oral Health", "Immunization")
  private val Strats = Seq("Overall", "Male", "Female", "White", "Black",
    "Hispanic", "Asian", "Other")

  /** Truth for one batch: `lines` data rows, of which `distinct` survive
    * exact dedup; `outOfRange` distinct rows carry a DataValue outside
    * [0, 100]; `nullDates` distinct rows have an unparseable or empty
    * report date.
    */
  final case class Truth(lines: Long, distinct: Long, outOfRange: Long,
      nullDates: Long, years: Int, locations: Int)

  final case class Batch(bytes: Array[Byte], truth: Truth)

  /** A stride coprime to [[Combos]], so `off + i * stride mod Combos`
    * enumerates distinct keys for every i below Combos.
    */
  private def stride(rng: SplittableRandom): Long = {
    var s = 100003L + rng.nextInt(1000000)
    while (gcd(s, Combos.toLong) != 1L) s += 1
    s
  }

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** A seeded key stream: `key(i)` is distinct for every i below Combos. */
  final class KeySpace(seed: Long) {
    private val rng = new SplittableRandom(seed ^ 0x5eedL)
    private val s = stride(rng)
    private val off = rng.nextLong(Combos.toLong)
    def key(i: Long): Long = Math.floorMod(off + i * s, Combos.toLong)
  }

  /** `rows` base rows (keys `first until first + rows` of `space`),
    * `dupShare` exact duplicate lines on top, and one row per key in
    * `corrections`, re-emitting an earlier key with new values.
    */
  def batch(seed: Long, space: KeySpace, first: Long, rows: Int,
      dupShare: Double, corrections: Array[Long] = Array.empty): Batch = {
    require(first + rows <= Combos, s"at most $Combos distinct rows")
    val rng = new SplittableRandom(seed)
    val sb = new java.lang.StringBuilder((rows + corrections.length) * 230)
    sb.append(Header.mkString(",")).append('\n')
    val emitted = new Array[String](rows + corrections.length)
    var n = 0
    var lines = 0L
    var outOfRange = 0L
    var nullDates = 0L
    val years = new java.util.BitSet()
    val locs = new java.util.BitSet()
    def emit(key: Long): Unit = {
      val (line, oor, nullDate) = row(rng, key)
      emitted(n) = line
      n += 1
      if (oor) outOfRange += 1
      if (nullDate) nullDates += 1
      years.set(yearOf(key))
      locs.set(locOf(key))
      sb.append(line).append('\n')
      lines += 1
      if (rng.nextDouble() < dupShare) {
        sb.append(emitted(rng.nextInt(n))).append('\n')
        lines += 1
      }
    }
    var i = 0
    while (i < rows) { emit(space.key(first + i)); i += 1 }
    corrections.foreach(emit)
    Batch(sb.toString.getBytes(UTF_8),
      Truth(lines, n.toLong, outOfRange, nullDates, years.cardinality,
        locs.cardinality))
  }

  private def locOf(key: Long): Int = (key % NLoc).toInt
  private def questionOf(key: Long): Int = ((key / NLoc) % NQuestion).toInt
  private def yearOf(key: Long): Int =
    Years.start + ((key / NLoc / NQuestion) % Years.size).toInt
  private def stratOf(key: Long): Int =
    (key / NLoc / NQuestion / Years.size).toInt

  private def pad(rng: SplittableRandom, s: String): String =
    if (rng.nextInt(5) == 0) "  " + s + " " else s

  /** Tenths as a one-decimal literal, locale-free: 123 → "12.3". */
  private def tenths(t: Int): String =
    (if (t < 0) "-" else "") + (math.abs(t) / 10) + "." + (math.abs(t) % 10)

  private def two(i: Int): String = if (i < 10) "0" + i else i.toString

  /** Tenths, empty one time in ten (the feed's missing numerics). */
  private def num(rng: SplittableRandom, t: Int): String =
    if (rng.nextInt(10) == 0) "" else tenths(t)

  /** One CSV line for `key`: (line, out-of-range DataValue, null date). */
  private def row(rng: SplittableRandom, key: Long)
      : (String, Boolean, Boolean) = {
    val loc = locOf(key)
    val q = questionOf(key)
    val year = yearOf(key)
    val strat = stratOf(key)
    val topic = Topics(q % Topics.size)
    val oor = rng.nextInt(200) == 0
    val value =
      if (oor) (if (rng.nextBoolean()) 1005 + rng.nextInt(500)
                else -5 - rng.nextInt(50))
      else rng.nextInt(1000)
    // An out-of-range row always carries its value: an empty DataValue is
    // filled with 0 by cleaning and would leave the range audit.
    val dv = if (oor) tenths(value) else num(rng, value)
    val dateKind = rng.nextInt(50)
    val date =
      if (dateKind == 0) "n/a"
      else if (dateKind == 1) ""
      else s"${year + 1}-${two(1 + rng.nextInt(12))}-${two(1 + rng.nextInt(28))}"
    val line = Array(
      year.toString,
      (year + rng.nextInt(2)).toString,
      "L" + two(loc),
      pad(rng, s"Location $loc"),
      if (rng.nextBoolean()) "BRFSS" else "NVSS",
      pad(rng, topic),
      s"Indicator $q of $topic",
      if (rng.nextInt(3) == 0) "" else pad(rng, "Yes"),
      "%",
      if (rng.nextBoolean()) "Crude Prevalence" else "Age-adjusted Prevalence",
      dv,
      num(rng, value),
      num(rng, math.max(0, value - 15)),
      num(rng, value + 15),
      if (strat == 0) "Overall" else "Group",
      Strats(strat % Strats.size) + " " + two(strat),
      s"POINT (-${120 - loc}.5795 ${30 + loc / 5}.8283)",
      loc.toString,
      topic.take(3).toUpperCase,
      "Q" + two(q),
      date).mkString(",")
    (line, oor, dateKind < 2)
  }
}
