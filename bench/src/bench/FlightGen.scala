package bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.FlightSchema

/** Seeded flight-CSV generator in the reference's 29-column order.
  *
  * Row `r` of `rows` base rows lands in slot `(r + offset) mod 1000`, and
  * the slot decides what is planted in it; every other cell is drawn from
  * `xxhash64(seed, r, k)`. Because planting is by residue, each planted
  * count is closed-form arithmetic ([[FlightGen.Expected]]) and never
  * comes from running the program.
  *
  * Planted: one violation slot per validity rule (a year violation also
  * carries day 0, so its date stays invalid and cannot stretch the
  * calendar); exact-duplicate groups of two and three rows; compound-key
  * twins (same flight, different ArrDelay); cancelled flights with null
  * times; null cells; DepTime quirks (2400, 1-2 digit, 3 digit); an
  * alphanumeric TailNum, which the integer schema nulls; and one missing
  * calendar day strictly inside Jan 1 - Apr 30 2008. FlightNum is r + 1
  * (negated in its violation slot), so no two base rows collide on any
  * key by chance.
  */
final class FlightGen(seed: Long, val rows: Long) {
  require(rows >= 10000, "the planted census needs at least 10000 rows")
  import FlightGen._

  val offset: Long = Math.floorMod(Mix.long(seed, 1), 1000L)
  /** Day index (from 2008-01-01) that gets no flights, in [1, 119]. */
  val missingDay: Int = 1 + Math.floorMod(Mix.long(seed, 2), 119L).toInt

  /** Base rows in slot `s`: r ≡ s − offset (mod 1000), r < rows. */
  def inSlot(s: Int): Long = Mix.residueCount(rows, 1000L, Math.floorMod(s - offset, 1000L))
  private def inSlots(ss: Range): Long = ss.map(inSlot).sum

  val expected: Expected = {
    val v = RuleSlots.map { case (rule, s) => rule -> inSlot(s) }.toMap
    val twins = inSlot(Twin)
    Expected(
      totalRows = rows + inSlot(Dup2) + 2 * inSlot(Dup3) + twins,
      exactDupGroups = inSlot(Dup2) + inSlot(Dup3),
      rowsAfterDedup = rows + twins,
      compoundDupGroups = twins,
      validity = v.updated("dayofmonth_range", v("dayofmonth_range") + v("year_past")),
      gapDay = java.time.LocalDate.of(2008, 1, 1).plusDays(missingDay),
      cancelled = inSlots(Cancelled),
      maxFlightNum = Iterator.iterate(rows - 1)(_ - 1)
        .find(r => Math.floorMod(r + offset, 1000L) != slotOf("flightnum_pos")).get + 1)
  }

  /** The CSV rows: base rows plus the planted duplicate copies and twins
    * (`copy` 1-2 repeat a row exactly, copy 3 is the compound twin). */
  def frame(spark: SparkSession, parts: Int): DataFrame = {
    def copies(c: Int, slots: Int*) =
      spark.range(0, rows, 1, 1).toDF("r")
        .where(slot.isin(slots: _*)).withColumn("copy", lit(c))
    val all = spark.range(0, rows, 1, parts).toDF("r").withColumn("copy", lit(0))
      .unionByName(copies(1, Dup2, Dup3))
      .unionByName(copies(2, Dup3))
      .unionByName(copies(3, Twin))
    all.select(FlightSchema.schema.fieldNames.toIndexedSeq.map(c => columns(c).as(c)): _*)
  }

  def write(spark: SparkSession, dir: String, parts: Int): Unit =
    frame(spark, parts).write.mode("overwrite").option("header", "true").csv(dir)

  private val r = col("r")
  private val slot = pmod(r + lit(offset), lit(1000L))
  private def h(k: Int, m: Long): Column = pmod(xxhash64(lit(seed), r, lit(k)), lit(m))
  private def at(s: Int) = slot === s
  private val cancelled = slot.between(Cancelled.start, Cancelled.last)
  private val nulled = slot.between(NullCells.start, NullCells.last)

  private val date = {
    val d0 = pmod(r, lit(120L)).cast("int")
    date_add(lit(java.sql.Date.valueOf("2008-01-01")),
      when(d0 >= missingDay, d0 + 1).otherwise(d0))
  }
  private def hhmm(hk: Int, lo: Int, hours: Int) = (h(hk, hours) + lo) * 100 + h(hk + 1, 60)
  private val arrDelay = (h(20, 120) - 30) + when(col("copy") === 3, 1).otherwise(0)
  private def delayCause(k: Int) = when(!cancelled && !nulled && arrDelay >= 15, h(k, 60))
  private def unlessCancelled(c: Column) = when(!cancelled, c)
  private def pick(names: Seq[String], k: Int) =
    element_at(array(names.map(lit): _*), h(k, names.size.toLong).cast("int") + 1)

  private val columns: Map[String, Column] = Map(
    "Year" -> when(at(slotOf("year_past")), AsOfYear + 1).otherwise(2008),
    "Month" -> when(at(slotOf("month_range")), 13).otherwise(month(date)),
    "DayofMonth" -> when(at(slotOf("year_past")), 0)
      .when(at(slotOf("dayofmonth_range")), 32).otherwise(dayofmonth(date)),
    "DayOfWeek" -> when(at(slotOf("dayofweek_range")), 9)
      .otherwise(pmod(dayofweek(date) + 5, lit(7)) + 1),
    "DepTime" -> when(cancelled, lit(null))
      .when(at(slotOf("deptime_range")), h(1, 59) + 2401)
      .when(at(Quirk24), 2400)
      .when(at(QuirkShort), h(1, 59) + 1)
      .when(at(Quirk3), hhmm(2, 1, 9))
      .otherwise(hhmm(2, 5, 19)),
    "CRSDepTime" -> when(at(slotOf("crsdeptime_range")), 0).otherwise(hhmm(4, 5, 19)),
    "ArrTime" -> when(cancelled, lit(null))
      .when(at(slotOf("arrtime_range")), h(6, 40) + 2460).otherwise(hhmm(6, 6, 18)),
    "CRSArrTime" -> when(at(slotOf("crsarrtime_range")), h(8, 99) + 2500)
      .otherwise(hhmm(8, 6, 18)),
    "UniqueCarrier" -> pick(Carriers, 10),
    "FlightNum" -> when(at(slotOf("flightnum_pos")), -(r + 1)).otherwise(r + 1),
    "TailNum" -> concat(lit("N"), lpad(h(11, 1000).cast("string"), 3, "0"), pick(Letters, 12), pick(Letters, 13)),
    "ActualElapsedTime" -> when(!cancelled && !nulled, h(14, 300) + 30),
    "CRSElapsedTime" -> (h(15, 300) + 30),
    "AirTime" -> when(!cancelled && !nulled, h(16, 280) + 20),
    "ArrDelay" -> when(!cancelled && !nulled, arrDelay),
    "DepDelay" -> unlessCancelled(h(21, 100) - 20),
    "Origin" -> pick(Airports, 22),
    "Dest" -> pick(Airports, 23),
    "Distance" -> when(at(slotOf("distance_pos")), 0).otherwise(h(24, 2500) + 50),
    "TaxiIn" -> when(!cancelled && !nulled, h(25, 30) + 1),
    "TaxiOut" -> unlessCancelled(h(26, 40) + 5),
    "Cancelled" -> when(cancelled, 1).otherwise(0),
    "CancellationCode" -> when(cancelled, pick(Seq("A", "B", "C", "D"), 27)),
    "Diverted" -> when(!cancelled && h(28, 500) === 0, 1).otherwise(0),
    "CarrierDelay" -> delayCause(30),
    "WeatherDelay" -> delayCause(31),
    "NASDelay" -> delayCause(32),
    "SecurityDelay" -> delayCause(33),
    "LateAircraftDelay" -> delayCause(34))
}

object FlightGen {
  /** `year(current_date())` pinned: the reference ran in 2025. */
  val AsOfYear = 2025

  /** Slot of each validity rule's planted violations, in the order of
    * FlightPipeline.referenceRulesWithColumns. */
  val RuleSlots: Seq[(String, Int)] = Seq("year_past", "month_range",
    "dayofmonth_range", "dayofweek_range", "deptime_range",
    "crsdeptime_range", "arrtime_range", "crsarrtime_range",
    "flightnum_pos", "distance_pos").zipWithIndex
  def slotOf(rule: String): Int = RuleSlots.find(_._1 == rule).get._2
  val Dup2 = 10
  val Dup3 = 11
  val Twin = 12
  val Cancelled: Range = 13 to 17
  val NullCells: Range = 18 to 27
  val Quirk24 = 28
  val QuirkShort = 29
  val Quirk3 = 30

  val Carriers: Seq[String] = Seq("AA", "AS", "B6", "CO", "DL", "EV", "F9",
    "FL", "HA", "MQ", "NW", "OH", "OO", "UA", "US", "WN", "XE", "YV", "9E", "AQ")
  val Airports: Seq[String] = Seq("ATL", "ORD", "DFW", "DEN", "LAX", "PHX",
    "IAH", "LAS", "DTW", "SLC", "MSP", "SFO", "EWR", "JFK", "CLT", "BOS",
    "SEA", "MCO", "LGA", "PHL", "BWI", "IAD", "SAN", "TPA", "MDW", "DCA",
    "MIA", "FLL", "PDX", "STL")
  private val Letters: Seq[String] = ('A' to 'Z').map(_.toString)

  /** The Report fields and cell censuses the generator planted. */
  final case class Expected(totalRows: Long, exactDupGroups: Long,
                            rowsAfterDedup: Long, compoundDupGroups: Long,
                            validity: Map[String, Long], gapDay: java.time.LocalDate,
                            cancelled: Long, maxFlightNum: Long)
}

/** Seed mixing for the generators' scalar draws (SplitMix64 finalizer). */
object Mix {
  def long(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** How many i in [0, n) have i ≡ first (mod m), for 0 ≤ first < m. */
  def residueCount(n: Long, m: Long, first: Long): Long =
    if (first >= n) 0L else (n - 1 - first) / m + 1
}
