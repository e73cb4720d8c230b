package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.util.Random

/** Seeded, golden-shaped Kickstarter CSV for the `etl_star` workload.
  *
  * The reference's golden run loads 378,661 raw rows and reports four null
  * names, 3,169 launch dates, 6 states, 170 (main, sub) category pairs and
  * 378,657 fact rows. Every one of those shapes is planted exactly, for any
  * seed; the seed only decides which rows carry which value:
  *
  *   - exactly 4 null names (Transform's drop path);
  *   - names with commas and escaped quotes (Extract's quote/escape path);
  *   - `launched` as a datetime and as a bare date (Transform F1);
  *   - the golden state counts, assigned over a seeded permutation;
  *   - every one of the 3,169 dates and 170 pairs on at least one non-null row;
  *   - a skewed multi-country mix.
  *
  * The delta holds [[DeltaOverlap]] existing ids (new values, so the
  * append's anti-join drops them) and [[DeltaNew]] new ids. The new rows
  * add [[DeltaNewDates]] launch dates past the base range and
  * [[DeltaNewPairs]] category pairs, so the expected union is known
  * without reading the data.
  */
object KickstarterGen {
  val Rows = 378661
  val NullNames = 4
  val Dates = 3169
  val Pairs = 170
  val DeltaOverlap = 10000
  val DeltaNew = 10000
  val DeltaNewDates = 31
  val DeltaNewPairs = 5

  /** The golden state distribution (its counts sum to [[Rows]]). */
  val StateCounts: Seq[(String, Int)] = Seq(
    "failed" -> 197719, "successful" -> 133956, "canceled" -> 38779,
    "undefined" -> 3562, "live" -> 2799, "suspended" -> 1846)

  /** Table counts a correct full load produces. */
  val FullCounts: Map[String, Long] = Map(
    "Dim_Date" -> Dates.toLong, "Dim_State" -> StateCounts.size.toLong,
    "Dim_Category" -> Pairs.toLong, "Fact_Campaigns" -> (Rows - NullNames).toLong)

  /** Table counts after the delta is appended to a full load. */
  val AfterDeltaCounts: Map[String, Long] = Map(
    "Dim_Date" -> (Dates + DeltaNewDates).toLong,
    "Dim_State" -> StateCounts.size.toLong,
    "Dim_Category" -> (Pairs + DeltaNewPairs).toLong,
    "Fact_Campaigns" -> (Rows - NullNames + DeltaNew).toLong)

  private val Header = Seq("ID", "name", "category", "main_category", "currency",
    "deadline", "goal", "launched", "pledged", "state", "backers", "country",
    "usd pledged", "usd_pledged_real", "usd_goal_real").mkString(",")

  private val Mains = Seq("Art", "Comics", "Crafts", "Dance", "Design", "Fashion",
    "Film & Video", "Food", "Games", "Journalism", "Music", "Photography",
    "Publishing", "Technology", "Theater")

  /** Pair p as (main, sub). Sub names repeat across mains (as "Web" does
    * in the real data), but every (main, sub) pair is distinct.
    */
  private def pair(p: Int): (String, String) = (Mains(p % Mains.size), s"Sub ${p % 159}")

  private val Countries = Seq("US" -> 78, "GB" -> 9, "CA" -> 4, "AU" -> 2, "DE" -> 2,
    "FR" -> 1, "NL" -> 1, "IT" -> 1, "SE" -> 1, "ES" -> 1)
  private val CountryTable: IndexedSeq[String] =
    Countries.flatMap { case (c, w) => Seq.fill(w)(c) }.toIndexedSeq
  private val Currency = Map("US" -> "USD", "GB" -> "GBP", "CA" -> "CAD", "AU" -> "AUD")

  private val FirstDay = LocalDate.parse("2009-05-01")

  private def quote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  private def name(rnd: Random, id: Long): String = rnd.nextInt(20) match {
    case 0 => quote(s"Project $id, volume ${rnd.nextInt(9) + 1}")
    case 1 => quote(s"""The "${id % 977}" collection""")
    case 2 => quote(s"""Campaign $id: "one, two" edition""")
    case _ => s"Project $id"
  }

  private def row(rnd: Random, id: Long, nullName: Boolean, state: String,
      day: Int, pairIdx: Int): String = {
    val launched = FirstDay.plusDays(day.toLong)
    val deadline = launched.plusDays((rnd.nextInt(60) + 1).toLong)
    def two(i: Int): String = if (i < 10) "0" + i else i.toString
    val launchedText =
      if (rnd.nextInt(10) == 0) launched.toString // the bare-date shape
      else s"$launched ${two(rnd.nextInt(24))}:${two(rnd.nextInt(60))}:${two(rnd.nextInt(60))}"
    val (main, sub) = pair(pairIdx)
    val country = CountryTable(rnd.nextInt(CountryTable.size))
    val goal = (rnd.nextInt(2000000) + 100) / 100.0
    val pledged = rnd.nextInt(1500000) / 100.0
    val usdPledged = if (rnd.nextInt(100) == 0) "" else pledged.toString
    Seq(id.toString, if (nullName) "" else name(rnd, id), sub, quote(main),
      Currency.getOrElse(country, "EUR"), deadline.toString, goal.toString,
      launchedText, pledged.toString, state, rnd.nextInt(5000).toString, country,
      usdPledged, (pledged * 1.01).toString, (goal * 1.01).toString).mkString(",")
  }

  private def write(file: File)(body: (String => Unit) => Unit): Unit = {
    file.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 20)
    try {
      out.write(Header); out.newLine()
      body { line => out.write(line); out.newLine() }
    } finally out.close()
  }

  /** Write the base CSV to `baseDir` and the delta CSV to `deltaDir`. */
  def generate(seed: Long, baseDir: File, deltaDir: File): Unit = {
    val rnd = new Random(seed)
    // slot -> id: states, dates and pairs are dealt over a seeded permutation
    val perm = rnd.shuffle((0 until Rows).toVector).toArray
    val stateOf = new Array[String](Rows)
    var slot = 0
    StateCounts.foreach { case (s, n) =>
      (0 until n).foreach { _ => stateOf(perm(slot)) = s; slot += 1 }
    }
    // the last slots get no date/pair duty, so null names sit there
    val nullIds = perm.takeRight(NullNames).toSet
    val dayOf = new Array[Int](Rows)
    val pairOf = new Array[Int](Rows)
    perm.zipWithIndex.foreach { case (id, i) =>
      dayOf(id) = if (i < Dates) i else rnd.nextInt(Dates)
      pairOf(id) = if (i < Pairs) i else rnd.nextInt(Pairs)
    }
    write(new File(baseDir, "campaigns.csv")) { emit =>
      (0 until Rows).foreach { id =>
        emit(row(rnd, id.toLong, nullIds(id), stateOf(id), dayOf(id), pairOf(id)))
      }
    }
    val overlap = rnd.shuffle((0 until Rows).filterNot(nullIds).toVector).take(DeltaOverlap)
    write(new File(deltaDir, "campaigns.csv")) { emit =>
      overlap.foreach { id =>
        emit(row(rnd, id.toLong, nullName = false, stateOf(id), dayOf(id), pairOf(id)))
      }
      (0 until DeltaNew).foreach { j =>
        // even rows cover every new date, every third row every new pair
        val day = if (j % 2 == 0) Dates + j % DeltaNewDates else rnd.nextInt(Dates)
        val p = if (j % 3 == 0) Pairs + j / 3 % DeltaNewPairs else rnd.nextInt(Pairs)
        val state = StateCounts(rnd.nextInt(StateCounts.size))._1
        emit(row(rnd, (Rows + j).toLong, nullName = false, state, day, p))
      }
    }
  }
}
