package graft.star

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase
import graft.etl.{Extract, Transform}

/** Surrogate-key parity: `StarBuilder` keys its dimensions on the driver;
  * the reference formulation kept here numbers them with `row_number()`
  * over a global `Window.orderBy`, Spark's own ascending order (NULLs
  * first, strings by UTF-8 bytes). Over seeded random campaigns with NULL
  * states, categories and launch times, mixed case, non-ASCII and
  * supplementary-plane names, and sub-categories shared across main
  * categories, both must give identical rows in all four tables.
  */
class StarKeyParitySpec extends SparkTestBase {

  private def refDimDate(c: DataFrame): DataFrame =
    c.select(to_date(col("launched_at")).as("d")).distinct()
      .select(
        date_format(col("d"), "yyyyMMdd").cast("int").as("date_key"),
        date_format(col("d"), "yyyy-MM-dd").as("full_date"),
        year(col("d")).as("year"),
        quarter(col("d")).as("quarter"),
        month(col("d")).as("month"),
        dayofmonth(col("d")).as("day"),
        date_format(col("d"), "EEEE").as("day_of_week"),
        when(dayofweek(col("d")).isin(1, 7), 1).otherwise(0).as("is_weekend"))

  private def refDimState(c: DataFrame): DataFrame =
    c.select(col("state").as("state_name"), col("success_flag").as("is_successful"))
      .distinct()
      .withColumn("state_key", row_number().over(Window.orderBy("state_name")))
      .select("state_key", "state_name", "is_successful")

  private def refDimCategory(c: DataFrame): DataFrame =
    c.select(col("main_category").as("main_category_name"), col("category").as("sub_category_name"))
      .distinct()
      .withColumn("category_key",
        row_number().over(Window.orderBy("main_category_name", "sub_category_name")))
      .select("category_key", "main_category_name", "sub_category_name")

  // U+FF33 sorts after U+1F3B8 in Java's UTF-16 order but before it in
  // UTF-8 byte order, so the pools tell the two orders apart
  private val states = Seq(null, "failed", "Failed", "successful", "canceled", "live",
    "état", "Ｓuspended", "😀 happy", "undefined")
  private val mains = Seq(null, "Art", "art", "Música", "日本", "Ｇames", "🎸 Music")
  private val subs = Seq(null, "Rock", "rock", "Live Art", "Ça va", "Ｓynth", "🎸",
    "Rock ")

  private def campaigns(seed: Long, n: Int): DataFrame = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val rows = (0 until n).map { i =>
      val day = java.time.LocalDate.of(2014, 1, 1).plusDays(rnd.nextInt(60).toLong)
      val launched = rnd.nextInt(10) match {
        case 0 => null
        case 1 => day.toString
        case _ => f"$day ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"
      }
      Row(i.toLong, if (i % 50 == 7) null else s"Project $i", pick(subs), pick(mains), "USD",
        day.plusDays(30).toString, 1000.0, launched, 10.0, pick(states), 3L, "US",
        10.0, 10.0, 1000.0)
    }
    Transform.campaigns(spark.createDataFrame(rows.asJava, Extract.kickstarterSchema))
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("the string pools order differently under UTF-16 and UTF-8") {
    val pool = (states ++ mains ++ subs).filter(_ != null)
    assert(pool.exists(a => pool.exists(b =>
      a.compareTo(b) < 0 && UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) > 0)))
  }

  Seq(7L, 42L, 1234L).foreach { seed =>
    test(s"driver-side keys match row_number over Window.orderBy (seed $seed)") {
      val c = campaigns(seed, 600).cache()
      try {
        val star = StarBuilder.build(c)
        val (rd, rs, rc) = (refDimDate(c), refDimState(c), refDimCategory(c))
        val (ds, dc) = (star("Dim_State"), star("Dim_Category"))
        // the inputs reach every case the keys must order
        assert(ds.filter(col("state_name").isNull).count() == 1)
        assert(dc.filter(col("main_category_name").isNull).count() > 0)
        assert(dc.filter(col("sub_category_name").isNull).count() > 0)
        assert(star("Dim_Date").filter(col("date_key").isNull).count() == 1)
        assert(dc.groupBy("sub_category_name").count().filter(col("count") > 1).count() > 0)

        assert(ds.orderBy("state_key").collect().toSeq == rs.orderBy("state_key").collect().toSeq)
        assert(dc.orderBy("category_key").collect().toSeq ==
          rc.orderBy("category_key").collect().toSeq)
        assert(sorted(star("Dim_Date")) == sorted(rd))
        assert(ds.schema == rs.schema && dc.schema == rc.schema &&
          star("Dim_Date").schema == rd.schema)
        val fact = star("Fact_Campaigns").orderBy("campaign_id").collect().toSeq
        assert(fact.size == c.count())
        assert(fact == StarBuilder.factCampaigns(c, rs, rc, rd).orderBy("campaign_id").collect().toSeq)
        // the public single-dimension builders go through the same keying
        assert(StarBuilder.dimState(c).collect().toSeq == ds.collect().toSeq)
        assert(StarBuilder.dimCategory(c).collect().toSeq == dc.collect().toSeq)
        assert(sorted(StarBuilder.dimDate(c)) == sorted(rd))
      } finally c.unpersist()
    }
  }
}
