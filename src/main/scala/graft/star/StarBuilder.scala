package graft.star

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Star-schema builder — reference parity for `load_data` + `load_dim_date`
  * (/root/reference/src/etl_pipeline.py:163-282) and the DDL at
  * /root/reference/sql/create_tables.sql.
  *
  * Key re-design vs the reference (SURVEY §2.1 S4-S6, §2.7 O1/O7/O8):
  *   - the three dimensions' distinct sets come from ONE grouping-sets
  *     aggregate over the campaigns frame, collected to the driver: they
  *     are dimension-sized (3,169 / 6 / 170 rows in the golden run —
  *     logs/etl_pipeline.log:51-55), never fact-sized, and the fact's
  *     broadcast joins pull exactly these rows into the driver anyway;
  *   - surrogate keys are assigned on the driver in the same order the
  *     reference's AUTOINCREMENT-in-sorted-insert-order produces — no
  *     per-row INSERT+SELECT read-back loops, and no single-partition
  *     window over the scan;
  *   - the dimensions come back as local frames, so fact FK resolution is
  *     three BROADCAST left joins (the reference's dict lookups are exactly
  *     broadcast hash maps) that re-read nothing: a full load parses the
  *     CSV twice, once for the dimensions and once for the fact.
  */
object StarBuilder {

  /** One dimension table: the campaign values it is the distinct set of
    * (each named as its table column) and, when it has one, the surrogate
    * key numbered in ascending order of those values. `finish` derives
    * the rest of the table from the keyed distinct rows.
    */
  private final case class Dim(
      values: Seq[(Column, String)],
      key: Option[String],
      finish: DataFrame => DataFrame = identity) {
    def columns: Seq[String] = values.map(_._2)
  }

  /** Dim_Date (create_tables.sql:15-24; build at etl_pipeline.py:163-209).
    * date_key is semantic (yyyyMMdd int), so it needs no surrogate.
    */
  private val DateDim = Dim(Seq(to_date(col("launched_at")) -> "d"), None, _.select(
    date_format(col("d"), "yyyyMMdd").cast("int").as("date_key"),
    date_format(col("d"), "yyyy-MM-dd").as("full_date"),
    year(col("d")).as("year"),
    quarter(col("d")).as("quarter"),
    month(col("d")).as("month"),
    dayofmonth(col("d")).as("day"),
    date_format(col("d"), "EEEE").as("day_of_week"),
    // pandas weekday()>=5 == Sat/Sun; Spark dayofweek: 1=Sun, 7=Sat
    when(dayofweek(col("d")).isin(1, 7), 1).otherwise(0).as("is_weekend")))

  /** Dim_State (create_tables.sql:1-5; build at etl_pipeline.py:221-237):
    * distinct (state, success_flag) sorted by state, keys in sorted order.
    */
  private val StateDim = Dim(
    Seq(col("state") -> "state_name", col("success_flag") -> "is_successful"),
    Some("state_key"))

  /** Dim_Category (create_tables.sql:7-13; build at etl_pipeline.py:239-254):
    * distinct (main, sub) pairs sorted by both, keys in sorted order.
    */
  private val CategoryDim = Dim(
    Seq(col("main_category") -> "main_category_name", col("category") -> "sub_category_name"),
    Some("category_key"))

  /** Spark's ascending order on one value: NULLs first, strings by their
    * UTF-8 bytes (`UTF8String` order; Java's UTF-16 `String` order differs
    * from it between supplementary-plane characters and U+E000-U+FFFF).
    */
  private def ascending(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  private val rowOrder: Ordering[Row] = (x, y) =>
    (0 until x.length).iterator.map(i => ascending(x.get(i), y.get(i)))
      .find(_ != 0).getOrElse(0)

  /** The tables of `dims`, from one grouping-sets aggregate over
    * `campaigns` (one scan), collected to the driver. Each
    * dimension's rows are keyed there and returned as a local frame, so
    * later plans over them scan nothing.
    */
  private def dimensions(campaigns: DataFrame, dims: Seq[Dim]): Seq[DataFrame] = {
    val names = dims.flatMap(_.columns)
    val input = campaigns.select(dims.flatMap(_.values.map { case (c, n) => c.as(n) }): _*)
    val rows = input
      .groupingSets(dims.map(_.columns.map(col)), names.map(col): _*)
      .agg(grouping_id().as("gid"))
      .collect()
    val spark = campaigns.sparkSession
    dims.map { d =>
      // grouping_id() reads the grouping columns as bits, first column
      // most significant, set where a column is not in the row's set: a
      // value's own NULL is told apart from the NULL filling other sets
      val id = names.foldLeft(0L)((acc, n) => 2 * acc + (if (d.columns.contains(n)) 0 else 1))
      val distinct = rows.iterator.filter(_.getAs[Long]("gid") == id)
        .map(r => Row.fromSeq(d.columns.map(r.getAs[Any]))).toSeq
      val fields = d.columns.map(input.schema(_))
      val keyed = d.key match {
        case None => spark.createDataFrame(distinct.asJava, StructType(fields))
        case Some(k) =>
          val numbered = distinct.sorted(rowOrder).zipWithIndex
            .map { case (r, i) => Row.fromSeq((i + 1) +: r.toSeq) }
          spark.createDataFrame(numbered.asJava,
            StructType(StructField(k, IntegerType, nullable = false) +: fields))
      }
      // one partition, as the rows already sit on the driver: each
      // dimension is written as one file and broadcast by one task
      d.finish(keyed).coalesce(1)
    }
  }

  /** Dim_Date alone: one scan of `campaigns`, returned as a local frame. */
  def dimDate(campaigns: DataFrame): DataFrame = dimensions(campaigns, Seq(DateDim)).head

  /** Dim_State alone: one scan of `campaigns`, returned as a local frame. */
  def dimState(campaigns: DataFrame): DataFrame = dimensions(campaigns, Seq(StateDim)).head

  /** Dim_Category alone: one scan of `campaigns`, returned as a local frame. */
  def dimCategory(campaigns: DataFrame): DataFrame =
    dimensions(campaigns, Seq(CategoryDim)).head

  /** Fact_Campaigns (create_tables.sql:26-43; build at
    * etl_pipeline.py:256-278): three left-outer key lookups (J1-J3) then
    * the 9-column fact projection (P4). Dims are tiny -> broadcast; the
    * fact side streams through without a shuffle.
    */
  def factCampaigns(
      campaigns: DataFrame,
      dimState: DataFrame,
      dimCategory: DataFrame,
      dimDate: DataFrame): DataFrame =
    campaigns
      .join(broadcast(dimState.select("state_key", "state_name")),
        campaigns("state") === col("state_name"), "left")
      .join(broadcast(dimCategory),
        campaigns("main_category") === col("main_category_name") &&
          campaigns("category") === col("sub_category_name"), "left")
      .join(broadcast(dimDate.select(col("date_key"), col("full_date"))),
        date_format(col("launched_at"), "yyyy-MM-dd") === col("full_date"), "left")
      .select(
        col("ID").as("campaign_id"),
        col("name"),
        col("backers"),
        col("pledged_usd"),
        col("goal_usd"),
        col("duration_days"),
        col("state_key"),
        col("category_key"),
        col("date_key").as("launched_date_key"))

  /** All four warehouse tables from a transformed campaigns frame. Runs
    * the one dimension scan now; the fact stays a lazy plan over
    * `campaigns` and the three local dimension frames.
    */
  def build(campaigns: DataFrame): Map[String, DataFrame] = {
    val Seq(dd, ds, dc) = dimensions(campaigns, Seq(DateDim, StateDim, CategoryDim))
    Map(
      "Dim_Date" -> dd,
      "Dim_State" -> ds,
      "Dim_Category" -> dc,
      "Fact_Campaigns" -> factCampaigns(campaigns, ds, dc, dd))
  }

  /** S4 `INSERT OR IGNORE` parity on a parquet sink: append only rows whose
    * key set is absent from the existing table (left-anti), first load =
    * plain write (etl_pipeline.py:197-202, SURVEY §4.2 last row).
    */
  def upsertAppend(spark: SparkSession, df: DataFrame, path: String, keys: Seq[String]): Unit = {
    // An existing sink is one we can resolve a schema from; AnalysisException
    // on read = first load. (A plan-based probe, not a data scan.)
    val existing =
      try Some(spark.read.parquet(path).select(keys.map(col): _*))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    existing match {
      case None => df.write.mode(SaveMode.Overwrite).parquet(path)
      case Some(prior) =>
        df.join(prior, keys, "left_anti")
          .write.mode(SaveMode.Append).parquet(path)
    }
  }

  /** S3 catalog parity (create_tables.sql:1-43): register the four
    * warehouse tables as EXTERNAL parquet tables over the written files,
    * so `spark.sql("SELECT ... FROM Fact_Campaigns")` works by name.
    * Idempotent like the DDL, but via DROP-then-CREATE rather than
    * `IF NOT EXISTS`: a stale registration pointing at a previous
    * warehouseDir must be replaced, not silently kept (external tables —
    * dropping the entry never touches the parquet files).
    */
  def registerCatalog(spark: SparkSession, warehouseDir: String): Unit =
    Seq("Dim_Date", "Dim_State", "Dim_Category", "Fact_Campaigns").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t USING parquet LOCATION '$warehouseDir/$t'")
    }

  /** End-to-end pipeline parity for `__main__` (etl_pipeline.py:285-315):
    * CSV -> transform -> star schema -> parquet warehouse at outDir.
    */
  def runPipeline(spark: SparkSession, csvPath: String, outDir: String): Map[String, Long] =
    writeTables(spark, build(graft.etl.Transform.campaigns(
      graft.etl.Extract.campaignsCsv(spark, csvPath))), outDir)

  /** Write each table as parquet at `outDir/<name>`, all at once
    * ([[graft.operators.ConcurrentJobs]]), and count each back from what
    * was written.
    */
  def writeTables(
      spark: SparkSession,
      tables: Map[String, DataFrame],
      outDir: String): Map[String, Long] = {
    val named = tables.toSeq
    val counts = new Array[Long](named.size)
    graft.operators.ConcurrentJobs.awaitAll(named.zipWithIndex.map { case ((name, df), i) =>
      () => {
        df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
        counts(i) = spark.read.parquet(s"$outDir/$name").count()
      }
    }: _*)
    named.map(_._1).zip(counts).toMap
  }
}
