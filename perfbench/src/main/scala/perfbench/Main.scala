package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.{Extract, Transform}
import graft.operators.CacheScope
import graft.star.StarBuilder

/** The benchmark's JVM side, started by `perfbench/run.py`.
  *
  * One run: set up `setupReps` times (session + extensions + inputs + cold
  * stages; the last set-up is kept), run one untimed warm-up pass that also
  * checks every op's output, then time passes over the ops for about
  * `--seconds`. Each pass runs the ops one after another in a seeded order: one
  * client, no load-generator threads. With `--trace 1` passes alternate
  * untraced and traced ([[Tracer]] attached), and the per-layer metrics of
  * the traced passes replace the end-to-end ones in the result line.
  *
  * `--mode record` stops after the warm-up pass and prints each op's row
  * count and content hash, for `workloads.json`.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val setupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      mode: String, spec: File, work: File, out: File, commit: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("mode", "bench"), new File(m("spec")), new File(m("work")),
      new File(m("out")), m.getOrElse("commit", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spec = mapper.readTree(o.spec)
    val problems = validate(spec)
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println(s"[perfbench] workloads.json: $p"))
      sys.exit(2)
    }
    val w = spec.get("workloads").get(o.workload)
    if (w == null) {
      System.err.println(s"[perfbench] unknown workload ${o.workload}")
      sys.exit(2)
    }
    sys.addShutdownHook(removeScratch(o.work)) // also runs when the JVM is told to stop
    sys.exit(new Run(o, spec, w).execute())
  }

  /** graft's streaming queries keep their checkpoints and sinks under
    * `Scratch.root` (`/dev/shm` when writable, outside the run's
    * directory), in directories named by a hash of the input dir: the
    * ones `input` has made.
    */
  def scratchDirs(input: File): Seq[File] = {
    val path = new org.apache.hadoop.fs.Path(input.getAbsolutePath)
    val qualified = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .makeQualified(path).toString
    val key = org.apache.commons.codec.digest.DigestUtils.md5Hex(qualified).take(16)
    Option(new File(graft.queries.Scratch.root).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_stream_") && f.getName.endsWith(s"_$key"))
  }

  /** Remove the scratch dirs this run's inputs made, so runs leave nothing
    * behind outside their own directory.
    */
  private def removeScratch(work: File): Unit =
    (1 to setupReps).flatMap(rep => scratchDirs(new File(work, s"rep-$rep/input")))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)

  /** Every listed query id exists, no id sits in two workloads, and every
    * listed stage is one of graft's stage builders.
    */
  def validate(spec: JsonNode): Seq[String] = {
    val queries = SparkEntry.queries.keySet
    val stages = SparkEntry.stages.keySet
    val ws = spec.get("workloads").properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
    val listed = ws.flatMap { case (name, w) =>
      if (w.get("kind").asText() == "queries")
        w.get("ops").elements().asScala.map(n => n.asText() -> name).toSeq
      else Nil
    }
    val missing = listed.collect { case (id, w) if !queries(id) => s"$w lists unknown query $id" }
    val dup = listed.groupBy(_._1).collect {
      case (id, ws2) if ws2.size > 1 => s"$id is listed ${ws2.size} times (${ws2.map(_._2).mkString(", ")})"
    }
    val badStages = ws.flatMap { case (name, w) =>
      Option(w.get("stages")).toSeq.flatMap(_.elements().asScala.map(_.asText()))
        .filterNot(stages).map(s => s"$name lists unknown stage $s")
    }
    missing ++ dup ++ badStages
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def toJson(v: Any): String = mapper.writeValueAsString(v)
}

/** One benchmark run of one workload. */
final class Run(o: Main.Opts, spec: JsonNode, w: JsonNode) {
  import Main.median

  private val cores = Runtime.getRuntime.availableProcessors()
  private val kind = w.get("kind").asText()
  private val ops: Seq[String] = w.get("ops").elements().asScala.map(_.asText()).toSeq
  private val stageNames: Seq[String] =
    Option(w.get("stages")).toSeq.flatMap(_.elements().asScala.map(_.asText()))
  private val dataSrc = new File(o.spec.getParentFile, spec.get("data").asText())
  /** Timed passes per run: `--seconds` over the workload's typical pass
    * time, so both sides of a comparison time the same number of passes.
    */
  private val passCount =
    math.max(if (o.trace) 4 else 2, (o.seconds / w.get("pass_s").asDouble()).toInt)

  private var spark: SparkSession = _
  /** The current set-up's directory: tmp, local, warehouse, input, etl. */
  private var repDir: File = _
  private def dir(name: String): File = new File(repDir, name)
  private def dataDir: File = dir("input")

  private val phases = ArrayBuffer[Phase]()
  private var tracer: Option[Tracer] = None
  private var attempted = 0
  private val failures = ArrayBuffer[String]()
  private val checks = ArrayBuffer[Map[String, Any]]()

  private def log(s: String): Unit = println(s"[perfbench] $s")

  private def now(): Double = System.nanoTime() / 1e9

  private def deleteTree(f: File): Unit =
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)

  // ---------------------------------------------------------------- set-up

  /** Session start, extensions, inputs and a cold build of the workload's
    * stages; the time of one set-up. Each set-up gets fresh directories and
    * deletes the previous one's.
    */
  private def setup(rep: Int): Double = {
    val t0 = now()
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      deleteTree(repDir)
    }
    repDir = new File(o.work, s"rep-$rep")
    // Staging keys every stage under java.io.tmpdir: a fresh one per set-up
    // makes every stage build cold and keeps runs from sharing stages,
    // checkpoints or commit logs
    dir("tmp").mkdirs()
    System.setProperty("java.io.tmpdir", dir("tmp").getAbsolutePath)
    spark = graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", dir("warehouse").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerAll(spark)
    if (kind == "etl") KickstarterGen.generate(o.seed, new File(dataDir, "base"),
      new File(dataDir, "delta"))
    else org.apache.commons.io.FileUtils.copyDirectory(dataSrc, dataDir)
    stageNames.foreach { s =>
      CacheScope.scoped { SparkEntry.stages(s)(spark, dataDir.getAbsolutePath); () }
    }
    now() - t0
  }

  // ------------------------------------------------------------------- ops

  private def phase[A](pass: Int, op: String, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val group = s"${o.workload}/$op/$name"
    sc.setJobGroup(group, group)
    val s = System.currentTimeMillis()
    try body
    finally {
      phases += Phase(pass, op, name, s, System.currentTimeMillis())
      sc.clearJobGroup()
    }
  }

  private def warehouse(pass: Int) = new File(dir("etl"), s"wh-$pass").getAbsolutePath

  private val upsertKeys = Seq(
    "Dim_Date" -> Seq("date_key"),
    "Dim_State" -> Seq("state_name"),
    "Dim_Category" -> Seq("main_category_name", "sub_category_name"),
    "Fact_Campaigns" -> Seq("campaign_id"))

  private var upsertSeconds = 0.0

  /** Run one op; its latency in seconds. In the untimed warm-up pass (0)
    * its output is checked too, outside that latency.
    */
  private def runOp(pass: Int, op: String): Double = {
    attempted += 1
    val t0 = now()
    var t1 = Double.NaN
    try kind match {
      case "queries" =>
        CacheScope.scoped {
          val df = phase(pass, op, "build")(SparkEntry.queries(op)(spark, dataDir.getAbsolutePath))
          phase(pass, op, "action")(df.write.format("noop").mode("overwrite").save())
          if (pass == 0) checkQuery(op, df)
        }
      case "etl" if op == "full_load" =>
        val counts = phase(pass, op, "call") {
          StarBuilder.runPipeline(spark, s"$dataDir/base", warehouse(pass))
        }
        t1 = now()
        if (pass == 0) checkEtl(op, counts, KickstarterGen.FullCounts)
      case "etl" =>
        phase(pass, op, "call") {
          val delta = StarBuilder.build(Transform.campaigns(
            Extract.campaignsCsv(spark, s"$dataDir/delta")))
          upsertKeys.foreach { case (t, keys) =>
            val u0 = now()
            StarBuilder.upsertAppend(spark, delta(t), s"${warehouse(pass)}/$t", keys)
            upsertSeconds += now() - u0
          }
        }
        t1 = now()
        if (pass == 0) checkEtl(op, upsertKeys.map { case (t, _) =>
          t -> spark.read.parquet(s"${warehouse(pass)}/$t").count()
        }.toMap, KickstarterGen.AfterDeltaCounts)
    } catch {
      case NonFatal(e) =>
        failures += op
        log(s"$op failed in pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    (if (t1.isNaN) now() else t1) - t0
  }

  /** An etl op's table counts against the ones the generator implies. */
  private def checkEtl(op: String, got: Map[String, Long], want: Map[String, Long]): Unit = {
    checks += Map("op" -> op, "counts" -> got, "ok" -> (got == want))
    if (got != want) {
      failures += op
      log(s"$op wrong output: counts $got, expected $want")
    }
  }

  /** A query op's row count and content hash against `workloads.json`. */
  private def checkQuery(op: String, df: DataFrame): Unit = {
    val fp = Fingerprint(df)
    val exp = Option(spec.get("expected").get(op))
    val wantRows = exp.map(_.get("rows").asLong())
    val wantHash = exp.flatMap(e => Option(e.get("hash")).filterNot(_.isNull).map(_.asText()))
    val ok = o.mode == "record" || (wantRows.contains(fp.rows) && wantHash.forall(_ == fp.hash))
    checks += Map("op" -> op, "rows" -> fp.rows, "hash" -> fp.hash, "ok" -> ok)
    if (!ok) {
      failures += op
      log(s"$op wrong output: rows=${fp.rows} hash=${fp.hash}, expected " +
        s"rows=${wantRows.getOrElse("?")} hash=${wantHash.getOrElse("(rows only)")}")
    }
  }

  /** Files and bytes written since `sinceMs` that are still on disk under
    * the run's output and stage directories (tmpdir, warehouse, etl sinks,
    * graft's streaming scratch); Spark's own shuffle and spill files under
    * its local dir do not count.
    */
  private def writtenSince(sinceMs: Long): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    val roots = Seq(dir("tmp"), dir("warehouse"), dir("etl")) ++ Main.scratchDirs(dataDir)
    roots.filter(_.exists()).foreach { root =>
      val walk = Files.walk(root.toPath)
      try walk.iterator().asScala.foreach { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        if (a.isRegularFile && a.lastModifiedTime().toMillis >= sinceMs) {
          files += 1; bytes += a.size()
        }
      } catch {
        case _: java.io.UncheckedIOException | _: java.nio.file.NoSuchFileException => ()
      } finally walk.close()
    }
    (files, bytes)
  }

  /** One pass over the ops in a seeded order; the op latencies, in seconds. */
  private def pass(n: Int): Seq[(String, Double)] = {
    // the etl delta appends to the full load, so only query ops are shuffled
    val order = if (kind == "etl") ops else new scala.util.Random(o.seed * 1000003L + n).shuffle(ops)
    val lat = order.map { op =>
      val startMs = System.currentTimeMillis()
      val dt = runOp(n, op)
      tracer.foreach { t =>
        val (files, bytes) = writtenSince(startMs)
        t.written += ((n, op, files, bytes))
      }
      op -> dt
    }
    if (kind == "etl") deleteTree(new File(warehouse(n)))
    lat
  }

  /** The timed passes. With a tracer they are traced in the pattern
    * untraced-traced-traced-untraced, so the warm-up still under way biases
    * neither side of the overhead. Each pass comes back with whether it was
    * traced.
    */
  private def timedPasses(t: Option[Tracer]): Seq[(Boolean, Seq[(String, Double)])] =
    (1 to passCount).map { n =>
      val traced = t.filter(_ => n % 4 == 2 || n % 4 == 3)
      traced.foreach(_.install())
      tracer = traced
      val lat = pass(n)
      traced.foreach(_.uninstall())
      tracer = None
      (traced.isDefined, lat)
    }

  // --------------------------------------------------------------- metrics

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def etlDecomposition(): Map[String, Double] = {
    def noop(df: DataFrame): Double = {
      val t0 = now()
      df.write.format("noop").mode("overwrite").save()
      now() - t0
    }
    val raw = Extract.campaignsCsv(spark, s"$dataDir/base")
    val c = Transform.campaigns(raw)
    val (dd, ds, dc) = (StarBuilder.dimDate(c), StarBuilder.dimState(c), StarBuilder.dimCategory(c))
    Map(
      "etl.extract_s" -> noop(raw),
      "etl.transform_s" -> noop(c),
      "star.dims_s" -> (noop(dd) + noop(ds) + noop(dc)),
      "star.fact_s" -> noop(StarBuilder.factCampaigns(c, ds, dc, dd)))
  }

  def execute(): Int = {
    val setupTimes = (1 to Main.setupReps).map(setup(_))
    val runStart = now()
    pass(0) // untimed warm-up: the first runs of an op still compile code
    if (o.mode == "record") {
      println(Main.toJson(checks.toSeq))
      spark.stop()
      return if (failures.isEmpty) 0 else 1
    }
    val t = if (o.trace) Some(new Tracer(spark, o.workload, cores, phases)) else None
    upsertSeconds = 0.0
    val all = timedPasses(t)
    val timed = all.filterNot(_._1).map(_._2)
    val passTimes = timed.map(_.map(_._2).sum)
    val byOp = timed.flatten.groupBy(_._1).map { case (op, xs) => op -> xs.map(_._2) }
    val opMedians = ops.map(op => median(byOp(op)))
    val layer = t.map { tr =>
      val traced = all.zipWithIndex.collect { case ((true, lat), i) => (i + 1, lat) }
      val per = traced.map { case (n, _) => tr.passMetrics(n) }
      val tracedPass = median(traced.map(_._2.map(_._2).sum))
      val decomposition =
        if (kind == "etl") etlDecomposition() + ("star.upsert_s" -> upsertSeconds / all.size)
        else Map("etl.extract_s" -> 0.0, "etl.transform_s" -> 0.0, "star.dims_s" -> 0.0,
          "star.fact_s" -> 0.0, "star.upsert_s" -> 0.0)
      per.head.keys.map(k => k -> median(per.map(_(k)))).toMap ++ decomposition ++ Map(
        "trace.pass_s" -> tracedPass,
        "trace.untraced_pass_s" -> median(passTimes),
        "trace.overhead_s" -> (tracedPass - median(passTimes)))
    }.getOrElse(Map.empty)
    val spanList = t.map(_.spans()).getOrElse(Nil)
    val failRatio = failures.size.toDouble / attempted
    val e2e = ArrayBuffer[(String, Double, String)](
      ("setup_s", median(setupTimes), "s"),
      ("pass_s", median(passTimes), "s"),
      ("op_p50_s", median(opMedians), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val extra = ArrayBuffer[(String, Double, String)](
      ("op_tail_s", opMedians.max, "s"), ("fail_ratio", failRatio, "1"))
    if (kind == "etl") {
      extra += (("load_rows_per_s", KickstarterGen.Rows / median(byOp("full_load")), "rows/s"))
      extra += (("incr_load_s", median(byOp("incr_load")), "s"))
    }
    (e2e ++ extra).foreach { case (n, v, u) => log(f"${o.workload} $n = $v%.6g $u") }
    layer.toSeq.sortBy(_._1).foreach { case (n, v) => log(f"${o.workload} $n = $v%.6g") }

    val context = Map(
      "nproc" -> cores, "local_n" -> cores, "shuffle_partitions" -> cores,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "commit" -> o.commit, "seed" -> o.seed, "workload" -> o.workload,
      "trace" -> o.trace, "seconds" -> o.seconds)
    val metricsOut: Map[String, Map[String, Any]] =
      if (o.trace) layer.map { case (n, v) => n -> Map("value" -> v, "unit" -> Run.layerUnit(n)) }
      else e2e.map { case (n, v, u) => n -> Map[String, Any]("value" -> v, "unit" -> u) }.toMap
    val result = Map(
      "context" -> context,
      "setup_s" -> setupTimes,
      "run_s" -> (now() - runStart),
      "pass_s" -> passTimes,
      "op_latency_s" -> byOp,
      "end_to_end" -> (e2e ++ extra).map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layer,
      "checks" -> checks.toSeq,
      "failures" -> failures.toSeq,
      "spans" -> spanList)
    o.out.getParentFile.mkdirs()
    Files.write(o.out.toPath, Main.toJson(result).getBytes("UTF-8"))
    spark.stop()
    println(Main.toJson(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> metricsOut)))
    0
  }
}

object Run {
  def layerUnit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name == "write.bytes") "bytes"
    else if (name.endsWith("_rows") || name == "write.rows") "rows"
    else if (name.endsWith("_ratio")) "1"
    else "count"
}
