package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.CacheScope

/** Finds which of graft's stage builders each query reads, for the
  * `stages` lists in `workloads.json`.
  *
  * Every stage lives under `java.io.tmpdir` as `<prefix>_<16 hex>`. Each
  * builder and each query runs once against an empty tmpdir; a query
  * reads the builders whose prefixes it creates. Prints one JSON object
  * `{query: [stage, ...]}`.
  *
  * Usage: `perfbench.StageMap <data dir> <work dir> <query>...`
  */
object StageMap {
  private val stageDir = """^(.+)_[0-9a-f]{16}$""".r

  def main(args: Array[String]): Unit = {
    val Array(data, work) = args.take(2)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerAll(spark)
    var n = 0
    def prefixes(body: => Unit): Set[String] = {
      n += 1
      val tmp = new File(work, s"probe-$n")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
      CacheScope.scoped(body)
      val found = Option(tmp.list()).toSeq.flatten.collect { case stageDir(p) => p }.toSet
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      found
    }
    val builders = SparkEntry.stages.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> prefixes { fn(spark, data); () }
    }
    val byQuery = args.drop(2).toSeq.map { q =>
      val made = prefixes {
        SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
      }
      q -> builders.collect { case (b, ps) if ps.nonEmpty && ps.subsetOf(made) => b }
    }
    println(Main.toJson(byQuery.toMap))
    spark.stop()
  }
}
