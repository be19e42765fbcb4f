package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** The benchmark's JVM side: builds one session, runs a workload's setup
  * and then whole rounds until `--seconds` have passed, and writes the
  * raw measurements (and, with `--trace 1`, the event trace) as JSON for
  * perfbench/run.py to check and reduce to metrics.
  *
  *   --workload recipe_warehouse|corpus_hygiene|query_mix
  *   --inputs DIR --work DIR --seconds N --trace 0|1 --cores N
  *   --result FILE [--mix FILE]
  *
  * With `--trace 1` timed rounds alternate untraced and traced, so the
  * result carries the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val spark = session(cores, work)
    val h = new Harness(spark)
    val workload: Workload = a("workload") match {
      case "recipe_warehouse" =>
        new RecipeWarehouse(h, a("inputs"), work)
      case "corpus_hygiene" => new CorpusHygiene(h, a("inputs"), work)
      case "query_mix" =>
        new QueryMix(h, a("inputs"), work, lines(a("mix")))
      case other => sys.error(s"unknown workload $other")
    }

    workload.setup()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val rounds = ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // Whole rounds until the run length is reached. A traced run
    // alternates untraced and traced rounds, at least two of each, so it
    // also measures the overhead of tracing.
    var i = 0
    while (i == 0 || elapsed < seconds || (trace && i < 4)) {
      h.trace(trace && i % 2 == 1)
      rounds += workload.round(i)
      i += 1
    }
    h.trace(false)

    val kernels = if (trace) kernelTimings(workload.kernelTexts()) else Map.empty[String, Double]
    val result = Json.write(Map(
      "workload" -> a("workload"), "cores" -> cores, "setup_s" -> setupS,
      "peak_rss_kb" -> peakRssKb(), "rounds" -> rounds.map(_.json),
      "kernels" -> kernels, "info" -> workload.info()))
    Files.writeString(Paths.get(a("result")), result)
    if (trace)
      Files.write(Paths.get(a("result") + ".trace.jsonl"), h.tracer.lines.asScala.toSeq.asJava)
    spark.stop()
  }

  /** The one session a run uses: `local[cores]` with the program's
    * extensions and graft.Bench's settings, scratch dirs under `work`.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  /** VmHWM of this JVM, from /proc/self/status. */
  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  /** ns per document of the three text kernels the corpus path runs per
    * row, called directly on the workload's own texts (untimed region).
    */
  private def kernelTimings(texts: Seq[String]): Map[String, Double] = {
    val docs = texts.filter(_.nonEmpty).map(UTF8String.fromString).toArray
    if (docs.isEmpty) return Map.empty
    val stops = Seq("the", "a", "of", "and", "to", "in", "is").map(_.getBytes("UTF-8")).toArray
    var sink = 0L
    def time(f: UTF8String => Long): Double = {
      // one warm pass, then whole passes for at least 0.3 s
      docs.foreach(d => sink += f(d))
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < 300000000L) {
        docs.foreach(d => sink += f(d))
        n += docs.length
      }
      (System.nanoTime() - t0).toDouble / n
    }
    val r = Map(
      "tokenstats" -> time(d => graft.functions.TokenStats.compute(d, stops).getInt(0).toLong),
      "minhash" -> time(d => graft.functions.MinhashSigs.computeBandSigs(d, 104, 13, 1).getLong(0)),
      "ngram" -> time(d => graft.functions.NgramMd5Hashes.computePositional(d, 5).numElements().toLong))
    if (sink == Long.MinValue) System.err.println(sink)
    r
  }
}
