package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

/** The paper's pipeline: RecipeEtl.run over seeded JSONL documents, the
  * five CSVs dropped into a landing `backups/` directory and loaded by
  * IncrementalLoad from empty warehouse and checkpoint directories, then
  * the 10 RecipeAnalytics queries over the warehouse.
  */
final class RecipeWarehouse(h: Harness, docs: String, work: String) extends Workload {
  import graft.recipes.{RecipeAnalytics, RecipeEtl, Schemas}
  import graft.streaming.IncrementalLoad
  private val spark = h.spark
  private val queries = RecipeAnalytics.all.toSeq
    .sortBy(_._1.stripPrefix("ra").takeWhile(_.isDigit).toInt)

  /** Warm-up: three rounds over the same input. Their outputs are
    * deleted at once: deleting them later, once written back, costs
    * seconds of discards on some disks.
    */
  def setup(): Unit = (1 to 3).foreach { k =>
    run(s"warm$k")
    Disk.delete(new File(s"$work/recipe_warehouse/warm$k"))
  }
  def round(i: Int): Round = run(s"r$i")

  private def run(tag: String): Round = {
    val dir = s"$work/recipe_warehouse/$tag"
    val star = s"$dir/star"
    val landing = s"$dir/landing"
    val warehouse = s"$dir/warehouse"
    val before = h.counters()
    val ops = ArrayBuffer.empty[Op]
    val (_, etl) = h.call("etl", "RecipeEtl.run", "recipes",
      (c: Map[String, Long]) => Map[String, Any]("star_rows" -> c))(
      RecipeEtl.run(spark, docs, star))
    ops += etl
    // The upload: each table's single CSV part lands as backups/<file>.
    val backups = new File(s"$landing/backups")
    backups.mkdirs()
    RecipeEtl.TableFiles.values.foreach { file =>
      Option(new File(s"$star/$file").listFiles).getOrElse(Array.empty[File])
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        .foreach(p => Files.copy(p.toPath, new File(backups, file).toPath,
          StandardCopyOption.REPLACE_EXISTING))
    }
    val (_, load) = h.call("refresh", "IncrementalLoad.loadAllAvailableNow", "streaming",
      (_: Unit) => Map[String, Any]("readback" -> Schemas.starTables.keys.toSeq.sorted.map(t =>
        t -> IncrementalLoad.lastLoadedRowCount(s"$warehouse/$t").getOrElse(-1L)).toMap))(
      IncrementalLoad.loadAllAvailableNow(spark, landing, warehouse, s"$dir/checkpoints"))
    ops += load
    val tables = Schemas.starTables.keys.map(t => t -> spark.read.parquet(s"$warehouse/$t")).toMap
    for ((name, q) <- queries) {
      val (_, op) = h.timed[DataFrame, Seq[Seq[Any]]]("query", name, "recipes",
        rows => Map[String, Any]("answer" -> rows))(q(tables))(Workload.frameRows)
      ops += op
    }
    val (b1, f1) = Disk.usage(new File(star))
    val (b2, f2) = Disk.usage(new File(warehouse))
    h.round(ops.toSeq, before, b1 + b2, f1 + f2)
  }

  def kernelTexts(): Seq[String] =
    spark.read.schema(Schemas.recipeDoc).json(s"$docs/recipes.jsonl")
      .select(concat_ws(" ", col("title"), concat_ws(" ", col("steps"))))
      .collect().map(_.getString(0)).toSeq

  def info(): Map[String, Any] = Map.empty
}

/** The north-star corpus path: CorpusPipeline.run over a generated
  * documents table, once per round, each run writing a fresh lake.
  */
final class CorpusHygiene(h: Harness, corpus: String, work: String) extends Workload {
  import graft.pipeline.CorpusPipeline
  private val spark = h.spark

  /** Warm-up: five pipeline runs over the same corpus (after three, the
    * first timed runs were still the slowest).
    */
  def setup(): Unit = (1 to 5).foreach(k => round(-k))
  def round(i: Int): Round = {
    val lake = s"$work/corpus_hygiene/${if (i < 0) s"warm${-i}" else s"r$i"}/lake"
    val before = h.counters()
    val (_, op) = h.call("pipeline", "CorpusPipeline.run", "pipeline",
      (r: CorpusPipeline.Report) => Map[String, Any]("report" -> Json.parse(r.json), "lake" -> lake))(
      CorpusPipeline.run(spark, corpus, lake))
    val (bytes, files) = Disk.usage(new File(lake))
    h.round(Seq(op), before, bytes, files)
  }

  def kernelTexts(): Seq[String] =
    spark.read.parquet(s"$corpus/documents.parquet").select("text")
      .collect().map(_.getString(0)).toSeq

  /** The registered cp1 oracle: the checks run it in DuckDB on the same
    * corpus to verify the near-dedup and decontamination counts.
    */
  def info(): Map[String, Any] = Map("cp1_oracle" ->
    graft.SparkEntry.oracleSql.get("cp1_corpus_accounting"))
}

/** A fixed sequence of benched registry queries over generated tables,
  * each run through the noop sink as graft.Bench runs it. Fixture
  * staging and the correctness pass (every distinct query written to
  * parquet once, for the DuckDB oracle compare) happen in setup.
  */
final class QueryMix(h: Harness, tables: String, work: String, mix: Seq[String])
    extends Workload {
  import Registry.{byName, moduleOf}
  private val spark = h.spark
  private val distinct = mix.distinct
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private var stagedBytes = 0L
  private var stagedFiles = 0L
  private val checkErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]

  require(mix.forall(byName.contains),
    s"unknown queries in the mix: ${mix.filterNot(byName.contains).distinct.mkString(",")}")

  private def hygiene(): Unit = Registry.hygiene(spark)

  def setup(): Unit = {
    distinct.foreach(n => byName(n).stage.foreach(st =>
      try st(spark, tables) catch { case e: Throwable =>
        System.err.println(s"[perfbench] staging $n failed: $e") }))
    val results = s"$work/query_mix/results"
    distinct.foreach { n =>
      hygiene()
      try byName(n).fn(spark, tables).write.mode("overwrite").parquet(s"$results/$n")
      catch { case e: Throwable => checkErrors(n) = String.valueOf(e.getMessage).take(300) }
    }
    hygiene()
    val (b, f) = Disk.usage(tmp)
    stagedBytes = b
    stagedFiles = f
    val oracles = distinct.flatMap(n => byName(n).oracle.map(n -> _)).toMap
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Json.write(oracles))
  }

  def round(i: Int): Round = {
    val before = h.counters()
    val ops = ArrayBuffer.empty[Op]
    var bytes = stagedBytes
    var files = stagedFiles
    mix.foreach { n =>
      hygiene()
      val (_, w0) = h.counters()
      val (_, op) = h.timed[DataFrame, Unit]("query", n, moduleOf(n))(
        byName(n).fn(spark, tables))(Registry.noop)
      val (_, w1) = h.counters()
      val (b, f) = Disk.usage(tmp)
      bytes += b - stagedBytes
      files += f - stagedFiles
      ops += op.copy(extra = op.extra + ("rows_written" -> (w1 - w0)))
    }
    hygiene()
    h.round(ops.toSeq, before, bytes, files)
  }

  def kernelTexts(): Seq[String] =
    spark.read.parquet(s"$tables/documents.parquet").select("text")
      .collect().map(_.getString(0)).toSeq

  def info(): Map[String, Any] = Map(
    "check_errors" -> checkErrors.toMap,
    "modules" -> distinct.map(n => n -> moduleOf(n)).toMap)
}

/** The program's registry queries, run as graft.Bench runs them. */
object Registry {
  val byName: Map[String, graft.Q] =
    graft.SparkEntry.registry.map(q => q.name -> q).toMap

  /** The program module that defines a registry query: the package of
    * the class its function was written in (graft.<module>.X).
    */
  def moduleOf(name: String): String =
    byName(name).fn.getClass.getName.split('.').toList match {
      case "graft" :: m :: _ :: _ => m
      case _ => "core"
    }

  /** graft.Bench's between-query cleanup, less its System.gc(): a full
    * collection per query costs ~0.1 s of wall, more than the median
    * query at this size, and users do not pay it.
    */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.TempDirs.sweep()
    spark.experimental.extraOptimizations = Nil
    spark.experimental.extraStrategies = Nil
  }

  /** Full materialization through the noop sink, as graft.Bench does. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The timed pass draw_mix.py weights the query_mix families by: every
  * benched registry query over the generated tables the mix runs on,
  * after fixture staging and one warm pass, timed three times (median
  * wall per query, seconds, written as JSON with any errors).
  *
  *   --tables DIR --work DIR --cores N --out FILE
  */
object Sweep {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val tables = a("tables")
    val spark = Main.session(a("cores").toInt, a("work"))
    val benched = graft.SparkEntry.registry.filter(_.bench).map(_.name)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def once(n: String): Double = {
      Registry.hygiene(spark)
      val t0 = System.nanoTime()
      try Registry.noop(Registry.byName(n).fn(spark, tables))
      catch { case e: Throwable => errors(n) = String.valueOf(e.getMessage).take(300) }
      (System.nanoTime() - t0) / 1e9
    }
    benched.foreach(n => Registry.byName(n).stage.foreach(st =>
      try st(spark, tables) catch { case e: Throwable => errors(n) = s"staging: $e" }))
    benched.foreach(once)
    val passes = (1 to 3).map(_ => benched.map(n => n -> once(n)).toMap)
    val wall = benched.map { n =>
      val xs = passes.map(_(n)).sorted
      n -> xs(xs.size / 2)
    }.toMap
    Files.writeString(Paths.get(a("out")), Json.write(Map("wall_s" -> wall, "errors" -> errors.toMap)))
    spark.stop()
  }
}
