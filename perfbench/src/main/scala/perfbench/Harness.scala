package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into a public entry point of the program, from the
  * call until its result is fully materialized. `buildNs` is the part
  * spent before a DataFrame-returning function returned its frame.
  */
final case class Op(
    id: String, kind: String, name: String, module: String,
    t0Ms: Long, t1Ms: Long, wallNs: Long, buildNs: Long, gcMs: Long,
    error: Option[String], extra: Map[String, Any]) {
  def json: Map[String, Any] = Map(
    "id" -> id, "kind" -> kind, "name" -> name, "module" -> module,
    "t0" -> t0Ms, "t1" -> t1Ms, "wall_ns" -> wallNs, "build_ns" -> buildNs,
    "gc_ms" -> gcMs, "error" -> error, "extra" -> extra)
}

/** One round of a workload's fixed operation set, with the counters the
  * end-to-end metrics need. `storedBytes`/`files` describe the outputs
  * the round's operations left on disk.
  */
final case class Round(ops: Seq[Op], traced: Boolean, taskMs: Long,
    recordsWritten: Long, storedBytes: Long, files: Long) {
  def json: Map[String, Any] = Map(
    "traced" -> traced, "task_ms" -> taskMs, "records_written" -> recordsWritten,
    "stored_bytes" -> storedBytes, "files" -> files, "ops" -> ops.map(_.json))
}

/** Times operations, tags the jobs they issue with their span, and owns
  * the listeners: the always-on [[Meter]] and, for traced rounds, the
  * [[Tracer]].
  */
final class Harness(val spark: SparkSession) {
  private val sc = spark.sparkContext
  private val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  val meter = new Meter
  sc.addSparkListener(meter)
  val tracer = new Tracer
  private var tracing = false
  private var seq = 0

  def trace(on: Boolean): Unit = if (on != tracing) {
    flush()
    if (on) {
      sc.addSparkListener(tracer)
      classic.listenerManager.register(tracer)
      classic.streams.addListener(tracer.streams)
    } else {
      sc.removeSparkListener(tracer)
      classic.listenerManager.unregister(tracer)
      classic.streams.removeListener(tracer.streams)
    }
    tracing = on
  }

  def flush(): Unit = org.apache.spark.graft.BusFlush.flush(sc)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def phase(p: String): Unit = sc.setLocalProperty(Spans.PhaseKey, p)

  /** Time `build` (construction of a frame) then `run` (its
    * materialization) as one operation; [[call]] covers functions that
    * return no frame.
    */
  def timed[A, B](kind: String, name: String, module: String,
      extra: B => Map[String, Any] = (_: B) => Map.empty[String, Any])(
      build: => A)(run: A => B): (Option[B], Op) = {
    seq += 1
    val id = s"op$seq"
    sc.setLocalProperty(Spans.OpKey, id)
    phase("build")
    val gc0 = gcMs()
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tb = t0
    val res =
      try {
        val a = build
        tb = System.nanoTime()
        phase("exec")
        Right(run(a))
      } catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val t1Ms = System.currentTimeMillis()
    val gc = gcMs() - gc0
    sc.setLocalProperty(Spans.OpKey, null)
    sc.setLocalProperty(Spans.PhaseKey, null)
    res match {
      case Right(b) =>
        (Some(b), Op(id, kind, name, module, t0Ms, t1Ms, t1 - t0, tb - t0, gc, None, extra(b)))
      case Left(e) =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        (None, Op(id, kind, name, module, t0Ms, t1Ms, t1 - t0, tb - t0, gc,
          Some(String.valueOf(e.getMessage).take(300)), Map.empty))
    }
  }

  /** An opaque call (no frame returned): all of it is execution. */
  def call[B](kind: String, name: String, module: String,
      extra: B => Map[String, Any] = (_: B) => Map.empty[String, Any])(
      f: => B): (Option[B], Op) =
    timed[Unit, B](kind, name, module, extra)(phase("exec"))(_ => f)

  /** Counters snapshot for round accounting (drains the listener bus). */
  def counters(): (Long, Long) = {
    flush()
    (meter.taskMs.get, meter.recordsWritten.get)
  }

  /** Build a round from its ops and the counter snapshot taken before it. */
  def round(ops: Seq[Op], before: (Long, Long), storedBytes: Long, files: Long): Round = {
    val (task1, rec1) = counters()
    Round(ops, tracing, task1 - before._1, rec1 - before._2, storedBytes, files)
  }
}

/** JSON for the result and trace files (Jackson, as Spark ships it). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

object Disk {
  /** Total bytes and data-file count under `root` (Spark's `_SUCCESS`
    * markers and `.crc` checksums are counted in bytes, not as files).
    */
  def usage(root: File): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) {
        bytes += f.length
        val n = f.getName
        if (!n.startsWith("_") && !n.startsWith(".") && !n.endsWith(".crc")) files += 1
      }
    walk(root)
    (bytes, files)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** A workload: untimed setup (staging, warm-up, correctness pass), then
  * any number of identical timed rounds.
  */
trait Workload {
  def setup(): Unit
  def round(i: Int): Round
  /** Texts the kernel timings run on: the workload's own documents. */
  def kernelTexts(): Seq[String]
  /** Workload facts the checks and metrics need (sizes, answers, ...). */
  def info(): Map[String, Any]
}

object Workload {
  def frameRows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
}
