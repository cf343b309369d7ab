package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Span recorder for the traced run. Spans live in memory and are written
  * as JSON lines when the run ends; derivation (self time, per-layer
  * attribution) happens in `layers.py`.
  *
  * Span kinds:
  *   - `job`: one per Spark job, with the first call-site frames of its
  *     SQL execution (or of its result stage), its tags, its streaming
  *     batch id, and task totals folded in from `onTaskEnd`;
  *   - `write`: one per round, the store's table files it created or
  *     rewrote (count and bytes);
  *   - `store`: one per call through [[TimingStore]];
  *   - `round` / `query` / `mark`: added by the workloads themselves. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val mapper = new ObjectMapper()
  private val spans = new ConcurrentLinkedQueue[ObjectNode]()
  private val jobs = new ConcurrentHashMap[Int, ObjectNode]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val execDetails = new ConcurrentHashMap[Long, String]()
  @volatile private var drained = false

  private def now(): Long = System.currentTimeMillis()

  def span(kind: String, name: String, startMs: Long, endMs: Long): ObjectNode = {
    val s = mapper.createObjectNode()
    s.put("kind", kind).put("name", name).put("start", startMs).put("end", endMs)
    spans.add(s)
    s
  }

  /** Time `body` as one span of `kind`/`name`. */
  def timed[T](kind: String, name: String)(body: => T): T = {
    val t0 = now()
    try body finally span(kind, name, t0, now())
  }

  private def graftFrames(details: String): String =
    Option(details).getOrElse("").split("\n")
      .filter(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      
      .take(12).mkString("\n")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val resultStage = e.stageInfos.maxBy(_.stageId)
    val site = execId.flatMap(id => Option(execDetails.get(id)))
      .filter(_.nonEmpty).getOrElse(graftFrames(resultStage.details))
    val s = mapper.createObjectNode()
    s.put("kind", "job").put("name", s"job-${e.jobId}").put("start", e.time).put("end", e.time)
    s.put("site", site)
    s.put("tags", props.flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse(""))
    s.put("batch", props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).getOrElse(""))
    s.put("description", props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    Seq("tasks", "run_ms", "gc_ms", "shuffle_bytes", "spill_bytes").foreach(s.put(_, 0L))
    e.stageIds.foreach(st => stageToJob.put(st, e.jobId))
    jobs.put(e.jobId, s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { s =>
      s.put("end", e.time)
      spans.add(s)
      if (s.get("description").asText == Tracer.DrainMark) drained = true
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageToJob.get(e.stageId)
    val s = jobs.get(job)
    if (s != null && e.taskMetrics != null) s.synchronized {
      val m = e.taskMetrics
      def add(k: String, v: Long): Unit = { s.put(k, s.get(k).asLong + v); () }
      add("tasks", 1)
      add("run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execDetails.put(s.executionId, graftFrames(s.details))
    case end: SparkListenerSQLExecutionEnd => execDetails.remove(end.executionId); ()
    case _ => ()
  }

  /** (size, mtime) of every file of a store's tables (asset bytes left out). */
  def snapshot(storeDir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(storeDir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !root.relativize(p).toString.startsWith("asset_files"))
      .flatMap { p =>
        try Some(p.toString -> (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None }
      }.toMap
    finally s.close()
  }

  /** One `write` span: the table files a round created or rewrote. */
  def writes(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)],
      startMs: Long): Unit = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    span("write", "store", startMs, now())
      .put("files", changed.size.toLong).put("bytes", changed.values.map(_._1).sum)
    ()
  }

  /** Block until every event posted before this call reached the
    * listener: a marker job's end arrives after them on the same queue. */
  def drain(): Unit = {
    drained = false
    spark.sparkContext.setJobDescription(Tracer.DrainMark)
    try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
    val deadline = now() + 30000
    while (!drained && now() < deadline) Thread.sleep(5)
  }

  def write(path: String): Unit = {
    drain()
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.asScala.foreach { s =>
      if (s.path("description").asText != Tracer.DrainMark) {
        w.write(mapper.writeValueAsString(s)); w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val DrainMark = "perfbench-drain"

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    t
  }
}
