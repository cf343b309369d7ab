package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GraftSession, SparkEntry}
import graft.ingest.{PackageIngest, RawPackage, Resolution}
import graft.store.{DocStoreServer, DocumentStore, HttpStore, LocalStore}
import graft.streaming.IngestStream
import graft.tar.TarOps

/** The benchmark's JVM side. `run.py` generates the inputs, writes a spec
  * file and starts this once per run; it measures one workload and writes
  * the raw measurements (and, traced, the spans) for `run.py` to check and
  * reduce. Usage: `perfbench.Main <spec.json>`. */
object Main {
  private val mapper = new ObjectMapper()
  private val eventSchema = StructType(Seq(
    StructField("kind", StringType), StructField("record_json", StringType)))

  private def nowMs(): Long = System.currentTimeMillis()
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    HeapAfterGc.install()
    val spec = mapper.readTree(Paths.get(args(0)).toFile)
    val work = spec.get("work_dir").asText
    val cores = spec.get("cores").asInt
    val trace = spec.get("trace").asBoolean
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(Tracer.attach(spark)) else None
    spark.range(1000).write.mode("overwrite").format("noop").save()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mapper.createObjectNode()
    out.put("session_s", (nowMs() - jvmStart) / 1000.0)
    try {
      spec.get("workload").asText match {
        case "ingest_trickle" => trickle(spark, spec, tracer, out)
        case "analytics" => analytics(spark, spec, tracer, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.put("peak_live_mb", (HeapAfterGc.peakBytes + nonHeapCommitted()) / 1048576.0)
      tracer.foreach(_.write(spec.get("spans").asText))
      mapper.writeValue(Paths.get(spec.get("out").asText).toFile, out)
    } finally spark.stop()
  }

  /** Memory outside the Java heap the JVM holds: metaspace, code cache. */
  private def nonHeapCommitted(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getCommitted

  private def fileResolver(bucketDir: String): (String, String) => String =
    (b: String, key: String) => s"file:$bucketDir/$b/$key"

  private def roundJson(p: StreamingQueryProgress, node: ObjectNode): ObjectNode = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    node.put("batch", p.batchId)
      .put("start", Instant.parse(p.timestamp).toEpochMilli)
      .put("ms", p.batchDuration)
      .put("rows", p.numInputRows)
      .put("planning_ms", d.getOrElse("queryPlanning", 0L))
      .put("commit_ms", d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
  }

  /** [[IngestStream.start]]'s wiring (source observe, checkpoint,
    * checkpoint-derived txn scope, one [[IngestStream.processBatch]] per
    * micro-batch) with two differences: the trigger is the caller's, and
    * each batch clears the stream's call site first, so every job is
    * tagged with the program frame that started it rather than with the
    * query's start. Traced, it also records the table files each round
    * wrote. */
  private def ingestQuery(spark: SparkSession, source: String, store: DocumentStore,
      storeDir: String, ckpt: String, resolver: (String, String) => String,
      trigger: Trigger, tracer: Option[Tracer]): StreamingQuery = {
    val scope = "ingest-" + java.util.UUID.nameUUIDFromBytes(ckpt.getBytes("UTF-8"))
    spark.readStream.schema(eventSchema).option("maxFilesPerTrigger", "1").json(source)
      .observe("graft.ingest.source", count(lit(1)).as("n_events"))
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.sparkSession.sparkContext.clearCallSite()
        val before = tracer.map(_.snapshot(storeDir))
        val start = nowMs()
        IngestStream.processBatch(store, packageUri = resolver, txnScopePrefix = scope)(b, id)
        for (t <- tracer; b0 <- before) t.writes(b0, t.snapshot(storeDir), start)
      }
      .start()
  }

  // --------------------------------------------------------- ingest_trickle

  /** Steady queue traffic: closed-loop rounds, each one event file placed
    * into the watched directory after the previous round committed,
    * through [[HttpStore]] → [[DocStoreServer]] into a preloaded store.
    * At least two rounds run; another starts while it fits the run length. */
  private def trickle(spark: SparkSession, spec: JsonNode, tracer: Option[Tracer],
      out: ObjectNode): Unit = {
    val work = spec.get("work_dir").asText
    val storeDir = s"$work/trickle-store"
    val preloadStart = System.nanoTime()
    val inner = LocalStore(spark, storeDir)
    val preload = spec.get("preload").asText
    inner.upsertDocuments(spark.read.parquet(s"$preload/documents.parquet"))
    inner.appendIdentifiers(spark.read.parquet(s"$preload/identifiers.parquet"))
    out.put("preload_s", secondsSince(preloadStart))

    val server = new DocStoreServer(inner)
    try {
      val client = HttpStore(spark, server.endpoint)
      val store: DocumentStore = tracer.map(new TimingStore(client, _)).getOrElse(client)
      val watched = Files.createDirectories(Paths.get(s"$work/trickle-events"))
      val pending = Files.list(Paths.get(spec.get("rounds").asText)).iterator().asScala
        .toSeq.sortBy(_.getFileName.toString)
      val resolver = fileResolver(spec.get("bucket").asText)
      val q = ingestQuery(spark, watched.toString, store, storeDir, s"$work/trickle-ckpt",
        resolver, Trigger.ProcessingTime(0L), tracer)
      val seconds = spec.get("seconds").asDouble
      def round(f: Path, into: ArrayNode): Unit = {
        val start = nowMs()
        Files.move(f, watched.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
        val end = nowMs()
        into.addObject().put("file", f.getFileName.toString)
          .put("start", start).put("end", end).put("wall_ms", end - start)
        ()
      }
      val it = pending.iterator
      try {
        // the first round pays code generation and JIT warm-up, which a
        // long-running stream pays once: it runs as part of set-up
        round(it.next(), out.putArray("warmup"))
        val rounds = out.putArray("rounds")
        val t0 = System.nanoTime()
        def last = if (rounds.isEmpty) 0.0 else rounds.get(rounds.size - 1).get("wall_ms").asDouble / 1000
        while (it.hasNext && (rounds.size < 2 || secondsSince(t0) + last <= seconds))
          round(it.next(), rounds)
        val progress = out.putArray("progress")
        q.recentProgress.filter(_.numInputRows > 0).foreach(pr => roundJson(pr, progress.addObject()))
      } finally q.stop()
      out.put("stream_s", out.get("rounds").asScala.map(_.get("wall_ms").asDouble).sum / 1000)
      out.put("store", storeDir)
      tracer.foreach { _ =>
        tarProbes(spec.get("bucket").asText, out)
        resolveProbe(spark, spec, inner, out)
      }
    } finally server.stop()
  }

  // -------------------------------------------------------- per-layer probes

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Single-threaded baseline of the per-package kernel over the staged
    * packages: [[TarOps.explode]] alone and the whole
    * [[PackageIngest.gather]]. Median of three sweeps, in µs per package. */
  private def tarProbes(bucketDir: String, out: ObjectNode): Unit = {
    val files = Files.walk(Paths.get(bucketDir)).iterator().asScala
      .filter(p => p.toString.endsWith(".tar.gz")).toSeq.sortBy(_.toString)
    val pkgs = files.map { f =>
      val name = f.getFileName.toString
      RawPackage(name.stripSuffix(".tar.gz"), "TDR", name, Files.readAllBytes(f))
    }
    def sweep(body: RawPackage => Any): Double = {
      val t0 = System.nanoTime()
      pkgs.foreach(body)
      (System.nanoTime() - t0) / 1e3 / math.max(1, pkgs.size)
    }
    def probe(body: RawPackage => Any): Double = {
      sweep(body) // warm
      median((1 to 3).map(_ => sweep(body)))
    }
    out.put("explode_us_per_pkg", probe(p => TarOps.explode(p.archive)))
    out.put("gather_us_per_pkg", probe(p => PackageIngest.gather(p)))
    out.put("probe_packages", pkgs.size)
  }

  /** A direct [[Resolution.resolve]] of the workload's requests against the
    * end-state identifiers, median of five materializations, in ms. */
  private def resolveProbe(spark: SparkSession, spec: JsonNode, store: LocalStore,
      out: ObjectNode): Unit = {
    val requests = spark.read.parquet(spec.get("requests").asText).cache()
    val identifiers = store.read("identifiers").get.cache()
    requests.count(); identifiers.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      Resolution.resolve(requests, identifiers).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e6
    }
    once()
    out.put("resolve_call_ms", median((1 to 5).map(_ => once())))
    requests.unpersist(); identifiers.unpersist()
  }

  // -------------------------------------------------------------- analytics

  /** The query subset at the generated sf0.1 tables: one cold pass whose
    * results are written for the oracle check, then warm passes (noop
    * sink, as `graft.Bench` times them) until the run length is spent. */
  private def analytics(spark: SparkSession, spec: JsonNode, tracer: Option[Tracer],
      out: ObjectNode): Unit = {
    val dir = spec.get("tables").asText
    val results = spec.get("results").asText
    val queries = spec.get("queries").elements().asScala.toSeq
      .map(q => (q.get("name").asText, q.get("family").asText))
    val fns = SparkEntry.queries
    val seconds = spec.get("seconds").asDouble
    val stats = out.putArray("queries")
    val nodes = queries.map { case (n, f) =>
      val node = stats.addObject().put("name", n).put("family", f)
      node.putArray("warm_s")
      n -> node
    }.toMap

    def run(name: String, family: String, rep: Int)(action: DataFrame => Unit): Double = {
      val tag = s"q=$name#$rep"
      spark.sparkContext.addJobTag(tag)
      val start = nowMs()
      val t0 = System.nanoTime()
      try action(fns(name)(spark, dir))
      finally spark.sparkContext.removeJobTag(tag)
      val s = secondsSince(t0)
      tracer.foreach(_.span("query", name, start, nowMs())
        .put("family", family).put("rep", rep).put("tag", tag))
      s
    }

    val t0 = System.nanoTime()
    queries.foreach { case (n, f) =>
      nodes(n).put("cold_s", run(n, f, 0)(_.write.mode("overwrite").parquet(s"$results/$n")))
    }
    var rep = 1
    while (rep <= 2 || secondsSince(t0) < seconds) {
      queries.foreach { case (n, f) =>
        nodes(n).get("warm_s").asInstanceOf[ArrayNode]
          .add(run(n, f, rep)(_.write.mode("overwrite").format("noop").save()))
      }
      rep += 1
    }
    out.put("measure_s", secondsSince(t0))
    val oracle = out.putObject("oracle")
    queries.foreach { case (n, _) => oracle.put(n, SparkEntry.oracleSql(n)) }
  }
}

/** The peak of the Java heap in use right after a collection, over the
  * run. The resident set of a fixed-size heap reads the heap size whatever
  * the program holds; this follows what survives the program's collections. */
private object HeapAfterGc {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile var peakBytes = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}
