package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command line of the JVM half of the benchmark (run.py passes it). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      scratch: Path, out: Path, traceFile: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("scratch")), Paths.get(need("out")),
      Paths.get(need("trace-file")))
  }
}

object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def write(v: Map[String, Any]): String = org.json4s.jackson.Serialization.write(v)
}

object Dirs {
  /** Bytes of the regular files under `p`. Background merges may purge
    * retired parts during the walk: a file that vanishes counts 0, and a
    * directory that vanishes restarts the walk once.
    */
  def dirSize(p: Path): Long = {
    def size(f: Path): Long = try Files.size(f) catch { case _: java.nio.file.NoSuchFileException => 0L }
    def walk(): Long = {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(size(_)).sum() finally s.close()
    }
    if (!Files.exists(p)) 0L
    else try walk() catch { case _: java.io.UncheckedIOException => walk() }
  }
}

object Stats {
  /** Linear-interpolated percentile (the definition numpy uses by default). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toArray
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** One span per call the benchmark makes into a layer. The client is a
  * single closed-loop thread, so a stack gives each span its parent.
  */
final case class Span(id: Int, parent: Int, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** Spans and per-layer failure counts. Spans are recorded only while
  * `active` (traced rounds of a `--trace 1` run); failures always count.
  */
final class Tracer {
  val spans = new ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var active = false
  var op: Long = -1L
  val failed: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  def call[T](layer: String, name: String)(body: => T): T = {
    if (!active) {
      try body catch { case e: Throwable => failed(layer) += 1; throw e }
    } else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body catch { case e: Throwable => failed(layer) += 1; throw e }
      finally {
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
  }

  /** Self time per layer in ms: a span's duration minus its children's. */
  def selfMsByLayer: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)).toDouble).sum / 1e6
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try spans.foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}

/** Spark work attributed to the benchmark's operations through the job
  * group the client sets before each one: jobs, tasks, executor CPU,
  * shuffle, spill, input records and scheduler delay.
  */
final class SparkAttribution extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var schedMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var recordsRead = 0L; var failedTasks = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    val a = acc(g); a.synchronized(a.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("none")
    val a = acc(g)
    val m = e.taskMetrics
    val i = e.taskInfo
    a.synchronized {
      a.tasks += 1
      if (!i.successful) a.failedTasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
        // Spark UI's "scheduler delay": task wall time not spent running,
        // deserializing, serializing or fetching the result.
        val wall = i.finishTime - i.launchTime
        a.schedMs += math.max(0L, wall - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
      }
    }
  }

  /** Sum over every group whose name starts with `prefix`. */
  def total(prefix: String): Acc = {
    val t = new Acc
    accs.asScala.foreach { case (g, a) =>
      if (g.startsWith(prefix)) a.synchronized {
        t.jobs += a.jobs; t.tasks += a.tasks; t.cpuNs += a.cpuNs; t.schedMs += a.schedMs
        t.shuffleBytes += a.shuffleBytes; t.spillBytes += a.spillBytes
        t.recordsRead += a.recordsRead; t.failedTasks += a.failedTasks
      }
    }
    t
  }
}

/** Diffs a table's public part list between polls: parts that appear with
  * no part removed are writes (flushes, INSERT parts); a poll that sees
  * parts removed counts one merge round, and its largest new part is the
  * merge output (the rest, if the poll closes a write call, are writes).
  */
final class PartWatcher(list: () => Seq[(Long, Long, Long)], gcPending: () => Int) {
  private var known: Map[Long, (Long, Long)] =
    list().map { case (id, rows, bytes) => id -> (rows, bytes) }.toMap
  var writeParts = 0L; var writeBytes = 0L
  var mergeRounds = 0L; var mergeBytes = 0L
  var gcPendingMax = 0
  val liveSamples = new ArrayBuffer[Int]()

  def poll(afterWrite: Boolean): Unit = {
    val now = list()
    val ids = now.map(_._1).toSet
    val removed = known.keySet.diff(ids)
    val added = now.filterNot(p => known.contains(p._1))
    if (added.nonEmpty || removed.nonEmpty) {
      if (removed.isEmpty) {
        writeParts += added.size; writeBytes += added.map(_._3).sum
      } else {
        mergeRounds += 1
        val out = added.sortBy(-_._2)
        val (merged, writes) =
          if (afterWrite && out.nonEmpty) (out.take(1), out.drop(1)) else (out, Nil)
        mergeBytes += merged.map(_._3).sum
        writeParts += writes.size; writeBytes += writes.map(_._3).sum
        gcPendingMax = math.max(gcPendingMax, gcPending())
      }
      known = now.map { case (id, rows, bytes) => id -> (rows, bytes) }.toMap
    }
    liveSamples += now.size
  }
}

/** Everything a workload shares: the session, timing, the tracer, the
  * Spark listener, JVM counters, failures and the result file.
  */
final class Harness(val args: Args) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val tracer = new Tracer
  val attribution = new SparkAttribution
  private var opSeq = 0L
  var attempted = 0L
  var failed = 0L
  val failures = new ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  @volatile private var heapPeakBytes = 0L
  installGcListener()

  lazy val spark: SparkSession = {
    val s = graft.GraftSession.local("perfbench")
    if (args.trace) s.sparkContext.addSparkListener(attribution)
    s
  }

  /** Session start, timed from JVM start: part of every workload's set-up. */
  def sessionSeconds(): Double = {
    spark.range(1).count() // first job: executor and codegen warm-up
    sinceJvmStart()
  }

  /** Seconds since the JVM started. Read just before the first timed
    * operation, it is the workload's `setup_s`: everything before that
    * operation, warm-up included, so work moved into set-up shows.
    */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def scratchDir(name: String): Path = {
    val p = args.scratch.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** Start one operation. In a traced run about half the rounds record
    * spans, so the same run yields the tracing overhead (traced minus
    * untraced). The half is picked by a hash of the round number, not by
    * parity, so it cannot line up with a workload's own period (a KV flush
    * falls on every tenth round).
    */
  def beginOp(round: Long): Unit = {
    opSeq += 1
    attempted += 1
    tracer.op = opSeq
    tracer.active = args.trace && (round * 0x9E3779B97F4A7C15L) >>> 63 == 0L
    if (args.trace) spark.sparkContext.setJobGroup(s"op-$opSeq", s"op $opSeq", false)
  }

  def endOp(): Unit = {
    tracer.active = false
    if (args.trace) spark.sparkContext.clearJobGroup()
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection, in MB. Workloads call it once
    * their fixed amount of work is done, with their own reference data kept
    * out of the heap or small and fixed (see each workload).
    */
  def heapLiveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak heap in use right after any collection in the run, in MB. */
  def heapPeakMb(): Double = {
    val cur = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (heapPeakBytes == 0L) cur / 1048576.0 else heapPeakBytes / 1048576.0
  }

  private def installGcListener(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val gi = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val heapNames = ManagementFactory.getMemoryPoolMXBeans.asScala
                .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
              val used = gi.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapNames(k) => v.getUsed }.sum
              if (used > heapPeakBytes) heapPeakBytes = used
            }
        }, null, null)
      case _ =>
    }
  }

  /** Drain Spark's listener bus so every task of the timed phase is counted. */
  def drainListener(): Unit = if (args.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spark counters per operation (`spark.*` layer metrics). */
  def sparkLayer(ops: Long, rowsOut: Long): Unit = {
    drainListener()
    val a = attribution.total("op-")
    val n = math.max(1L, ops).toDouble
    layer("spark.jobs_per_op") = a.jobs / n
    layer("spark.tasks_per_op") = a.tasks / n
    layer("spark.sched_delay_ms") = a.schedMs / n
    layer("spark.executor_cpu_ms") = a.cpuNs / 1e6 / n
    layer("spark.shuffle_bytes") = a.shuffleBytes / n
    layer("spark.spill_bytes") = a.spillBytes / n
    layer("spark.records_read_per_row_out") = a.recordsRead.toDouble / math.max(1L, rowsOut)
    layer("spark.failed") = a.failedTasks.toDouble
  }

  /** Self time per layer (ms per traced operation) from the spans. */
  def selfTimeLayer(): Unit = {
    val tracedOps = tracer.spans.filter(_.parent < 0).map(_.op).distinct.size
    val n = math.max(1, tracedOps).toDouble
    val self = tracer.selfMsByLayer
    Seq("bench", "mergetree", "sources", "operators").foreach { l =>
      layer(s"self.$l.ms_per_op") = self.getOrElse(l, 0.0) / n
    }
    layer("trace.spans") = tracer.spans.size.toDouble
  }

  def writeResult(): Unit = {
    layer("failed_ratio") = failed.toDouble / math.max(1L, attempted)
    Seq("mergetree", "sources", "operators").foreach(l => layer(s"$l.failed") = tracer.failed(l).toDouble)
    info("seed") = args.seed
    info("workload") = args.workload
    info("cpus") = Runtime.getRuntime.availableProcessors()
    info("spark_master") = spark.sparkContext.master
    info("max_heap_mb") = Runtime.getRuntime.maxMemory() / 1048576
    info("java") = System.getProperty("java.version")
    info("spark") = spark.version
    val body = Json.write(Map("attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq, "e2e" -> e2e.toMap, "layer" -> layer.toMap, "info" -> info.toMap))
    Files.writeString(args.out, body + "\n")
    if (args.trace) tracer.write(args.traceFile)
  }
}

object Harness {
  /** Closed-loop throughput of a fixed operation mix: operations per second
    * when each class runs `weights(class)` times per pass at its median
    * latency. It stands for the completed-operation rate over whole passes,
    * without the count noise of the pass the deadline cuts, and a single
    * stalled call does not move it.
    */
  def mixRate(weights: Map[String, Int], latMs: collection.Map[String, ArrayBuffer[Double]]): Double = {
    val passMs = weights.map { case (c, w) => w * Stats.pct(latMs.getOrElse(c, ArrayBuffer()).toSeq, 50) }.sum
    if (passMs <= 0) 0.0 else weights.values.sum * 1000.0 / passMs
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val h = new Harness(args)
    try {
      args.workload match {
        case "kv_ingest_lookup" => KvWorkload.run(h)
        case "sql_mixed"        => SqlWorkload.run(h)
        case "rag_serve"        => RagWorkload.run(h)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      h.writeResult()
    } finally {
      try h.spark.stop() catch { case _: Throwable => }
    }
  }
}
