package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One completed op. Times are epoch milliseconds: `buildMs` is when
  * the op's build step (the call that returns a DataFrame, or the
  * input staging of a write) returned. */
final case class Op(id: Long, kind: String, module: String, client: Int,
                    startMs: Double, buildMs: Double, endMs: Double,
                    ok: Boolean, error: String, rows: Long,
                    extra: Map[String, Double] = Map.empty) {
  def latencyS: Double = (endMs - startMs) / 1e3
}

/** A workload: set-up (repeated, timed), an untimed preparation step,
  * the timed closed-loop run and the output checks. */
trait Workload {
  /** Everything a fresh session needs before the first op: table
    * registration, index builds, warm-up. `round` numbers the set-ups. */
  def setup(spark: SparkSession, round: Int): Unit
  /** Untimed work between set-up and the timed run. */
  def prepare(spark: SparkSession): Unit = ()
  /** Run ops until `deadlineNs` (System.nanoTime), recording each. */
  def run(spark: SparkSession, rec: Recorder, deadlineNs: Long): Unit
  /** Length of the window throughput is measured over, given the
    * requested and the actual length of the timed run. */
  def window(seconds: Double, timedS: Double): Double = timedS
  /** Untimed output checks after the run; returns ids of ops that
    * failed a check plus a summary for the artifact. */
  def check(spark: SparkSession, ops: Seq[Op]): (Set[Long], Map[String, Any]) =
    (Set.empty, Map.empty)
  /** End-to-end values measured inside the workload (e.g. index size). */
  def endToEnd: Map[String, Double] = Map.empty
}

object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with nanosecond resolution. */
  def ms(nano: Long): Double = wall0 + (nano - nano0) / 1e6
}

/** Runs and records ops; under tracing, each op gets its own job group. */
final class Recorder(spark: SparkSession, val tracer: Option[Tracer]) {
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Op]()

  def ops: Seq[Op] = done.asScala.toSeq.sortBy(_.id)

  /** Time `build` then `execute` (which returns the result row count)
    * as one op. A throw marks the op failed. */
  def run[A](kind: String, module: String, client: Int,
             extra: => Map[String, Double] = Map.empty)
            (build: => A)(execute: A => Long): Op = {
    val id = ids.incrementAndGet()
    tracer.foreach(_.begin(spark, id))
    val t0 = System.nanoTime()
    var tb = t0
    var rows = 0L
    var err = ""
    try {
      val a = build
      tb = System.nanoTime()
      rows = execute(a)
    } catch {
      case e: Throwable =>
        if (tb == t0) tb = System.nanoTime()
        err = Option(e.getMessage).getOrElse(e.toString).takeWhile(_ != '\n').take(300)
    }
    val t1 = System.nanoTime()
    tracer.foreach(_.end(spark, id))
    val op = Op(id, kind, module, client, Clock.ms(t0), Clock.ms(tb), Clock.ms(t1),
      err.isEmpty, err, rows, extra)
    done.add(op)
    op
  }
}

/** Post-GC heap: the used heap right after a full collection. */
object Heap {
  private var maxMb = 0.0
  def sample(spark: SparkSession): Unit = {
    // unpersists are asynchronous: wait (up to 2 s) until no cached or
    // checkpointed block is left, so the sample does not depend on which
    // op ran last
    val until = System.nanoTime() + 2000000000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < until)
      Thread.sleep(20)
    // the second collection runs after the context cleaner has released
    // what the first one made unreachable
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum
    synchronized { maxMb = math.max(maxMb, used / 1e6) }
  }
  def max: Double = synchronized(maxMb)
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Main {
  val SetupRounds = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.LogFilters.suppressExpectedCheckpointTruncationWarns()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    val wl: Workload = o.workload match {
      case "esper_interactive" | "corpus_dedup_4x" =>
        new QueryWorkload(o.workload, o.data, o.work, o.seed)
      case "index_serve_maintain" => new IndexWorkload(o.data, o.work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setups = (1 to SetupRounds).map { round =>
      val t0 = System.nanoTime()
      val spark = session(o.work)
      wl.setup(spark, round)
      val dt = (System.nanoTime() - t0) / 1e9
      if (round < SetupRounds) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dt
    }
    val spark = SparkSession.active
    val p0 = System.nanoTime()
    wl.prepare(spark)
    val prepareS = (System.nanoTime() - p0) / 1e9
    Heap.sample(spark)
    val tracer = if (o.trace) Some(Tracer.install(spark)) else None
    val rec = new Recorder(spark, tracer)
    val t0 = System.nanoTime()
    wl.run(spark, rec, t0 + o.seconds * 1000000000L)
    val timedS = (System.nanoTime() - t0) / 1e9
    // what the last ops cached or checkpointed is not live data
    spark.catalog.clearCache()
    graft.util.Checkpoints.sweep(spark)
    Heap.sample(spark)
    tracer.foreach(_.drain())
    val ops = rec.ops
    val c0 = System.nanoTime()
    val (checkFailed, checkSummary) = wl.check(spark, ops)
    val checkS = (System.nanoTime() - c0) / 1e9
    val spans = tracer.map(_.finish(ops)).getOrElse(Seq.empty)
    val self = Tracer.selfTimes(spans)
    val counters: Long => Counters = id => tracer.map(_.countersOf(id)).getOrElse(new Counters)
    val artifact = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cores" -> Runtime.getRuntime.availableProcessors,
      "setup_s" -> setups, "prepare_s" -> prepareS, "timed_s" -> timedS,
      "t0_ms" -> Clock.ms(t0), "window_s" -> wl.window(o.seconds, timedS),
      "live_heap_mb" -> Heap.max,
      "end_to_end" -> wl.endToEnd,
      "checks" -> checkSummary, "check_s" -> checkS,
      "ops" -> ops.map { op =>
        Map("id" -> op.id, "kind" -> op.kind, "module" -> op.module, "client" -> op.client,
          "start_ms" -> op.startMs, "build_ms" -> op.buildMs, "end_ms" -> op.endMs,
          "latency_s" -> op.latencyS,
          "ok" -> (op.ok && !checkFailed(op.id)),
          "error" -> (if (checkFailed(op.id)) "output check failed" else op.error),
          "rows" -> op.rows, "extra" -> op.extra,
          "counters" -> (if (o.trace) counters(op.id).toMap else Map.empty))
      },
      "spans" -> spans.map(s => Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self.getOrElse(s.id, 0.0))))
    Files.writeString(Paths.get(o.work, "artifact.json"), Json.write(artifact))
    spark.stop()
  }
}
