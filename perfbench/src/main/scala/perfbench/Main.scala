package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload run in this JVM: set-up, one cold repetition, one
  * untimed warm-up repetition, then warm repetitions for the requested
  * number of seconds. Writes one JSON document of raw measurements and
  * of the outputs the checks need; `run.py` turns it into the metric
  * line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir> <cpus> <out.json>
  */
object Main {
  /** The engine posture of `graft.Bench`, with every directory Spark
    * writes to kept under the run's work dir.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use right after a full collection: the live set. The pause
    * between two collections lets Spark's context cleaner drop the
    * blocks (broadcasts, shuffles) of objects the first one freed.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed.toDouble).sum / (1 << 20)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, data, work, cpusArg, out) = args
    val (seed, seconds, traced, cpus) =
      (seedArg.toLong, secondsArg.toDouble, traceArg == "1", cpusArg.toInt)
    val workload: Workload = name match {
      case "linkage"   => new LinkageWorkload(seed, data, work)
      case "dedup"     => new DedupWorkload(seed, data, work)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: session ready, inputs derived from the fixture tables,
    // written and loaded. `run.py` times it from the process launch to
    // this wall-clock instant.
    val spark = session(cpus, work)
    workload.setup(spark)
    val setupEndMs = System.currentTimeMillis()
    val tracer = new Tracer(traced)
    tracer.attach(spark)
    val ops = new Ops(tracer)

    // Blocks of the previous repetition's checkpoints are dropped before
    // the next one starts, so the heap measured after each repetition
    // holds the inputs and that repetition's outputs only.
    val inputRdds = spark.sparkContext.getPersistentRDDs.keySet
    def rep(label: String): Double = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!inputRdds(id)) rdd.unpersist(blocking = true)
      }
      val t0 = System.nanoTime()
      tracer.span(label)(ops.round(workload.ops)(workload.run(spark, ops)))
      (System.nanoTime() - t0) / 1e9
    }

    val cold = rep("cold")
    rep("warmup") // the first repetition after the cold one still runs partly interpreted
    System.gc()
    val bytesBeforeWarm = tracer.shuffleWriteBytes()
    val warm = scala.collection.mutable.ArrayBuffer[Double]()
    var heapMb = 0.0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (warm.isEmpty || System.nanoTime() < deadline) {
      warm += rep("warm")
      heapMb = math.max(heapMb, liveHeapMb())
    }
    val warmBytes = (tracer.shuffleWriteBytes() - bytesBeforeWarm).toDouble / warm.size

    val checks = workload.outputs(spark)
    spark.stop()

    val json = Json.obj(
      "workload" -> Json.str(name),
      "setup_end_ms" -> Json.num(setupEndMs.toDouble),
      "cold_s" -> Json.num(cold),
      "warm_s" -> Json.arr(warm.toSeq.map(s => Json.num(s))),
      "items" -> Json.num(workload.items.toDouble),
      "shuffle_write_mb" -> Json.num(warmBytes / (1 << 20)),
      "peak_heap_mb" -> Json.num(heapMb),
      "attempted" -> Json.num(ops.attempted.toDouble),
      "failed" -> Json.num(ops.failed.toDouble),
      "errors" -> Json.arr(ops.errors.toSeq.map(Json.str)),
      "spans" -> Json.arr(tracer.spans.map(s => Json.obj(
        "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
        "start_ns" -> Json.num(s.startNs.toDouble), "end_ns" -> Json.num(s.endNs.toDouble),
        "jobs" -> Json.num(s.counters.jobs.toDouble),
        "stages" -> Json.num(s.counters.stages.toDouble),
        "tasks" -> Json.num(s.counters.tasks.toDouble),
        "executor_run_s" -> Json.num(s.counters.runMs / 1e3),
        "max_task_s" -> Json.num(s.counters.maxTaskMs / 1e3),
        "shuffle_write_mb" -> Json.num(s.counters.shuffleWriteBytes.toDouble / (1 << 20)),
        "spill_mb" -> Json.num(s.counters.spillBytes.toDouble / (1 << 20)),
        "planning_s" -> Json.num(s.counters.planningMs / 1e3),
        "smj" -> Json.num(s.counters.smj.toDouble)))),
      "outcomes" -> Json.obj(workload.outcomes.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "checks" -> checks)
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Counts the program calls a repetition attempts and those that throw.
  * A repetition is a round of the same calls; a call that throws ends
  * its round, and the calls it skipped count as failed too.
  */
final class Ops(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val errors = scala.collection.mutable.ArrayBuffer[String]()
  private var done = 0

  def round(calls: Int)(body: => Unit): Unit = {
    done = 0
    attempted += calls
    try body
    catch {
      case e: Exception =>
        failed += calls - done
        if (errors.size < 5) errors += s"${e.getClass.getName}: ${e.getMessage}".take(400)
    }
  }

  /** One public call of the program, traced as span `name`. */
  def apply[T](name: String)(body: => T): T = {
    val r = tracer.span(name)(body)
    done += 1
    r
  }
}

/** A workload: its inputs, one repetition of its pipeline, and the
  * outputs its checks need.
  */
trait Workload {
  /** Program calls per repetition. */
  def ops: Int
  /** Derives the inputs from the fixture tables and loads them into `spark`. */
  def setup(spark: SparkSession): Unit
  /** One repetition; every call goes through `op`. */
  def run(spark: SparkSession, op: Ops): Unit
  /** Work items one repetition processes (candidate pairs, documents). */
  def items: Long
  /** Outcome counts of the last repetition, by `<span>.<counter>`. */
  def outcomes: Map[String, Double]
  /** Writes what the checks read; returns it as JSON. */
  def outputs(spark: SparkSession): String
}

/** Minimal JSON writer (values arrive pre-encoded). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
