package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM. Runs one workload for a measured window and writes
  * the raw record (ops, spans, stage/plan/progress records, checks,
  * heap samples) as JSON; `perfbench/run.py` turns it into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE --digests FILE [--record-digests]
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, digests: String, recordDigests: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("work"), req("out"), req("digests"),
      argv.contains("--record-digests"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/chk-default")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Functions.install(spark)
    spark.range(1).count() // first job: scheduler and executor start-up
    val ctx = new Ctx(spark, a, cores, t0)
    var code = 0
    try {
      val w: Workload = a.workload match {
        case "catalog" => new Catalog(ctx)
        case "sig_long" => new SigLong(ctx)
        case "sig_grouped" => new SigGrouped(ctx)
        case "stream_upsert" => new StreamUpsert(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      w.run()
      ctx.write()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    }
    // no session teardown: the JVM ends here, and its scratch directory
    // goes with the run
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }
}

trait Workload { def run(): Unit }

/** One executed operation of a workload's closed loop. */
final case class OpRec(id: Int, name: String, family: String, pass: Int,
                       traced: Boolean, startNs: Long, wallNs: Long, ok: Boolean,
                       error: String, inItems: Long, heapNs: Long) {
  def json: java.util.Map[String, Any] = J.obj("id" -> id, "name" -> name,
    "family" -> family, "pass" -> pass, "traced" -> traced, "start_ns" -> startNs,
    "wall_ns" -> wallNs, "ok" -> ok, "error" -> error, "in_items" -> inItems,
    "heap_ns" -> heapNs)
}

/** Shared state of one run: the session, the tracer and listeners, and
  * everything recorded for the raw output.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args, val cores: Int,
                val startNs: Long) {
  val sc = spark.sparkContext
  val tracer = new Tracer(spark)
  @volatile var currentOp = -1
  val stageL = new StageListener(() => currentOp)
  val planL = new PlanListener
  val progressL = new ProgressListener
  val ops = ArrayBuffer[OpRec]()
  val checks = ArrayBuffer[java.util.Map[String, Any]]()
  val heapMb = ArrayBuffer[Double]()
  val layers = scala.collection.mutable.LinkedHashMap[String, Any]()
  val setup = scala.collection.mutable.LinkedHashMap[String, Any]()
  var measureNs = 0L
  val passes = ArrayBuffer[Double]()
  /** Time spent in [[sampleHeap]] so far; pass walls leave it out. */
  var heapNs = 0L
  private var nextOp = 0
  // nanoTime = wall ms * 1e6 + offset, for the ms-stamped plan phases
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def rng(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(args.seed * 0x9E3779B97F4A7C15L + salt)

  def newOpId(): Int = synchronized { nextOp += 1; nextOp }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check FAILED: $name $detail")
    checks += J.obj("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.find { p =>
    p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured"))
  }

  /** Old-generation occupancy right after a full collection, in MB: the
    * live heap at an op boundary. The second collection comes after
    * Spark's cleaner has dropped the shuffle and broadcast blocks the
    * first one released. Called outside every timed region; returns
    * the time it took.
    */
  def sampleHeap(): Long = {
    val t0 = System.nanoTime()
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.foreach(p => heapMb += p.getUsage.getUsed / 1048576.0)
    val t = System.nanoTime() - t0
    heapNs += t
    t
  }

  /** Listeners ride only on traced operations. */
  def attach(): Unit = {
    sc.addSparkListener(stageL)
    spark.listenerManager.register(planL)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(stageL)
    spark.listenerManager.unregister(planL)
  }

  /** Plan phases that started inside a traced op become child spans of
    * the innermost span of that op open at their start.
    */
  private def attributePlans(op: Int, from: Int): Unit = {
    val mine = tracer.spans.filter(s => s.op == op && s.name != "plan").toSeq
    planL.plans.drop(from).foreach { case (startMs, durMs) =>
      val st = startMs * 1000000L + clockOffset
      val tol = 1000000L
      val inside = mine.filter(s => s.start - tol <= st && st <= s.end + tol)
      if (inside.nonEmpty) {
        val host = inside.maxBy(_.start)
        val s0 = math.max(st, host.start)
        tracer.record("plan", op, host.id, s0, math.min(s0 + durMs * 1000000L, host.end))
      }
    }
  }

  /** Runs one operation of the closed loop: tags its jobs, times it,
    * records a failure instead of throwing, frees cached data, then
    * samples the heap unless `heap` is false. `traced` attaches the
    * listeners; spans follow it unless `spans` says otherwise.
    */
  def runOp(name: String, family: String, pass: Int, traced: Boolean,
            inItems: Long, spans: Option[Boolean] = None, heap: Boolean = true)
           (body: Int => Unit): OpRec = {
    val id = newOpId()
    currentOp = id
    sc.setLocalProperty(Tracer.OpProp, id.toString)
    sc.setJobDescription(s"perfbench ${args.workload}:$name")
    val plansBefore = planL.plans.size
    if (traced) attach()
    tracer.enabled = spans.getOrElse(traced)
    var err: String = null
    val t0 = System.nanoTime()
    try tracer.span("op", id)(body(id))
    catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] op $name FAILED: $err")
    }
    val wall = System.nanoTime() - t0
    tracer.enabled = false
    if (traced) { detach(); attributePlans(id, plansBefore) }
    sc.setLocalProperty(Tracer.OpProp, null)
    sc.setJobDescription(null)
    spark.catalog.clearCache()
    val h = if (heap) sampleHeap() else 0L
    val r = OpRec(id, name, family, pass, traced, t0 - startNs, wall, err == null, err, inItems, h)
    ops += r
    r
  }

  /** Evaluates a frame the way a pipeline does: every column computed,
    * rows discarded executor-side.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  def write(): Unit = {
    val root = J.obj(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> cores,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "setup" -> setup, "measure_s" -> measureNs / 1e9, "passes" -> passes.toSeq,
      "ops" -> ops.map(_.json).toSeq, "checks" -> checks.toSeq,
      "heap_mb" -> heapMb.toSeq, "layers" -> layers,
      "spans" -> tracer.spans.map(_.json).toSeq,
      "stages" -> stageL.stages.map(_.json).toSeq,
      "jobs" -> stageL.jobs.map { case (j, o, s) => J.obj("job" -> j, "op" -> o, "span" -> s) }.toSeq,
      "batches" -> progressL.batches.toSeq)
    J.write(args.out, root)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
