package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by `perfbench/run.py` in a fresh JVM:
  *
  * {{{
  * perfbench.Main --workload serve|intake --seed N --seconds S --trace 0|1
  *   --work <private run dir> --out <result.json> [--pins <pins.json>]
  *   [--commit <id>]
  * }}}
  *
  * The result file carries the end-to-end numbers, the per-layer numbers
  * (traced runs), per-op fingerprints and the recorded environment; run.py
  * turns it into the benchmark's output line.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, pins: Option[String], commit: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case x => sys.error(s"bad argument: ${x.mkString(" ")}") }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"), m.get("pins"), m.getOrElse("commit", "unknown"))
  }
}

/** Everything one run shares: arguments, the live session, the tracer and
  * listener, and the result being assembled. */
final class Ctx(val args: Args) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  val tracer = new Tracer(args.trace, spark.sparkContext)
  var listener: Option[JobListener] = None
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  val problems = mutable.ArrayBuffer[String]()
  private val t0 = System.nanoTime()
  /** Seconds since the JVM's harness started, per named phase boundary. */
  def mark(phase: String): Unit = info(s"at_${phase}_s") = (System.nanoTime() - t0) / 1e9
  def problem(msg: String): Unit = problems.synchronized { problems += msg }
  def dir(name: String): String = s"${args.work}/$name"

  /** Session settings every workload uses; recorded in the result. */
  val conf: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.ui.explainMode" -> "simple",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" -> dir("warehouse"),
    "spark.local.dir" -> dir("local"))

  def newSession(): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-${args.workload}")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Set-up, timed once per run from just before the session is built in
    * this fresh JVM until the first op could start (`body` runs the
    * workload's own set-up on the new session). A second set-up in the
    * same JVM would find the classes loaded and compiled, so it would
    * leave out the cold start every trainer or intake process pays. */
  def setup(body: => Unit): Unit = {
    val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
    spark = newSession()
    val t1 = System.nanoTime()
    tracer.record("session.start", ms0, System.currentTimeMillis(), 0L, "setup")
    tracer.op("setup", "setup")(body)
    mark("setup")
    e2e("setup_s") = (System.nanoTime() - t0) / 1e9
    layers("session.start_s") = (t1 - t0) / 1e9
    if (args.trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
    }
  }

  def cpuNanos: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    val workload: Workload = args.workload match {
      case "serve"  => new Serve(ctx)
      case "intake" => new Intake(ctx)
      case w        => sys.error(s"unknown workload '$w' (serve, intake)")
    }
    val pins = args.pins.filter(p => new java.io.File(p).isFile).map(Pins.read)
    try {
      val ops = workload.run()
      ctx.mark("ran")
      val pinned = pins.flatMap(_.forWorkload(args.workload, args.seed))
      val failedFp = Workload.checkFingerprints(ops, pinned, ctx)
      ctx.info("fingerprint_pinned") = pinned.isDefined
      ctx.info("fingerprints") = ops.map(o => o.fp.map(_.hex).getOrElse(""))
      val shared = ops.take(workload.guaranteedOps)
      ctx.info("fingerprint") = shared.flatMap(_.fp).foldLeft(Fingerprint.Empty)(_ + _).hex
      ctx.info("fingerprint_ops") = shared.size
      val timed = ops.filter(_.timed)
      val failed = timed.count(o => o.error.nonEmpty || failedFp.contains(o.index))
      ctx.layers("op_error_ratio") = if (timed.isEmpty) 1.0 else failed.toDouble / timed.size
      if (args.trace) {
        val n = ctx.tracer.write(ctx.dir("spans.jsonl"), ctx.listener)
        ctx.info("spans") = n
      }
      ctx.mark("checked")
      writeResult(ctx, timed.size, failed)
    } finally ctx.stopSession()
  }

  private def writeResult(ctx: Ctx, attempted: Int, failed: Int): Unit = {
    val a = ctx.args
    import scala.jdk.CollectionConverters._
    val env = Map(
      "nproc" -> ctx.cpus,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "commit" -> a.commit,
      "seed" -> a.seed,
      "workload" -> a.workload,
      "traced" -> a.trace,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "session" -> ctx.conf.toMap)
    val res = Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "problems" -> ctx.problems.toSeq,
      "e2e" -> ctx.e2e,
      "layers" -> ctx.layers,
      "info" -> ctx.info,
      "env" -> env)
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(Json(res)) finally w.close()
  }
}

/** Pinned fingerprints for the default seed, read from `pins.json`:
  * `{"seed": 1, "serve": [...], "intake": [...]}`, one
  * entry per op index. */
final case class Pins(seed: Long, byWorkload: Map[String, Seq[String]]) {
  def forWorkload(w: String, s: Long): Option[Seq[String]] =
    if (s == seed) byWorkload.get(w) else None
}

object Pins {
  def read(path: String): Pins = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val seed = """"seed"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(sys.error(s"$path: no seed"))
    val lists = """"(\w+)"\s*:\s*\[([^\]]*)\]""".r.findAllMatchIn(txt).map { m =>
      m.group(1) -> """"([^"]*)"""".r.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq
    }.toMap
    Pins(seed, lists)
  }
}
