package dwhbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM. Sets up once (session start, table loads
  * and warm-up, all cold), runs one workload, and writes `run.json` plus
  * check material to `--out`.
  * `run.py` generates the inputs, calls this, checks the outputs and
  * prints the metrics.
  *
  * Usage: dwhbench.Main --workload gql_read|cdc_live|registry_sweep
  *   --seed N --seconds S --trace 0|1 --data DIR --out DIR --cpus N
  *   [--max-ops N] [--requests FILE]
  *   [--corrupt-expected 1] */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: Path, cpus: Int,
      maxOps: Int, requests: Option[String], corruptExpected: Boolean)

  /** One measured operation: a request, a micro-batch or a registry key. */
  final case class Op(id: Long, name: String, role: String, startNs: Long,
      endNs: Long, error: Option[String], rows: Long, records: Long)

  /** Per-op layer values collected during the run (trace mode only). */
  final class Layers {
    private val q = new ConcurrentLinkedQueue[(Long, String, Double)]()
    def add(op: Long, name: String, v: Double): Unit = q.add((op, name, v))
    def all: Seq[(Long, String, Double)] = q.asScala.toSeq
  }

  val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.out)
    val w: Workload = a.workload match {
      case "gql_read" => new GqlRead(a)
      case "cdc_live" => new CdcLive(a)
      case "registry_sweep" => new RegistrySweep(a)
      case other => sys.error(s"unknown workload: $other")
    }
    // set-up phases: seconds to session start, to tables loaded, to warm
    val setupT0 = System.nanoTime()
    def sinceSetup = (System.nanoTime() - setupT0) / 1e9
    val spark = session(a.cpus)
    Files.writeString(a.out.resolve("app_ids.txt"),
      spark.sparkContext.applicationId + "\n")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val started = sinceSetup
    w.tables.foreach(n => graft.Tables.load(spark, a.data, n).count())
    val loaded = sinceSetup
    w.warmUp(spark)
    val setupPhases = Seq(started, loaded, sinceSetup)
    val tracer = new Tracer(a.trace)
    val probe = if (a.trace) Some(new SparkProbe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.streams.addListener(p.streamListener)
    }
    val layers = new Layers
    val t0 = System.nanoTime()
    val ops = w.run(spark, tracer, probe, layers)
    val wallS = (System.nanoTime() - t0) / 1e9
    w.check(spark)
    spark.stop() // drains the listener bus before the probe is read
    val rssMb = vmHwmKb() / 1024.0
    probe.foreach(p => w.sparkLayers(p, ops, layers))
    tracer.allSpans.foreach(s => layers.add(s.op, s.name, s.ms))
    if (a.trace) tracer.write(a.out.resolve("spans.jsonl"))

    val root = mapper.createObjectNode()
    root.put("workload", a.workload)
    root.put("setup_s", setupPhases.last)
    val sp = root.putArray("setup_phases_s")
    setupPhases.foreach(sp.add(_))
    root.put("wall_s", wallS)
    root.put("rss_peak_mb", rssMb)
    val oa = root.putArray("ops")
    ops.foreach { o =>
      val n = oa.addObject()
      n.put("id", o.id); n.put("name", o.name); n.put("role", o.role)
      n.put("ms", (o.endNs - o.startNs) / 1e6)
      n.put("rows", o.rows); n.put("records", o.records)
      o.error.foreach(n.put("error", _))
    }
    val la = root.putObject("layers")
    layers.all.groupBy(_._2).foreach { case (name, vs) =>
      val arr = la.putArray(name)
      vs.groupBy(_._1).toSeq.sortBy(_._1).foreach(g => arr.add(g._2.map(_._3).sum))
    }
    w.report(root)
    Files.writeString(a.out.resolve("run.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  def session(cpus: Int): SparkSession = {
    val s = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process (VmHWM), in KiB. */
  def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Time `body` as one op; a thrown exception becomes the op's error. */
  def timeOp(id: Long, name: String, role: String)
      (body: => (Long, Long)): Op = {
    val t0 = System.nanoTime()
    val (err, rows, records) =
      try { val (r, n) = body; (None, r, n) }
      catch { case e: Throwable =>
        (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(500)), 0L, 0L)
      }
    Op(id, name, role, t0, System.nanoTime(), err, rows, records)
  }

  private def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("data"), Paths.get(need("out")),
      need("cpus").toInt,
      m.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue),
      m.get("requests"),
      m.get("corrupt-expected").contains("1"))
  }
}

/** A workload: warm-up done in set-up, the measured phase, and the
  * correctness material written after it. */
trait Workload {
  /** The tables set-up loads: those the workload's program calls read. */
  def tables: Seq[String] = graft.Tables.names
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Tracer, probe: Option[SparkProbe],
      layers: Main.Layers): Seq[Main.Op]
  /** Outside the timed phase: run or dump the correctness checks. */
  def check(spark: SparkSession): Unit
  /** Fold span and Spark-listener figures into per-op layer values. */
  def sparkLayers(probe: SparkProbe, ops: Seq[Main.Op], layers: Main.Layers)
      : Unit =
    ops.foreach { o =>
      val s = probe.perOp(o.id)
      layers.add(o.id, "spark.jobs", s.map(_.jobs.toDouble).getOrElse(0.0))
      layers.add(o.id, "spark.stages", s.map(_.stages.toDouble).getOrElse(0.0))
      layers.add(o.id, "spark.tasks", s.map(_.tasks.toDouble).getOrElse(0.0))
      layers.add(o.id, "spark.sched_delay_ms", s.map(_.schedDelayMs).getOrElse(0.0))
      layers.add(o.id, "spark.task_run_ms", s.map(_.taskRunMs).getOrElse(0.0))
      layers.add(o.id, "spark.task_cpu_ms", s.map(_.taskCpuMs).getOrElse(0.0))
      layers.add(o.id, "spark.gc_ms", s.map(_.gcMs).getOrElse(0.0))
      layers.add(o.id, "spark.input_bytes",
        s.map(_.inputBytes.toDouble).getOrElse(0.0))
      layers.add(o.id, "spark.shuffle_read_bytes",
        s.map(_.shuffleReadBytes.toDouble).getOrElse(0.0))
      layers.add(o.id, "spark.shuffle_write_bytes",
        s.map(_.shuffleWriteBytes.toDouble).getOrElse(0.0))
      layers.add(o.id, "spark.spill_bytes",
        s.map(_.spillBytes.toDouble).getOrElse(0.0))
      val wallMs = (o.endNs - o.startNs) / 1e6
      val inJobs = s.map(x => SparkProbe.unionMs(x.jobSpans.toSeq).toDouble)
        .getOrElse(0.0)
      layers.add(o.id, "spark.driver_gap_ms", math.max(0.0, wallMs - inJobs))
      layers.add(o.id, "spark.rows_out", o.rows.toDouble)
    }
  def report(root: com.fasterxml.jackson.databind.node.ObjectNode): Unit = ()
}
