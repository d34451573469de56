package dwhbench

import graft.api.{GraphQl, Permissions}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Closed-loop GraphQL read serving: `cpus` clients, each sending its next
  * request only after the previous reply. Requests come from the seeded
  * deck `run.py` wrote (`--requests`, one JSON object per line:
  * id, template, role, doc, warmup); clients take them in deck order.
  * Path per request: parseRoots -> secure (non-admin roles) -> runRoots
  * -> executedPlan -> collect. */
final class GqlRead(a: Main.Args) extends Workload {
  import GqlRead.Req

  private val (warm, deck) = {
    val path = a.requests.getOrElse(sys.error("gql_read needs --requests"))
    val all = scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty)
      .map { l =>
        val n = Main.mapper.readTree(l)
        (n.get("warmup").asBoolean(false), Req(n.get("id").asInt,
          n.get("template").asText, n.get("role").asText, n.get("doc").asText))
      }.toVector
    (all.filter(_._1).map(_._2), all.filterNot(_._1).map(_._2))
  }
  override def tables: Seq[String] = Seq("customer", "orders", "lineitem")

  private val responses =
    new ConcurrentHashMap[Int, Seq[(String, Array[Row], StructType)]]()

  private def secure(roots: Seq[(String, GraphQl.RootOp)], role: String)
      : Seq[(String, GraphQl.RootOp)] = {
    val pol = Permissions.q140Policy
    roots.map {
      case (k, GraphQl.ReadRoot(r)) =>
        k -> GraphQl.ReadRoot(Permissions.secure(r, role, pol).fold(
          m => throw new IllegalStateException(s"denied: $m"), identity))
      case (k, GraphQl.ByPkRoot(r)) =>
        k -> GraphQl.ByPkRoot(Permissions.secure(r, role, pol).fold(
          m => throw new IllegalStateException(s"denied: $m"), identity))
      case (k, GraphQl.AggRoot(r)) =>
        k -> GraphQl.AggRoot(Permissions.secureAggregate(r, role, pol).fold(
          m => throw new IllegalStateException(s"denied: $m"), identity))
      case (k, other) =>
        throw new IllegalStateException(s"$k: unsupported root $other")
    }
  }

  private def serve(spark: SparkSession, r: Req, op: Long, tr: Tracer)
      : Seq[(String, Array[Row], StructType)] = {
    val roots = tr.span(op, "api.GraphQl.parse_ms")(GraphQl.parseRoots(r.doc))
      .fold(m => throw new IllegalStateException(s"parse: $m"), identity)
    val secured =
      if (r.role == "admin") roots
      else tr.span(op, "api.Permissions.secure_ms")(secure(roots, r.role))
    val dfs = tr.span(op, "api.QueryBuilder.compile_ms")(
      GraphQl.runRoots(spark, a.data, secured))
    dfs.map { case (k, df) =>
      tr.span(op, "spark.plan_ms")(df.queryExecution.executedPlan)
      val rows = tr.span(op, "spark.exec_ms")(df.collect())
      (k, rows, df.schema)
    }
  }

  /** Serve the warm-up requests with as many concurrent clients as the
    * timed phase. */
  def warmUp(spark: SparkSession): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cpus)
    try pool.invokeAll(warm.map { r =>
      (() => serve(spark, r, 0L, new Tracer(false))): java.util.concurrent
        .Callable[Seq[(String, Array[Row], StructType)]]
    }.asJava).asScala.foreach(_.get())
    finally pool.shutdown()
  }

  def run(spark: SparkSession, tracer: Tracer, probe: Option[SparkProbe],
      layers: Main.Layers): Seq[Main.Op] = {
    val next = new AtomicLong(0)
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Main.Op]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val clients = (0 until a.cpus).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < a.maxOps) {
          val r = deck((i % deck.size).toInt)
          val op = i + 1
          ops.add(Main.timeOp(op, r.template, r.role) {
            val res =
              if (probe.isDefined)
                SparkProbe.tagged(spark.sparkContext, op)(
                  serve(spark, r, op, tracer))
              else serve(spark, r, op, tracer)
            responses.putIfAbsent(r.id, res)
            val n = res.map(_._2.length.toLong).sum
            (n, n)
          })
          i = next.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    ops.asScala.toSeq.sortBy(_.id)
  }

  /** Write each served request's reply for the DuckDB twin check. */
  def check(spark: SparkSession): Unit = {
    val sb = new StringBuilder
    responses.asScala.toSeq.sortBy(_._1).foreach { case (id, roots) =>
      val n = Main.mapper.createObjectNode()
      n.put("id", id)
      val rs = n.putObject("roots")
      roots.foreach { case (k, rows, schema) =>
        val o = rs.putObject(k)
        val cols = o.putArray("columns")
        schema.fieldNames.foreach(cols.add)
        val arr = o.putArray("rows")
        rows.foreach(r => arr.add(GqlRead.rowJson(r, schema)))
      }
      sb ++= Main.mapper.writeValueAsString(n) + "\n"
    }
    java.nio.file.Files.writeString(a.out.resolve("responses.jsonl"),
      sb.toString)
  }
}

object GqlRead {
  final case class Req(id: Int, template: String, role: String, doc: String)

  /** A collected row as a JSON array of plain values. */
  def rowJson(r: Row, schema: StructType)
      : com.fasterxml.jackson.databind.node.ArrayNode = {
    val arr = Main.mapper.createArrayNode()
    schema.fields.indices.foreach { i =>
      r.get(i) match {
        case null => arr.addNull()
        case v: java.lang.Long => arr.add(v.longValue)
        case v: java.lang.Integer => arr.add(v.intValue)
        case v: java.lang.Short => arr.add(v.intValue)
        case v: java.lang.Double => arr.add(v.doubleValue)
        case v: java.lang.Float => arr.add(v.doubleValue)
        case v: java.math.BigDecimal => arr.add(v)
        case v: java.lang.Boolean => arr.add(v.booleanValue)
        case v: java.sql.Timestamp =>
          arr.add(v.toInstant.toString.replace("T", " ").stripSuffix("Z"))
        case v: java.time.Instant =>
          arr.add(v.toString.replace("T", " ").stripSuffix("Z"))
        case v => arr.add(v.toString)
      }
    }
    arr
  }
}
