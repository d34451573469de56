package dwhbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** One cold pass, in name order, over every [[RegistrySweep.KeyStride]]-th
  * key of the name-sorted `SparkEntry.queries`. The order is fixed, not
  * seeded: in a cold pass the first key to need a shared fixture pays its
  * build, so a seeded order moves cost between keys from run to run. An op
  * builds the key's DataFrame, plans it and collects it in full. After the
  * pass the results are written to `<out>/registry/<key>` for the DuckDB
  * oracle check, and `oracle_sql.json` carries `SparkEntry.oracleSql`. */
final class RegistrySweep(a: Main.Args) extends Workload {
  private val keys = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
    .collect { case (kv, i) if i % RegistrySweep.KeyStride == 0 => kv }
    .take(a.maxOps)

  def warmUp(spark: SparkSession): Unit = ()

  private val results = scala.collection.mutable.ArrayBuffer.empty[
    (String, Array[Row], StructType)]

  def run(spark: SparkSession, tracer: Tracer, probe: Option[SparkProbe],
      layers: Main.Layers): Seq[Main.Op] = {
    val sc = spark.sparkContext
    keys.zipWithIndex.map { case ((name, fn), i) =>
      val op = i + 1L
      def body: (Long, Long) = {
        val df = tracer.span(op, "registry.build_ms")(fn(spark, a.data))
        tracer.span(op, "spark.plan_ms")(df.queryExecution.executedPlan)
        val rows = tracer.span(op, "spark.exec_ms")(df.collect())
        results += ((name, rows, df.schema))
        (rows.length.toLong, rows.length.toLong)
      }
      val o = Main.timeOp(op, name, "") {
        if (probe.isDefined) SparkProbe.tagged(sc, op)(body) else body
      }
      if (tracer.enabled)
        layers.add(op, "cache.persisted_rdds", sc.getPersistentRDDs.size)
      o
    }
  }

  def check(spark: SparkSession): Unit = {
    results.foreach { case (name, rows, schema) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite")
        .parquet(a.out.resolve("registry").resolve(name).toString)
    }
    val n = Main.mapper.createObjectNode()
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) =>
      n.put(k, v) }
    java.nio.file.Files.writeString(a.out.resolve("oracle_sql.json"),
      Main.mapper.writeValueAsString(n))
  }
}

object RegistrySweep {
  /** A full cold pass (237 keys) takes minutes; one key in eight fits a
    * run. */
  val KeyStride = 8
}
