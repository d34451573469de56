package dwhbench

import graft.api.{GraphQl, QueryBuilder, Subscriptions}
import graft.operators.MarketplaceModel.{MarketplaceEvent, TokenSnapshot}
import graft.streaming.MarketplaceStream
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.streaming.StreamingQuery

/** Closed-loop CDC fold served live: each op feeds one micro-batch of
  * seeded marketplace messages into a MemoryStream and waits for the
  * subscription's push for it. The stream is
  * MarketplaceStream.snapshotStream -> token projection ->
  * Subscriptions.liveQuery serving [[CdcLive.Doc]]. Latency runs from
  * addData until the pushed result has been collected. */
final class CdcLive(a: Main.Args) extends Workload {
  import CdcLive._

  private val req = GraphQl.parse(Doc)
    .fold(m => sys.error(s"subscription document: $m"), identity)
  private val fed = scala.collection.mutable.ArrayBuffer.empty[MarketplaceEvent]
  @volatile private var lastPush: Option[(Long, Array[Row])] = None
  private var ok: Option[Boolean] = None
  private var detail = ""
  private var liveQueryId: java.util.UUID = null

  /** The subscription's input table: one row per changed token. */
  private def tokens(snaps: Dataset[TokenSnapshot]): DataFrame =
    snaps.toDF().select(col("tokenId"),
      col("nft.ownerAddress").as("owner"), col("nft.status").as("status"),
      size(col("offers")).as("n_offers"), size(col("bids")).as("n_bids"))

  private def start(spark: SparkSession, input: MemoryStream[MarketplaceEvent],
      tracer: Tracer, layers: Main.Layers,
      pushes: LinkedBlockingQueue[(Long, Long, Int)]): StreamingQuery =
    Subscriptions.liveQuery(
      tokens(MarketplaceStream.snapshotStream(input.toDS())), req,
      keyCol = "tokenId", seqCol = None) { (bid, df) =>
      val op = SparkProbe.BatchOpBase + bid
      val rows = tracer.span(op, "api.Subscriptions.eval_ms")(df.collect())
      if (tracer.enabled)
        layers.add(op, "api.Subscriptions.rows_pushed", rows.length)
      lastPush = Some((bid, rows))
      pushes.put((bid, System.nanoTime(), rows.length))
    }

  /** The subscription reads the stream only, no table. */
  override def tables: Seq[String] = Nil

  /** Feed WarmBatches batches through a throwaway subscription (JIT,
    * codegen). */
  def warmUp(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[MarketplaceEvent]
    val pushes = new LinkedBlockingQueue[(Long, Long, Int)]()
    val q = start(spark, input, new Tracer(false), new Main.Layers, pushes)
    val gen = new EventGen(a.seed ^ 0x5eed, Tokens)
    try (0 until WarmBatches).foreach { _ =>
      input.addData(gen.batch(BatchSize))
      require(pushes.poll(120, TimeUnit.SECONDS) != null, "warm-up push")
    } finally q.stop()
  }

  def run(spark: SparkSession, tracer: Tracer, probe: Option[SparkProbe],
      layers: Main.Layers): Seq[Main.Op] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[MarketplaceEvent]
    val pushes = new LinkedBlockingQueue[(Long, Long, Int)]()
    val gen = new EventGen(a.seed, Tokens)
    val q = start(spark, input, tracer, layers, pushes)
    liveQueryId = q.id
    probe.foreach(_.liveQueryId = q.id.toString)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val ops = Vector.newBuilder[Main.Op]
    var bid = 0L
    try {
      while (System.nanoTime() < deadline && bid < a.maxOps) {
        val batch = gen.batch(BatchSize)
        val t0 = System.nanoTime()
        input.addData(batch)
        var got: (Long, Long, Int) = null
        while (got == null || got._1 < bid) {
          got = pushes.poll(120, TimeUnit.SECONDS)
          if (got == null) throw new IllegalStateException(
            s"no push for micro-batch $bid within 120 s")
        }
        fed ++= batch
        ops += Main.Op(SparkProbe.BatchOpBase + bid, "batch", "", t0,
          got._2, None, got._3, batch.size)
        bid += 1
      }
    } finally {
      q.processAllAvailable()
      q.stop()
    }
    ops.result()
  }

  /** Adds the live query's progress figures; called after the session has
    * stopped, so the last micro-batches' progress events have arrived. */
  override def sparkLayers(probe: SparkProbe, ops: Seq[Main.Op],
      layers: Main.Layers): Unit = {
    super.sparkLayers(probe, ops, layers)
    probe.progressEvents.filter(_.progress.id == liveQueryId).foreach { e =>
      val pr = e.progress
      val op = SparkProbe.BatchOpBase + pr.batchId
      val d = pr.durationMs
      def dur(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      layers.add(op, "stream.trigger_ms", dur("triggerExecution"))
      layers.add(op, "stream.addBatch_ms", dur("addBatch"))
      layers.add(op, "stream.planning_ms", dur("queryPlanning"))
      layers.add(op, "stream.walCommit_ms", dur("walCommit"))
      pr.stateOperators.headOption.foreach { s =>
        layers.add(op, "state.rows_total", s.numRowsTotal.toDouble)
        layers.add(op, "state.rows_updated", s.numRowsUpdated.toDouble)
        layers.add(op, "state.mem_bytes", s.memoryUsedBytes.toDouble)
      }
    }
  }

  /** The last push must equal QueryBuilder.runRoot over the batch fold of
    * every event fed (the SubscriptionsSpec contract). */
  def check(spark: SparkSession): Unit = {
    import spark.implicits._
    val ref = MarketplaceStream.batchReference(spark, fed.toSeq)
    val want = QueryBuilder.runRoot(
      tokens(spark.createDataset(ref.values.toSeq)), req).collect()
      .map(_.toSeq).toSeq
      .drop(if (a.corruptExpected) 1 else 0) // self-test of this check
    val got = lastPush.map(_._2.map(_.toSeq).toSeq).getOrElse(Nil)
    ok = Some(lastPush.isDefined && got == want)
    if (!ok.get) detail = s"last push ${got.take(3)} != batch fold " +
      s"${want.take(3)} (${got.size} vs ${want.size} rows)"
  }

  override def report(root: com.fasterxml.jackson.databind.node.ObjectNode)
      : Unit = {
    val c = root.putObject("check")
    c.put("ok", ok.getOrElse(false))
    c.put("events_fed", fed.size)
    c.put("rows", lastPush.map(_._2.length).getOrElse(0))
    c.put("detail", detail)
  }
}

object CdcLive {
  val BatchSize = 2000
  val Tokens = 20000
  val WarmBatches = 4
  /** Live subscription: tokens on sale or auction, most contested first. */
  val Doc: String =
    """subscription HotTokens {
      |  tokens(where: {status: {_gte: 1}},
      |         order_by: [{n_bids: desc}, {n_offers: desc}, {tokenId: asc}],
      |         limit: 100) {
      |    tokenId owner status n_offers n_bids
      |  }
      |}""".stripMargin
}
