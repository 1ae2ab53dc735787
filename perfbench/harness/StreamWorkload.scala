package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.Tables
import graft.streaming.{OrderEvent, PaymentEvent, Sinks, Sources, Topologies}
import perfbench.Harness.{Args, Result}

/** `stream-flagship`: `Topologies.paidOrders` over two
  * `Sources.memoryStream` inputs into `Sinks.toParquet`, default
  * (as-soon-as-possible) trigger. A generator thread feeds it open loop:
  * tick k is due at `start + (k + jitter_k) * tick`, whatever the stream
  * is doing, and carries the next slice of one event-time-ordered replay
  * of both sources. A tick's latency runs from its due time to the commit
  * of the micro-batch that consumed its last row.
  */
final class StreamWorkload(spark: SparkSession, a: Args, tracer: Option[Tracer],
    spans: mutable.ArrayBuffer[Span]) {
  import spark.implicits._

  private val dir = a("data")
  private val window = a.get("window").getOrElse("45 days")
  private val work = s"${a("work")}/stream"

  /** Progress of every micro-batch of every query this run starts. */
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  })

  // sf tables mapped into the reference record shapes as StreamingScaleSpec
  // does: orders by user; lineitems as payments keyed by order, PAID when
  // the return flag is N
  private lazy val ordersDf = Tables.orders(spark, dir).select(
    col("o_orderkey").cast("string").as("orderId"),
    col("o_custkey").cast("string").as("user"),
    array().cast("array<string>").as("products"),
    col("o_totalprice").as("amount"),
    col("o_orderdate").cast("timestamp").as("ts"))
  private lazy val paymentsDf = Tables.lineitem(spark, dir).select(
    col("l_orderkey").cast("string").as("orderId"),
    when(col("l_returnflag") === "N", "PAID").otherwise("PENDING").as("status"),
    col("l_shipdate").cast("timestamp").as("ts"))
  private lazy val profiles = Tables.customer(spark, dir).select(
    col("c_custkey").cast("string").as("user"), col("c_mktsegment").as("profile"))
  private lazy val discounts = Tables.discounts(spark).withColumnRenamed("factor", "amount")

  /** One replay of both sources, merged in event-time order, repeated
    * with every key and event time shifted per cycle (orderId gets a
    * `#cycle` suffix; times move past the previous cycle's end by more
    * than the join window) until it holds `rows` rows.
    */
  private lazy val base: IndexedSeq[Either[OrderEvent, PaymentEvent]] = {
    val os = ordersDf.as[OrderEvent].collect()
    val ps = paymentsDf.as[PaymentEvent].collect()
    (os.map(Left(_)) ++ ps.map(Right(_))).toIndexedSeq.sortBy {
      case Left(o) => (o.ts.getTime, 0, o.orderId)
      case Right(p) => (p.ts.getTime, 1, p.orderId)
    }
  }

  private def replay(rows: Int): IndexedSeq[Either[OrderEvent, PaymentEvent]] = {
    def ts(e: Either[OrderEvent, PaymentEvent]) = e.fold(_.ts.getTime, _.ts.getTime)
    val period = ts(base.last) - ts(base.head) + 100L * 86400000L
    Iterator.from(0).flatMap { c =>
      val shift = c * period
      def t(x: java.sql.Timestamp) = new java.sql.Timestamp(x.getTime + shift)
      base.iterator.map {
        case Left(o) if c > 0 => Left(o.copy(orderId = s"${o.orderId}#$c", ts = t(o.ts)))
        case Right(p) if c > 0 => Right(p.copy(orderId = s"${p.orderId}#$c", ts = t(p.ts)))
        case e => e
      }
    }.take(rows).toIndexedSeq
  }

  final case class Tick(k: Int, orders: Seq[OrderEvent], payments: Seq[PaymentEvent]) {
    def rows: Int = orders.size + payments.size
  }

  private def ticksOf(events: IndexedSeq[Either[OrderEvent, PaymentEvent]], n: Int): IndexedSeq[Tick] = {
    val per = events.size.toDouble / n
    (0 until n).map { k =>
      val slice = events.slice((k * per).toInt, ((k + 1) * per).toInt)
      Tick(k, slice.collect { case Left(o) => o }, slice.collect { case Right(p) => p })
    }
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  /** Start the flagship query on fresh memory streams, sink and checkpoint. */
  private def start(name: String) = {
    rm(new java.io.File(s"$work/$name"))
    val (oms, oDf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pDf) = Sources.memoryStream[PaymentEvent](spark)
    val q = Sinks.toParquet(Topologies.paidOrders(oDf, pDf, profiles, discounts, window),
      s"$work/$name/out", s"$work/$name/ckpt").start()
    (oms, pms, q)
  }

  private def offset(o: org.apache.spark.sql.execution.streaming.Offset): Long = o.json().toLong
  private def endOffset(p: StreamingQueryProgress, payments: Boolean): Long =
    p.sources.find(_.description.contains("status") == payments)
      .flatMap(s => Option(s.endOffset)).filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
  private def commitUs(p: StreamingQueryProgress): Long =
    (java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration) * 1000L

  private def batchesOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.id == q.id).toSeq.sortBy(_.batchId)

  /** Wait until `q` committed offsets (o, p), or `timeoutS` passed. */
  private def awaitCommitted(q: StreamingQuery, o: Long, p: Long, timeoutS: Double): Boolean = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    def done = batchesOf(q).exists(b => endOffset(b, false) >= o && endOffset(b, true) >= p)
    while (!done && System.nanoTime() < end && q.isActive) Thread.sleep(5)
    done
  }

  final case class Sent(k: Int, dueUs: Long, sentUs: Long, oReq: Long, pReq: Long, rows: Int)

  /** The open-loop generator: sends every tick at its due time. */
  private def feed(ticks: Seq[Tick], oms: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OrderEvent],
      pms: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PaymentEvent],
      startUs: Long, tickUs: Double, jitter: Int => Double): Seq[Sent] = {
    val sent = mutable.ArrayBuffer.empty[Sent]
    val gen = new Thread(() => {
      var o = -1L; var p = -1L
      for (t <- ticks) {
        val due = startUs + ((t.k + jitter(t.k)) * tickUs).toLong
        var now = Clock.nowUs
        while (now < due) { LockSupport.parkNanos((due - now) * 1000L); now = Clock.nowUs }
        if (t.orders.nonEmpty) o = offset(oms.addData(t.orders))
        if (t.payments.nonEmpty) p = offset(pms.addData(t.payments))
        sent += Sent(t.k, due, now, o, p, t.rows)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    sent.toSeq
  }

  def run(): Result = {
    val seconds = a.dbl("seconds")
    val rate = a.dbl("rate")
    val tickMs = a.dbl("tick-ms")
    // a 3 s lead-in on the same schedule and query, not measured, so the
    // measured ticks meet the stream in its steady state rather than the
    // backlog of its first, slower micro-batches
    val lead = math.round(3000 / tickMs).toInt
    val nTicks = lead + math.round(seconds * 1000 / tickMs).toInt
    val rng = new Random(a("seed").toLong)
    val jit = Array.fill(nTicks)(rng.nextDouble() * 0.5)
    val ticks = ticksOf(replay((rate * nTicks * tickMs / 1000).toInt), nTicks)

    // set-up: a closed-loop warm-up stream (codegen, state store classes),
    // then the measured query started on fresh streams
    val warm = ticksOf(replay((rate * 2).toInt), 2)
    val (wo, wp, wq) = start("warmup")
    try warm.foreach { t =>
      if (t.orders.nonEmpty) wo.addData(t.orders)
      if (t.payments.nonEmpty) wp.addData(t.payments)
      wq.processAllAvailable()
    } finally wq.stop()

    val (oms, pms, q) = start("run")
    val startUs = Clock.nowUs + 300000L
    val firstDueUs = startUs + ((lead + jit(lead)) * tickMs * 1000).toLong
    val setupS = Harness.sinceLaunchS(a) + (firstDueUs - Clock.nowUs) / 1e6
    val gc0 = Stats.gcMillis
    val sentAll = feed(ticks, oms, pms, startUs, tickMs * 1000, jit)
    val sent = sentAll.drop(lead)
    val last = sent.last
    val drained = awaitCommitted(q, last.oReq, last.pReq, 60)
    val gcMs = Stats.gcMillis - gc0
    q.stop()
    // after stop: no micro-batch in flight, state stores still loaded
    val heap = Stats.liveHeapMb()
    tracer.foreach(_ => org.apache.spark.PerfbenchSparkBridge.drainListenerBus(spark.sparkContext))
    val batches = batchesOf(q)

    // per tick: the first batch whose end offsets cover the tick
    val lat = mutable.ArrayBuffer.empty[Double]
    var bi = 0
    var lastCommit = firstDueUs
    var committedRows = 0L
    var failedTicks = 0L
    for (s <- sentAll) {
      while (bi < batches.size && !(endOffset(batches(bi), false) >= s.oReq &&
          endOffset(batches(bi), true) >= s.pReq)) bi += 1
      if (s.k < lead) ()
      else if (bi < batches.size) {
        val c = commitUs(batches(bi))
        lat += (c - s.dueUs) / 1000.0
        lastCommit = math.max(lastCommit, c)
        committedRows += s.rows
      } else failedTicks += 1
    }

    // output check: the sink's final contents equal, as a multiset, the
    // batch application of the same topology to the replayed input
    val sentOrders = ticks.flatMap(_.orders).toDS().toDF()
    val sentPayments = ticks.flatMap(_.payments).toDS().toDF()
    val batch = Topologies.paidOrders(sentOrders, sentPayments, profiles, discounts, window)
    val streamed = spark.read.parquet(s"$work/run/out")
    def counted(df: DataFrame) = df.groupBy(df.columns.map(col).toIndexedSeq: _*).count()
    val sinkRows = streamed.count()
    val fixpoint = drained && counted(streamed).exceptAll(counted(batch)).isEmpty &&
      counted(batch).exceptAll(counted(streamed)).isEmpty
    val failed = if (fixpoint) failedTicks else sent.size.toLong
    val failures = (if (!drained) Seq(s"$failedTicks of ${sent.size} ticks never committed") else Nil) ++
      (if (!fixpoint) Seq("stream sink differs from the batch fixpoint") else Nil)

    val dataBatches = batches.filter(b => b.numInputRows > 0 && commitUs(b) > firstDueUs)
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> (lastCommit - firstDueUs) / 1e6,
      "query_geomean_ms" -> Stats.geomean(dataBatches.map(_.batchDuration.toDouble)),
      "latency_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat.toSeq)),
      "latency_tail_ms" -> (if (lat.isEmpty) 0.0 else Stats.tail(lat.toSeq)),
      "live_heap_mb" -> heap,
      "error_rate" -> failed.toDouble / sent.size)
    val layers = tracer.map(t => layerMetrics(t, batches.filter(b => commitUs(b) > firstDueUs),
      sent, gcMs, committedRows, (lastCommit - firstDueUs) / 1e6, sinkRows)).getOrElse(Nil)
    Result(failed == 0, sent.size, failed, failures, e2e ++ layers, Seq(
      "ticks" -> sent.size.toString, "batches" -> batches.size.toString,
      "data_batches" -> dataBatches.size.toString,
      "offered_rows_per_s" -> Json.num(rate), "rows_sent" -> sent.map(_.rows).sum.toString,
      "rows_committed" -> committedRows.toString,
      "progress" -> Json.arr(batches.map(_.json))))
  }

  private def layerMetrics(t: Tracer, batches: Seq[StreamingQueryProgress], sent: Seq[Sent],
      gcMs: Long, committedRows: Long, runS: Double, sinkRows: Long): Seq[(String, Double)] = {
    val data = batches.filter(_.numInputRows > 0)
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // one root span per micro-batch, its durationMs phases and jobs under it
    for (p <- batches) {
      val op = 1000000L + p.batchId
      val endUs = commitUs(p)
      val beginUs = endUs - p.batchDuration * 1000L
      var id = 0
      def next(): Int = { id += 1; id }
      spans += Span(op, 0, -1, s"batch:${p.batchId}", beginUs, endUs,
        Seq("input_rows" -> p.numInputRows.toDouble))
      // the phases in the order a micro-batch runs them; its jobs run
      // inside addBatch
      var at = beginUs
      var addBatch = 0
      for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")) {
        val id = next()
        if (k == "addBatch") addBatch = id
        val end = at + (dur(k)(p) * 1000).toLong
        spans += Span(op, id, 0, k, at, end)
        at = end
      }
      val (jobs, _) = t.take(s"batch:${p.id}:${p.batchId}")
      spans ++= t.jobSpans(op, addBatch, jobs, () => next())
    }
    val states = batches.flatMap(_.stateOperators)
    // backlog at each send: rows sent so far minus rows committed by then
    val commits = batches.map(b => (commitUs(b), endOffset(b, false), endOffset(b, true)))
    val backlog = sent.map { s =>
      val done = commits.filter(_._1 <= s.sentUs)
      val (o, p) = if (done.isEmpty) (-1L, -1L) else (done.map(_._2).max, done.map(_._3).max)
      sent.filter(x => x.k <= s.k && !(x.oReq <= o && x.pReq <= p)).map(_.rows).sum.toDouble
    }
    Seq(
      "stream.batches" -> data.size.toDouble,
      "stream.batch_ms_p50" -> (if (data.isEmpty) 0.0 else Stats.median(data.map(_.batchDuration.toDouble))),
      "stream.queryPlanning_ms" -> mean(data.map(dur("queryPlanning"))),
      "stream.addBatch_ms" -> mean(data.map(dur("addBatch"))),
      "stream.walCommit_ms" -> mean(data.map(dur("walCommit"))),
      "stream.commitOffsets_ms" -> mean(data.map(dur("commitOffsets"))),
      "stream.latestOffset_ms" -> mean(data.map(dur("latestOffset"))),
      "stream.rows_per_s" -> committedRows / math.max(runS, 1e-3),
      "state.rows_total_max" -> (if (states.isEmpty) 0.0 else states.map(_.numRowsTotal.toDouble).max),
      "state.memory_bytes_max" -> (if (states.isEmpty) 0.0 else states.map(_.memoryUsedBytes.toDouble).max),
      "state.rows_updated" -> states.map(_.numRowsUpdated.toDouble).sum,
      "state.rows_dropped_late" -> states.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "state.commit_ms" -> mean(data.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble))),
      // the file sink reports no output count in its progress
      "sink.rows_out" -> sinkRows.toDouble,
      "gen.ticks" -> sent.size.toDouble,
      "gen.late_ms_p99" -> Stats.quantile(sent.map(s => (s.sentUs - s.dueUs) / 1000.0), 0.99),
      "stream.backlog_rows_max" -> backlog.max,
      "jvm.gc_ms" -> gcMs.toDouble)
  }

  /** Closed-loop drain rate: a client that does not wait for due times
    * appends every tick of a run (same rows, same one-partition-per-tick
    * structure) back to back and waits for the commit; rows per second of
    * that drain, median of three. The offered rate is set at about half.
    */
  def calibrate(): Result = {
    val seconds = a.dbl("seconds")
    val nTicks = math.round(seconds * 1000 / a.dbl("tick-ms")).toInt
    val rows = (a.dbl("rate") * seconds).toInt
    val ticks = ticksOf(replay(rows), nTicks)
    val rates = (0 until 3).map { i =>
      val (oms, pms, q) = start(s"calibrate$i")
      try {
        val t0 = System.nanoTime()
        var o = -1L; var p = -1L
        for (t <- ticks) {
          if (t.orders.nonEmpty) o = offset(oms.addData(t.orders))
          if (t.payments.nonEmpty) p = offset(pms.addData(t.payments))
        }
        require(awaitCommitted(q, o, p, 300), "calibration drain did not finish")
        rows / ((System.nanoTime() - t0) / 1e9)
      } finally q.stop()
    }
    Result(true, 1, 0, Nil, Seq("drain_rows_per_s" -> Stats.median(rates)),
      Seq("rates" -> Json.arr(rates.map(Json.num))))
  }
}
