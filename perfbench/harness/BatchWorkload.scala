package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{Housekeeping, Tables}
import perfbench.Harness.{Args, Entry, Result}

/** `relational` and `pipeline`: one client runs the workload's catalog
  * entries in closed loop, as sequential warmed passes. Each entry is
  * built with its `run` and forced through the `noop` sink inside
  * `Housekeeping.scopedBlocks`, as graft.Bench does.
  */
final class BatchWorkload(spark: SparkSession, a: Args, es: Seq[Entry],
    tracer: Option[Tracer], spans: mutable.ArrayBuffer[Span]) {

  private val dir = a("data")
  private val sc = spark.sparkContext
  private var nextOp = 0L

  /** Per-execution layer numbers of the traced run. */
  final case class Exec(entry: Entry, wallMs: Double, buildMs: Double, actionMs: Double,
      cleanupMs: Double, buildJobs: Int, schemaJobs: Int, actionJobs: Int, stages: Int, barriers: Int,
      blocks: Long, tasks: TaskAgg, catalyst: Array[Double])

  private def nowMs: Double = System.nanoTime() / 1e6

  /** Run one entry untraced; wall ms, or the error. */
  private def runPlain(e: Entry): Either[Throwable, Double] = {
    val t0 = nowMs
    try {
      Housekeeping.scopedBlocks(spark) { Harness.force(e.q.run(spark, dir)) }
      Right(nowMs - t0)
    } catch { case t: Throwable => Left(t) }
  }

  /** Run one entry with job tags per phase and record its spans. */
  private def runTraced(e: Entry, t: Tracer): (Either[Throwable, Double], Option[Exec]) = {
    nextOp += 1
    val op = nextOp
    val bKey = s"$op:build"; val aKey = s"$op:action"
    val before = sc.getPersistentRDDs.keySet
    var barriers = 0; var blocks = 0L
    val us0 = Clock.nowUs
    var usB = us0; var usA = us0
    t.current = bKey
    sc.addJobTag(s"pb:$bKey")
    val res = try {
      Housekeeping.scopedBlocks(spark) {
        try {
          val df = e.q.run(spark, dir)
          usB = Clock.nowUs
          sc.removeJobTag(s"pb:$bKey")
          org.apache.spark.PerfbenchSparkBridge.drainListenerBus(sc)
          t.current = aKey
          sc.addJobTag(s"pb:$aKey")
          Harness.force(df)
          usA = Clock.nowUs
        } finally {
          sc.removeJobTag(s"pb:$bKey"); sc.removeJobTag(s"pb:$aKey")
          if (usA == us0) usA = Clock.nowUs
          if (usB == us0) usB = usA
          val fresh = sc.getPersistentRDDs.keySet -- before
          barriers = fresh.size
          blocks = sc.getRDDStorageInfo.filter(i => fresh(i.id)).map(_.numCachedPartitions.toLong).sum
        }
      }
      Right(())
    } catch { case x: Throwable => Left(x) }
    val usE = Clock.nowUs
    org.apache.spark.PerfbenchSparkBridge.drainListenerBus(sc)
    t.current = ""
    val (bJobs, bCat) = t.take(bKey)
    val (aJobs, aCat) = t.take(aKey)
    var id = 0
    def next(): Int = { id += 1; id }
    val agg = new TaskAgg
    (bJobs ++ aJobs).foreach(_._2.foreach(s => agg.addAll(s.tasks)))
    val cat = bCat.zip(aCat).map { case (x, y) => x + y }
    spans += Span(op, 0, -1, s"entry:${e.name}", us0, usE, Seq(
      "barriers" -> barriers.toDouble, "blocks_dropped" -> blocks.toDouble,
      "failed" -> (if (res.isLeft) 1.0 else 0.0)))
    spans += Span(op, 1, 0, "build", us0, usB, Seq("jobs" -> bJobs.size.toDouble,
      "analysis_ms" -> bCat(0), "optimize_ms" -> bCat(1), "plan_ms" -> bCat(2)))
    id = 3
    spans ++= t.jobSpans(op, 1, bJobs, () => next())
    spans += Span(op, 2, 0, "action", usB, usA, Seq("jobs" -> aJobs.size.toDouble,
      "analysis_ms" -> aCat(0), "optimize_ms" -> aCat(1), "plan_ms" -> aCat(2)))
    spans ++= t.jobSpans(op, 2, aJobs, () => next())
    spans += Span(op, next(), 0, "cleanup", usA, usE)
    val exec = Exec(e, (usE - us0) / 1000.0, (usB - us0) / 1000.0, (usA - usB) / 1000.0,
      (usE - usA) / 1000.0, bJobs.size, bJobs.count(_._1.name.startsWith("parquet at ")), aJobs.size,
      (bJobs ++ aJobs).map(_._2.size).sum, barriers, blocks, agg, cat)
    (res.map(_ => exec.wallMs), Some(exec))
  }

  /** Traced only: every `Tables` loader called once, directly. Returns
    * (ms, jobs) summed over the tables.
    */
  private def probeTables(t: Tracer): (Double, Int) = {
    nextOp += 1
    val op = nextOp
    val loaders: Seq[(String, () => Unit)] = Seq("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "documents", "embeddings").map(n =>
      n -> (() => { Tables.table(spark, dir, n); () })) :+
      ("events" -> (() => { Tables.events(spark, dir); () }))
    val us0 = Clock.nowUs
    var id = 0
    def next(): Int = { id += 1; id }
    var jobs = 0
    for ((n, load) <- loaders) {
      val key = s"$op:$n"
      t.current = key
      sc.addJobTag(s"pb:$key")
      val s0 = Clock.nowUs
      try load() finally sc.removeJobTag(s"pb:$key")
      val s1 = Clock.nowUs
      org.apache.spark.PerfbenchSparkBridge.drainListenerBus(sc)
      val (js, _) = t.take(key)
      jobs += js.size
      val sid = next()
      spans += Span(op, sid, 0, s"table:$n", s0, s1, Seq("jobs" -> js.size.toDouble))
      spans ++= t.jobSpans(op, sid, js, () => next())
    }
    t.current = ""
    val usE = Clock.nowUs
    spans += Span(op, 0, -1, "tables", us0, usE, Seq("jobs" -> jobs.toDouble))
    ((usE - us0) / 1000.0, jobs)
  }

  private def loadFingerprints(): Map[String, String] = {
    val p = java.nio.file.Paths.get(a("fingerprints"))
    if (!java.nio.file.Files.exists(p)) return Map.empty
    // one `name<TAB>rows:digest` line per entry
    java.nio.file.Files.readAllLines(p).asScala.toSeq.filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
  }

  def run(): Result = {
    val rng = new Random(a("seed").toLong)
    val seconds = a.dbl("seconds")
    val failures = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L; var failed = 0L
    // set-up: one untimed pass in catalog order (cold codegen, memo
    // builds) that is also the output check: each entry is forced through
    // the same noop sink with its fingerprint attached as an observation
    val expected = loadFingerprints()
    for (e <- es) {
      attempted += 1
      checked(e) match {
        case Left(x) => failed += 1; failures(e.name) = s"check pass: ${x.getMessage}"
        case Right(got) => expected.get(e.name).filter(_ != got).foreach { want =>
          failed += 1; failures(e.name) = s"output fingerprint $got != recorded $want"
        }
      }
    }
    val setupS = Harness.sinceLaunchS(a)
    val pairBuilds0 = graft.PerfbenchGraftBridge.pairBuilds
    val pairReads0 = graft.PerfbenchGraftBridge.pairReads

    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val execs = mutable.ArrayBuffer.empty[Seq[Exec]]
    val tables = mutable.ArrayBuffer.empty[(Double, Int)]
    var heapMax = 0.0
    var gcMs = 0L
    val t0 = System.nanoTime()
    // passes until `seconds` are used, never starting one that would end
    // past them by the last pass's length; at least one
    while (passWalls.isEmpty ||
        (System.nanoTime() - t0) / 1e9 + passWalls.last <= seconds) {
      tracer.foreach(t => tables += probeTables(t))
      val order = rng.shuffle(es)
      val passExecs = mutable.ArrayBuffer.empty[Exec]
      val gc0 = Stats.gcMillis
      val p0 = nowMs
      for (e <- order) {
        val (r, ex) = tracer match {
          case Some(t) => runTraced(e, t)
          case None => (runPlain(e), None)
        }
        attempted += 1
        ex.foreach(passExecs += _)
        r match {
          case Right(ms) => times.getOrElseUpdate(e.name, mutable.ArrayBuffer.empty) += ms
          case Left(x) => failed += 1; failures(e.name) = String.valueOf(x.getMessage).take(300)
        }
      }
      passWalls += (nowMs - p0) / 1000.0
      gcMs += Stats.gcMillis - gc0
      execs += passExecs.toSeq
      heapMax = math.max(heapMax, Stats.liveHeapMb())
    }
    val pairBuilds1 = graft.PerfbenchGraftBridge.pairBuilds
    val pairReads1 = graft.PerfbenchGraftBridge.pairReads

    val unchecked = es.map(_.name).filterNot(expected.contains)

    val perEntry = es.flatMap(e => times.get(e.name).map(ts => Stats.median(ts.toSeq)))
    // every timed execution is one latency sample
    val samples = times.values.flatten.toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passWalls.toSeq),
      "query_geomean_ms" -> (if (perEntry.isEmpty) 0.0 else Stats.geomean(perEntry)),
      "latency_p50_ms" -> (if (samples.isEmpty) 0.0 else Stats.median(samples)),
      "latency_tail_ms" -> (if (samples.isEmpty) 0.0 else Stats.tail(samples)),
      "live_heap_mb" -> heapMax,
      "error_rate" -> failed.toDouble / attempted)
    val layers = tracer.map(_ => layerMetrics(execs.toSeq, tables.toSeq, gcMs / passWalls.size.toDouble,
      pairBuilds0, pairBuilds1, pairReads0, pairReads1)).getOrElse(Nil)
    Result(failed == 0, attempted, failed,
      failures.toSeq.map { case (k, v) => s"$k: $v" }, e2e ++ layers,
      Seq("passes" -> passWalls.size.toString,
        "pass_walls_s" -> Json.arr(passWalls.toSeq.map(Json.num)),
        "entries" -> es.size.toString,
        "unchecked_entries" -> Json.arr(unchecked.map(Json.str)),
        "entry_median_ms" -> Json.obj(es.flatMap(e =>
          times.get(e.name).map(ts => e.name -> Json.num(Stats.median(ts.toSeq))))),
        "entry_family" -> Json.obj(es.map(e => e.name -> Json.str(e.family)))))
  }

  /** Per-layer metrics: per-pass sums, median over passes. */
  private def layerMetrics(passes: Seq[Seq[Exec]], tables: Seq[(Double, Int)], gcPerPass: Double,
      pb0: Long, pb1: Long, pr0: Long, pr1: Long): Seq[(String, Double)] = {
    def perPass(f: Seq[Exec] => Double): Double = Stats.median(passes.map(f))
    def sum(f: Exec => Double): Double = perPass(_.map(f).sum)
    val all = passes.flatten
    val covered = all.count(x => math.abs(x.buildMs + x.actionMs + x.cleanupMs - x.wallMs) <= 0.1 * x.wallMs)
    Seq(
      "Tables.build_ms" -> Stats.median(tables.map(_._1)),
      "Tables.build_jobs" -> Stats.median(tables.map(_._2.toDouble)),
      "catalog.build_ms" -> sum(_.buildMs),
      "catalog.build_jobs" -> sum(_.buildJobs.toDouble),
      // build-time jobs that are parquet footer (schema) reads
      "catalog.build_schema_jobs" -> sum(_.schemaJobs.toDouble),
      "catalog.barriers" -> sum(_.barriers.toDouble),
      "catalyst.analysis_ms" -> sum(_.catalyst(0)),
      "catalyst.optimize_ms" -> sum(_.catalyst(1)),
      "catalyst.plan_ms" -> sum(_.catalyst(2)),
      "action.exec_ms" -> sum(_.actionMs),
      "scheduler.jobs" -> sum(x => (x.buildJobs + x.actionJobs).toDouble),
      "scheduler.stages" -> sum(_.stages.toDouble),
      "scheduler.tasks" -> sum(_.tasks.tasks.toDouble),
      "executor.run_ms" -> sum(_.tasks.runMs.toDouble),
      "executor.cpu_ms" -> sum(_.tasks.cpuNs / 1e6),
      "executor.gc_ms" -> sum(_.tasks.gcMs.toDouble),
      "executor.slot_util" -> perPass(p => p.map(_.tasks.runMs.toDouble).sum /
        math.max(1.0, p.map(x => x.buildMs + x.actionMs).sum * sc.defaultParallelism)),
      "scan.input_bytes" -> sum(_.tasks.inputBytes.toDouble),
      "shuffle.write_bytes" -> sum(_.tasks.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> sum(_.tasks.shuffleRead.toDouble),
      "shuffle.fetch_wait_ms" -> sum(_.tasks.fetchWaitMs.toDouble),
      "spill.disk_bytes" -> sum(_.tasks.spillDisk.toDouble),
      "Housekeeping.cleanup_ms" -> sum(_.cleanupMs),
      "Housekeeping.blocks_dropped" -> sum(_.blocks.toDouble),
      "ExtensionQueries.pair_builds_setup" -> pb0.toDouble,
      "ExtensionQueries.pair_builds_timed" -> (pb1 - pb0).toDouble,
      "ExtensionQueries.pair_reads_setup" -> pr0.toDouble,
      "ExtensionQueries.pair_reads_timed" -> (pr1 - pr0).toDouble,
      "jvm.gc_ms" -> gcPerPass,
      "trace.coverage_share" -> covered.toDouble / math.max(1, all.size)) ++
      Harness.familyFiles.map(_._1).map(f => s"family.${f}_ms" -> sum(x => if (x.entry.family == f) x.wallMs else 0.0))
  }

  /** Force `e` through the noop sink once with its output fingerprint
    * observed; the fingerprint, or the error.
    */
  private def checked(e: Entry): Either[Throwable, String] =
    try Right(Housekeeping.scopedBlocks(spark) {
      val (df, fp) = Fingerprint.observed(e.q.run(spark, dir))
      Harness.force(df)
      fp()
    }) catch { case t: Throwable => Left(t) }

  /** The `record` mode: fingerprint the per-entry parquet outputs that
    * graft.Verify wrote, i.e. the outputs tools/check_oracle.py compares
    * with DuckDB, into the fingerprints file.
    */
  def record(verifyOut: String): Result = {
    val lines = es.filter(e => new java.io.File(s"$verifyOut/${e.name}").isDirectory).map { e =>
      s"${e.name}\t${Fingerprint.of(spark.read.parquet(s"$verifyOut/${e.name}"))}"
    }
    Harness.write(a("fingerprints"), lines.mkString("\n"))
    Result(true, lines.size max 1, 0, Nil, Nil)
  }
}
