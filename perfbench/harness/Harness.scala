package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Queries.Q

/** The benchmark's JVM side. One process runs one workload once:
  * set-up, the timed region, then the output check, and writes one JSON
  * result (plus, when traced, the span file). `perfbench/run.py` builds,
  * launches and reads it; see `perfbench/NOTES.md` for the workloads.
  *
  * Arguments are `--key value` pairs: workload, seed, seconds, trace,
  * data, work, out, spans, cpus, launch-ms, fingerprints, mode, and for
  * the stream rate, tick-ms, window.
  */
object Harness {

  final case class Entry(q: Q, family: String) { def name: String = q.name }

  /** The eight family files behind the four catalog `all`s, in order. */
  val familyFiles: Seq[(String, Seq[Q])] = Seq(
    "Queries" -> graft.Queries.all, "TpchQueries" -> graft.TpchQueries.all,
    "SupersetQueries" -> graft.SupersetQueries.all,
    "XDedupQueries" -> graft.XDedupQueries.all,
    "XSimilarityQueries" -> graft.XSimilarityQueries.all,
    "XTextQueries" -> graft.XTextQueries.all,
    "XMixtureQueries" -> graft.XMixtureQueries.all,
    "XPipelineQueries" -> graft.XPipelineQueries.all)

  /** The `catalog` workload's entries, tagged with the family file that
    * owns them (the `family.*_ms` per-layer metrics): every 4th entry of
    * each of the eight family files behind `Queries.all`,
    * `TpchQueries.all`, `SupersetQueries.all` and `ExtensionQueries.all`,
    * 44 of their 169. The stride is a time budget, not a choice of
    * entries: one run over all 169 (a cold pass plus one warm pass) takes
    * about 160 s on a 4-core host, and the benchmark's 48 runs must fit in
    * under an hour together with the stream's. It keeps every family file,
    * and an entry that builds and then reads the near-dup pair memo (x38).
    */
  def entries: Seq[Entry] = {
    require(familyFiles.drop(3).flatMap(_._2).map(_.name) == graft.ExtensionQueries.all.map(_.name),
      "ExtensionQueries.all is no longer the five family files; update perfbench")
    familyFiles.flatMap { case (f, qs) =>
      qs.zipWithIndex.collect { case (q, i) if i % 4 == 0 => Entry(q, f) }
    }
  }

  final class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
  }

  /** Result of one run; `metrics` holds every metric the run measured. */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      failures: Seq[String], metrics: Seq[(String, Double)], info: Seq[(String, String)] = Nil) {
    def json(workload: String, trace: Boolean): String = Json.obj(Seq(
      "workload" -> Json.str(workload), "trace" -> trace.toString,
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(info)))
  }

  def session(cpus: Int, work: String): SparkSession = {
    // Built through graft.Engine, so the SQL extensions and guardrails are
    // installed as users get them; on top only graft.Bench's overrides,
    // plus paths that keep every file the run writes inside `work`.
    val spark = graft.Engine.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val workload = a("workload")
    val trace = a("trace") == "1"
    val spark = session(a.int("cpus"), a("work"))
    val spans = mutable.ArrayBuffer.empty[Span]
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    try {
      val result = a.get("mode").getOrElse("bench") match {
        case "bench" if workload == "stream-flagship" =>
          new StreamWorkload(spark, a, tracer, spans).run()
        case "bench" => new BatchWorkload(spark, a, entries, tracer, spans).run()
        case "record" => new BatchWorkload(spark, a, entries, None, spans).record(a("verify-out"))
        case "calibrate" => new StreamWorkload(spark, a, None, spans).calibrate()
      }
      // the traced run's own end-to-end figures, for the tracing overhead
      val m = result.metrics.toMap
      val withOverhead = if (!trace) result else result.copy(metrics = result.metrics ++
        Seq("pass_s", "latency_p50_ms").flatMap(k => m.get(k).map(v => s"trace.$k" -> v)))
      write(a("out"), withOverhead.json(workload, trace))
      a.get("spans").filter(_ => trace).foreach(p => write(p, Json.arr(spans.toSeq.map(_.json))))
    } finally spark.stop()
  }

  def write(path: String, s: String): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.writeString(tmp, s + "\n")
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Seconds since the launcher started this process. */
  def sinceLaunchS(a: Args): Double = (System.currentTimeMillis() - a.dbl("launch-ms")) / 1000.0

  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}
