package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output fingerprint: row count plus the sum of a
  * 64-bit hash per row. Doubles and floats are hashed after formatting to
  * nine significant digits, so a last-bit difference from a different
  * partial-aggregate merge order does not read as a wrong answer, while
  * any real change of a value does.
  */
object Fingerprint {
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      when(c.isNotNull, struct(st.fields.toIndexedSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def parts(df: DataFrame): (DataFrame, Column, Column) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (named, count(lit(1)).as("rows"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("digest"))
  }

  private def show(rows: Long, digest: java.math.BigDecimal): String =
    s"$rows:${digest.toBigInteger}"

  /** `rows:digest` of `df`'s full output, as its own aggregate query. */
  def of(df: DataFrame): String = {
    val (named, rows, digest) = parts(df)
    val r = named.agg(rows, digest).head()
    show(r.getLong(0), r.getDecimal(1))
  }

  /** `df` with the fingerprint attached as an observation, so the action
    * that forces `df` also computes it; the thunk reads it afterwards.
    */
  def observed(df: DataFrame): (DataFrame, () => String) = {
    val (named, rows, digest) = parts(df)
    val obs = Observation()
    (named.observe(obs, rows, digest), () => {
      val m = obs.get
      show(m("rows").asInstanceOf[Long], m("digest").asInstanceOf[java.math.BigDecimal])
    })
  }
}

/** Quantiles and a minimal JSON writer; the harness has no JSON library
  * on its classpath beyond Spark's, and needs only flat objects.
  */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest percentile with at least ten samples beyond it: p99 of
    * 1,000 samples, p77 of 44.
    */
  def tail(xs: Seq[Double]): Double = quantile(xs, math.max(0.5, 1 - 10.0 / xs.size))

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Heap still live after a full collection, in MiB. Spark frees
    * broadcast and shuffle blocks only when its ContextCleaner sees their
    * owners collected, so the collection repeats, with a pause for the
    * cleaner, until the live heap stops shrinking.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = { Thread.sleep(300); used() }
    var rounds = 0
    while (prev - cur > 1.0 && rounds < 8) {
      prev = cur; Thread.sleep(300); cur = used(); rounds += 1
    }
    math.min(prev, cur)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
