package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The session front door: configs-as-data and function availability. */
class EngineSpec extends SparkSpec {

  test("sessionConfigs pin the cross-engine determinism and extension settings") {
    assert(Engine.sessionConfigs("spark.sql.session.timeZone") === "UTC")
    assert(Engine.sessionConfigs("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val ext = Engine.sessionConfigs("spark.sql.extensions")
    assert(ext.contains("GraftSparkExtensions") && ext.contains("GraftGuardrails"))
    // the shared test session is built through Engine, so it carries them all
    Engine.sessionConfigs.foreach { case (k, v) => assert(SparkSpec.session.conf.get(k) === v, k) }
  }

  test("session() exposes the SQL function surface even on a pre-existing session") {
    // the shared test session predates this call, so its extensions
    // cannot re-apply: drop a function they injected, and session() must
    // bring it back through programmatic registration
    val registry = spark.sessionState.functionRegistry
    val fn = FunctionIdentifier("quality_score")
    assert(registry.dropFunction(fn))
    assert(!registry.functionExists(fn))
    val s = Engine.session()
    val r = s.sql("SELECT quality_score('A clean, well formed sentence.') AS q")
      .collect()(0)
    assert(!r.isNullAt(0))
    // idempotent: calling again must not throw on re-registration
    Engine.session()
  }
}
