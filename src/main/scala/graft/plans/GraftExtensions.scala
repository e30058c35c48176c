package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.{IDot, ISqDist, KmvSketchAgg, MinHashSig, PHash48, RollingHash, ShingleArray, SimHash60, SortedIntersectCount}

/** Engine SQL surface: registers graft's native expressions so plain
  * `spark.sql("SELECT graft_rolling_hash(text) ...")` works.
  *
  * Use either as a session extension
  * (`--conf spark.sql.extensions=graft.plans.GraftExtensions`) or
  * imperatively via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(PlanGuardRule)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private def long(e: Expression): Long =
    e.eval().asInstanceOf[Number].longValue()
  private def int(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  /** Every graft SQL function, once: both [[GraftExtensions.apply]] and
    * [[register]] iterate this table. `graft_bloom_agg` and
    * `graft_might_contain` expose Spark's own runtime-filter Bloom
    * expressions, which Spark registers under no public SQL name. */
  private val functions = Seq(
    fn("graft_rolling_hash", classOf[RollingHash]) { e =>
      if (e.length == 2) RollingHash(e.head, long(e(1)))
      else new RollingHash(e.head)
    },
    fn("graft_shingles", classOf[ShingleArray]) { e =>
      ShingleArray(e.head, int(e(1)),
        if (e.length >= 3) e(2).eval().asInstanceOf[Boolean] else true)
    },
    fn("graft_simhash", classOf[SimHash60])(e => SimHash60(e.head)),
    fn("graft_minhash", classOf[MinHashSig])(e =>
      MinHashSig(e.head, int(e(1)), int(e(2)))),
    fn("graft_idot", classOf[IDot])(e => IDot(e.head, e(1))),
    fn("graft_isqdist", classOf[ISqDist])(e => ISqDist(e.head, e(1))),
    fn("graft_phash", classOf[PHash48])(e => PHash48(e.head)),
    fn("graft_kmv", classOf[KmvSketchAgg])(e =>
      KmvSketchAgg(e.head, int(e(1)))),
    fn("graft_icount", classOf[SortedIntersectCount])(e =>
      SortedIntersectCount(e.head, e(1))),
    // (value, estimatedNumItems, numBits): sizes are clamped by
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems / maxNumBits.
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(e =>
      new BloomFilterAggregate(e.head, e(1), e(2))),
    // (bloom, value): the bloom may be a scalar subquery.
    fn("graft_might_contain", classOf[BloomFilterMightContain])(e =>
      BloomFilterMightContain(e.head, e(1))))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit = functions.foreach {
    case (id, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, build, "built-in")
  }
}
