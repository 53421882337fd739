package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session registration for graft's native functions, from one table.
  * Callable directly (`GraftFunctions.register(spark)`) or through the
  * [[GraftExtensions]] `SparkSessionExtensions` hook
  * (`spark.sql.extensions=graft.functions.GraftExtensions`); both
  * expose the same names with the same arity check.
  */
object GraftFunctions {

  /** One native function: SQL name, expression class, argument count
    * and constructor (called only with exactly `arity` children).
    */
  final case class Fn(name: String, cls: Class[_ <: Expression], arity: Int,
      make: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
    def build(children: Seq[Expression]): Expression = {
      if (children.length != arity) throw new IllegalArgumentException(
        s"$name takes exactly $arity argument(s), got ${children.length}")
      make(children)
    }
  }

  val Table: Seq[Fn] = Seq(
    Fn("vector_distance", classOf[VectorDistance], 3, c => VectorDistance(c(0), c(1), c(2))),
    Fn("graft_char_hash", classOf[CharPolyHash], 1, c => CharPolyHash(c(0))),
    Fn("graft_simhash", classOf[SimHash30], 1, c => SimHash30(c(0))),
    Fn("graft_minhash_sig", classOf[MinHashSig], 1, c => MinHashSig(c(0))),
    Fn("graft_intersect_size", classOf[IntersectSize], 2, c => IntersectSize(c(0), c(1))),
    Fn("graft_winnow", classOf[Winnow], 1, c => Winnow(c(0))),
    Fn("graft_lsh_bucket", classOf[LshBucket], 1, c => LshBucket(c(0))),
    Fn("graft_bpe_stats", classOf[BpeStats], 2, c => BpeStats(c(0), c(1))),
    Fn("graft_lsh_bucket_n", classOf[LshBucketN], 2, c => LshBucketN(c(0), c(1))),
    Fn("graft_word_hashes", classOf[WordHashes], 1, c => WordHashes(c(0))),
    Fn("graft_shingles", classOf[ShingleSet], 1, c => ShingleSet(c(0))),
    Fn("graft_char_entropy", classOf[CharEntropy], 1, c => CharEntropy(c(0))))

  /** Idempotent: registers only the table entries the session does not
    * already carry (operators emit these calls and must work in any
    * session, including one built with [[GraftExtensions]]).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Table.filterNot(f => registry.functionExists(f.id))
      .foreach(f => registry.registerFunction(f.id, f.info, f.build _))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.Table.foreach(f => ext.injectFunction((f.id, f.info, f.build _)))
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    ext.injectOptimizerRule(session => new graft.plans.MvRewrite(session))
  }
}
