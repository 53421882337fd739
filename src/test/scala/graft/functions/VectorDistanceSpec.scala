package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.expr

class VectorDistanceSpec extends SparkSpec {

  private def eval1(sql: String): Any = {
    GraftFunctions.register(spark)
    spark.sql(s"SELECT $sql AS v").head().get(0)
  }

  test("cosine distance of identical vectors is 0") {
    val d = eval1("vector_distance(array(1.0D, 2.0D), array(1.0D, 2.0D), 'COSINE')")
      .asInstanceOf[Double]
    assert(math.abs(d) < 1e-15)
  }

  test("cosine of orthogonal vectors is 1") {
    assert(eval1("vector_distance(array(1.0D, 0.0D), array(0.0D, 1.0D), 'COSINE')") == 1.0)
  }

  test("euclidean") {
    assert(eval1("vector_distance(array(0.0D, 0.0D), array(3.0D, 4.0D), 'EUCLIDEAN')") == 5.0)
  }

  test("dot product distance is negative dot (BQ semantics)") {
    assert(eval1("vector_distance(array(1.0D, 2.0D), array(3.0D, 4.0D), 'DOT_PRODUCT')") == -11.0)
  }

  test("null in, null out") {
    assert(eval1("vector_distance(cast(null as array<double>), array(1.0D), 'COSINE')") == null)
  }

  test("invalid metric rejected at analysis") {
    GraftFunctions.register(spark)
    intercept[Exception] {
      spark.sql("SELECT vector_distance(array(1.0D), array(1.0D), 'MANHATTAN')").head()
    }
  }

  test("codegen and interpreted paths agree on a dataframe column") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val viaExpr = df.select(expr("vector_distance(a, b, 'COSINE')")).head().getDouble(0)
    val dot = 1 * 4 + 2 * 5 + 3 * 6.0
    val want = 1.0 - dot / (math.sqrt(1 + 4 + 9.0) * math.sqrt(16 + 25 + 36.0))
    assert(viaExpr == want)
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("every table function rejects a wrong argument count, naming itself") {
    GraftFunctions.register(spark)
    for (f <- GraftFunctions.Table; n <- Seq(f.arity - 1, f.arity + 1) if n >= 0) {
      val args = Seq.fill(n)("'x'").mkString(", ")
      val e = intercept[Exception](spark.sql(s"SELECT ${f.name}($args)").collect())
      val msg = messages(e)
      assert(msg.contains(s"${f.name} takes exactly ${f.arity} argument"), msg)
    }
  }

  test("register is idempotent: a second call keeps the registered builders") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    GraftFunctions.register(s)
    val first = GraftFunctions.Table.map(f => reg.lookupFunctionBuilder(f.id))
    assert(first.forall(_.isDefined))
    GraftFunctions.register(s)
    GraftFunctions.Table.map(f => reg.lookupFunctionBuilder(f.id)).zip(first)
      .foreach { case (again, b) => assert(again.get eq b.get) }
  }

  test("the extension path exposes the same functions, with the same arity check") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: (FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = injected += f
    })
    assert(injected.map(_._1.funcName) == GraftFunctions.Table.map(_.name))
    injected.zip(GraftFunctions.Table).foreach { case ((_, info, build), f) =>
      assert(info.getClassName == f.cls.getName)
      val e = intercept[IllegalArgumentException](build(Nil))
      assert(e.getMessage.contains(s"${f.name} takes exactly ${f.arity}"), e.getMessage)
    }
  }
}
