package pystreamsspark.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec
import pystreamsspark.llm.Similarity

class VectorExpressionsSpec extends SparkSpec {

  private def vecs(n: Int, dim: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    (0 until n).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("id", "v")
  }

  test("native vec_dot / vec_cosine are bit-identical to the HOF forms") {
    VectorExpressions.register(spark)
    val df = vecs(200, 64)
    val pairs = df.as("a").crossJoin(df.as("b"))
      .where(col("a.id") < col("b.id")).limit(2000)
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("dot_hof"),
        call_function("vec_dot", col("a.v"), col("b.v")).as("dot_native"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cos_hof"),
        call_function("vec_cosine", col("a.v"), col("b.v")).as("cos_native"))
    val bad = pairs.where(
      col("dot_hof") =!= col("dot_native") || col("cos_hof") =!= col("cos_native"))
    assert(bad.count() === 0)
  }

  test("double-array and mixed float/double inputs are bit-identical to HOF forms") {
    VectorExpressions.register(spark)
    val df = vecs(100, 32)
      .select(col("id"), col("v"),
        transform(col("v"), x => x.cast("double")).as("vd"))
    val pairs = df.as("a").crossJoin(df.as("b"))
      .where(col("a.id") < col("b.id")).limit(1000)
      .select(
        // double x double
        Similarity.cosine(col("a.vd"), col("b.vd")).as("cos_hof_dd"),
        call_function("vec_cosine", col("a.vd"), col("b.vd")).as("cos_nat_dd"),
        // float x double (the kmeans assignment shape)
        Similarity.cosine(col("a.v"), col("b.vd")).as("cos_hof_fd"),
        call_function("vec_cosine", col("a.v"), col("b.vd")).as("cos_nat_fd"),
        Similarity.dot(col("a.vd"), col("b.vd")).as("dot_hof_dd"),
        call_function("vec_dot", col("a.vd"), col("b.vd")).as("dot_nat_dd"))
    val bad = pairs.where(
      col("cos_hof_dd") =!= col("cos_nat_dd") ||
      col("cos_hof_fd") =!= col("cos_nat_fd") ||
      col("dot_hof_dd") =!= col("dot_nat_dd"))
    assert(bad.count() === 0)
  }

  test("native expressions run inside WholeStageCodegen") {
    VectorExpressions.register(spark)
    // range source (not a local relation) so the projection isn't
    // constant-folded away and actually goes through codegen
    val df = spark.range(100)
      .selectExpr("transform(sequence(0, 7), i -> cast(id + i as float)) AS v")
      .select(call_function("vec_dot", col("v"), col("v")).as("d"))
    // the `*(n)` prefix in the plan string marks WholeStageCodegen stages
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(2) Project [vec_dot"), plan)
    assert(df.count() === 100)
  }

  test("interpreted eval path (fallback) matches codegen results") {
    val s = spark
    import s.implicits._
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(0.5f, -1.0f, 2.0f)
    val expected = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val row = org.apache.spark.sql.catalyst.expressions.Literal.create _
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val dotExpr = VecDot(
      Literal.create(a, ArrayType(FloatType)),
      Literal.create(b, ArrayType(FloatType)))
    assert(dotExpr.eval(null) === expected)
    val cosExpr = VecCosine(
      Literal.create(a, ArrayType(FloatType)),
      Literal.create(a, ArrayType(FloatType)))
    assert(math.abs(cosExpr.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("shingle_strings is bit-identical to the HOF Dedup.shingles, edge cases included") {
    VectorExpressions.register(spark)
    val s = spark
    import s.implicits._
    val docs = pystreamsspark.io.Tables
      .documents(spark, "/root/testdata/sf0.01")
      .select($"doc_id", $"text")
      .union(Seq((100001L, ""), (100002L, "one"), (100003L, "one two"),
        (100004L, "  padded   spaces  "), (100005L, "a a a a")).toDF())
    val cmp = docs.select(
        pystreamsspark.llm.Dedup.shingles($"text", 3).as("hof"),
        pystreamsspark.llm.Dedup.shinglesNative(spark, $"text", 3).as("nat"))
      .as[(Seq[String], Seq[String])].collect()
    cmp.foreach { case (hof, nat) => assert(hof == nat) }
  }

  test("sorted_inter_count equals size(array_intersect) on sorted distinct arrays (long + string), codegen and interpreted") {
    VectorExpressions.register(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    // random distinct long sets of varied size, incl. empty and disjoint
    val rows = (0 until 500).map { i =>
      val na = rnd.nextInt(40)
      val nb = rnd.nextInt(40)
      val pool = (0 until 60).map(_ => rnd.nextInt(80).toLong)
      (i.toLong, pool.take(na).distinct.sorted.toArray,
        pool.drop(20).take(nb).distinct.sorted.toArray)
    }
    val df = rows.toDF("id", "a", "b")
    val cmp = df.select(
        call_function("sorted_inter_count", col("a"), col("b")).as("m"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .as[(Int, Int)].collect()
    cmp.foreach { case (m, ref) => assert(m === ref) }
    // string variant: array_sort order (UTF8 binary) must agree with the
    // merge comparison
    val sdf = Seq(
        (Array("a", "b", "ch", "zz"), Array("b", "ch", "x")),
        (Array.empty[String], Array("a")),
        (Array("é", "a"), Array("é"))) // non-ASCII
      .toDF("a", "b")
      .select(array_sort(col("a")).as("a"), array_sort(col("b")).as("b"))
    val scmp = sdf.select(
        call_function("sorted_inter_count", col("a"), col("b")).as("m"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .as[(Int, Int)].collect()
    scmp.foreach { case (m, ref) => assert(m === ref) }
    // interpreted eval path (no codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val e = SortedInterCount(
      Literal.create(Array(1L, 3L, 7L, 9L), ArrayType(LongType)),
      Literal.create(Array(2L, 3L, 9L, 11L), ArrayType(LongType)))
    assert(e.eval(null) === 2)
  }

  test("sorted_inter_count handles null ELEMENTS with array_intersect parity (r15, ADVICE r14 #1)") {
    VectorExpressions.register(spark)
    val s = spark
    import s.implicits._
    // user-SQL shape: schemas admitting null elements (containsNull=true),
    // arrays pre-sorted by array_sort (nulls LAST). Previously the string
    // path NPE'd and the long path read a null slot as 0L.
    val rows = Seq(
      (Seq[java.lang.Long](1L, 3L, null), Seq[java.lang.Long](3L, null)),
      (Seq[java.lang.Long](1L, 2L, null), Seq[java.lang.Long](3L, 4L)),
      (Seq[java.lang.Long](null), Seq[java.lang.Long](null)),
      (Seq[java.lang.Long](0L), Seq[java.lang.Long](null)),
      (Seq.empty[java.lang.Long], Seq[java.lang.Long](null)))
    val df = rows.toDF("a", "b")
      .select(array_sort($"a").as("a"), array_sort($"b").as("b"))
    val cmp = df.select(
        call_function("sorted_inter_count", $"a", $"b").as("m"),
        size(array_intersect($"a", $"b")).as("ref"))
      .as[(Int, Int)].collect()
    cmp.foreach { case (m, ref) => assert(m === ref) }
    // string path (previously an NPE on the first null element)
    val sdf = Seq(
        (Seq[String]("a", "b", null), Seq[String]("b", null)),
        (Seq[String](null), Seq[String]("x")))
      .toDF("a", "b")
      .select(array_sort($"a").as("a"), array_sort($"b").as("b"))
    val scmp = sdf.select(
        call_function("sorted_inter_count", $"a", $"b").as("m"),
        size(array_intersect($"a", $"b")).as("ref"))
      .as[(Int, Int)].collect()
    scmp.foreach { case (m, ref) => assert(m === ref) }
    // interpreted path with nulls
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val e = SortedInterCount(
      Literal.create(Seq[java.lang.Long](1L, 3L, null),
        ArrayType(LongType, containsNull = true)),
      Literal.create(Seq[java.lang.Long](3L, null),
        ArrayType(LongType, containsNull = true)))
    assert(e.eval(null) === 2) // 3 matches, null-in-both matches
  }

  test("GraftExtensions injects SQL functions at session build") {
    val ext = SparkSession.builder()
      .master("local[2]")
      .appName("ext-test")
      .config("spark.sql.extensions", "pystreamsspark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may return the shared session (extensions only apply to
    // a NEW session); register covers that case — but when this runs
    // first in its own JVM the injection path is exercised for real.
    VectorExpressions.register(ext)
    val r = ext.sql(
      "SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d")
      .collect()(0).getDouble(0)
    assert(r === 11.0)
  }

  test("a second register replaces nothing in the function registry") {
    VectorExpressions.register(spark)
    val registry = spark.sessionState.functionRegistry
    def infos = VectorExpressions.functions.map { case (name, _, _) =>
      registry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get }
    val before = infos
    VectorExpressions.register(spark)
    // a replacing registration builds a fresh ExpressionInfo per name
    assert(infos.zip(before).forall { case (a, b) => a eq b })
  }
}
