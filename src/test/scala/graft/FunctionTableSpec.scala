package graft

import graft.functions.SetKernelFunctions
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The one function table: `GraftExtensions` injects every graft SQL
  * name, the Column helpers build their expressions without any
  * session's registry, and the SQL builders reject misuse by name.
  */
class FunctionTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("DESCRIBE FUNCTION names the class each injected builder returns") {
    val str = Literal("a b c d e")
    val int = Literal(8)
    val dbl = Literal(0.5)
    val bin = Literal(Array[Byte]())
    val dec = Literal.create(BigDecimal("1.50"), DecimalType(18, 2))
    val dbls = Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))
    val longs = Literal.create(Seq(1L, 2L), ArrayType(LongType))
    val sample: Map[String, Seq[Expression]] = Map(
      "graft_cosine" -> Seq(dbls, dbls), "graft_dot" -> Seq(dbls, dbls),
      "graft_norm2" -> Seq(dbls),
      "graft_top_k" -> Seq(dbl, int, int), "graft_top_k_key" -> Seq(dbl, str, int),
      "graft_kll_sketch" -> Seq(dbl), "graft_kll_union" -> Seq(bin),
      "graft_kll_quantile" -> Seq(bin, dbl),
      "graft_freq_sketch" -> Seq(str), "graft_freq_union" -> Seq(bin),
      "graft_freq_items" -> Seq(bin, int),
      "graft_theta_distinct" -> Seq(str), "graft_theta_sketch" -> Seq(str),
      "graft_theta_union" -> Seq(bin), "graft_theta_union_sketch" -> Seq(bin),
      "graft_minhash_signature" -> Seq(str, int), "graft_shingle_hashes" -> Seq(str),
      "graft_char_ngrams" -> Seq(str, int), "graft_simhash" -> Seq(str),
      "graft_fingerprint" -> Seq(str), "graft_repetition_stats" -> Seq(str),
      "graft_word_tf" -> Seq(str), "graft_text_stats" -> Seq(str),
      "graft_json_long" -> Seq(str, Literal("k")),
      "graft_word_ngram_hashes" -> Seq(str, int), "graft_word_gram_md5" -> Seq(str, int),
      "graft_sorted_intersect_count" -> Seq(longs, longs),
      "graft_decimal_sum" -> Seq(dec), "graft_decimal_sum_product" -> Seq(dec, dec),
      "graft_money" -> Seq(dbl, Literal(18), Literal(2)))
    val names = GraftExtensions.functions.map(_.name)
    assert(names.distinct == names, "a name is injected twice")
    assert(names.toSet == sample.keySet)
    GraftExtensions.functions.foreach { f =>
      val built = f.builder(sample(f.name)) match {
        case ae: AggregateExpression => ae.aggregateFunction
        case e => e
      }
      assert(built.prettyName == f.name)
      val described = spark.sql(s"DESCRIBE FUNCTION ${f.name}").as[String].collect()
      assert(described.contains(s"Class: ${built.getClass.getName}"),
        s"${f.name}: ${described.mkString(" | ")}")
    }
  }

  test("a Column helper resolves on a frame of a second session") {
    val other = spark.newSession()
    val df = other.createDataFrame(Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)))).toDF("a", "b")
    val n = df.select(SetKernelFunctions.sortedIntersectCount(col("a"), col("b")))
      .head().getInt(0)
    assert(n == 2)
  }

  test("an integer literal outside the INT range fails naming function and argument") {
    Seq((0.9, 1L), (0.8, 2L), (0.7, 3L), (0.6, 4L)).toDF("sim", "id")
      .createOrReplaceTempView("wrap_sims")
    // 4294967299 = 2^32 + 3 and 4294967304 = 2^32 + 8 used to wrap to
    // k = 3 and k = 8
    val minhash = intercept[IllegalArgumentException](
      spark.sql("SELECT graft_minhash_signature('a b c d', 4294967304)").collect())
    assert(minhash.getMessage.contains("graft_minhash_signature: k") &&
      minhash.getMessage.contains("4294967304"), minhash.getMessage)
    val topK = intercept[IllegalArgumentException](
      spark.sql("SELECT graft_top_k(sim, id, 4294967299) FROM wrap_sims").collect())
    assert(topK.getMessage.contains("graft_top_k: k") &&
      topK.getMessage.contains("4294967299"), topK.getMessage)
    // a BIGINT literal inside the range is still accepted
    val ok = spark.sql("SELECT graft_top_k(sim, id, CAST(2 AS BIGINT)) FROM wrap_sims")
      .head().getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0))
    assert(ok == Seq(1L, 2L))
  }

  test("optional-argument functions raise WRONG_NUM_ARGS on a bad arity") {
    Seq(1.0, 2.0).toDF("v").createOrReplaceTempView("arity_in")
    Seq(
      "graft_kll_sketch(v, 200, 1)", "graft_theta_sketch(v, 12, 1)",
      "graft_freq_sketch(CAST(v AS STRING), 64, 1)", "graft_freq_union()",
      "graft_top_k(v, 1)"
    ).foreach { call =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call FROM arity_in"))
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$call: ${e.getMessage}")
    }
  }
}
