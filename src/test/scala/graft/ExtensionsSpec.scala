package graft

/** Graft native functions must be usable from plain SQL once registered
  * (GraftFunctions.register for live sessions; GraftExtensions uses the
  * identical builders at session construction). */
class ExtensionsSpec extends SparkSuite {

  test("vec_dot and no_inline are callable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d,
        |       no_inline(array(1, 2)) AS arr""".stripMargin).head()
    assert(r.getDouble(0) == 32.0)
    assert(r.getSeq[Int](1) == Seq(1, 2))
  }

  test("text-hash and vector kernels are callable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT simhash64('hello world') AS sh,
        |       simhash64('hello world') = simhash64('HELLO  world') AS norm_eq,
        |       size(minhash_sig('a b c d e', 3, 16)) AS sig_len,
        |       size(shingle_hashes('a b c d', 3)) AS n_shingles,
        |       sig_agree(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS agree,
        |       size(winnow_fps('a b c d e f g h i j')) AS n_fps,
        |       rhp_sign(array(1.0d, -2.0d, 0.5d)) IS NOT NULL AS has_sig,
        |       simhash64('   ') IS NULL AS empty_is_null""".stripMargin).head()
    assert(r.getAs[Boolean]("norm_eq"), "tokenization must normalize case/whitespace")
    assert(r.getAs[Int]("sig_len") == 16)
    assert(r.getAs[Int]("n_shingles") == 2)
    assert(r.getAs[Int]("agree") == 2)
    assert(r.getAs[Int]("n_fps") >= 1)
    assert(r.getAs[Boolean]("has_sig"))
    assert(r.getAs[Boolean]("empty_is_null"))
  }

  test("no graft function name is a Spark built-in; a colliding name is refused") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val shadowing = GraftFunctions.all.map(_._1)
      .filter(FunctionRegistry.builtin.functionExists)
    assert(shadowing.isEmpty, s"graft names Spark already ships: $shadowing")
    val builtinName = GraftFunctions.all.head.copy(
      _1 = new org.apache.spark.sql.catalyst.FunctionIdentifier("bitmap_count"))
    intercept[IllegalArgumentException](
      GraftFunctions.absentFromBuiltins(Seq(builtinName)))
  }
}
