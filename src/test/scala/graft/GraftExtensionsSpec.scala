package graft

/** SQL-surface registration of the custom expressions. */
class GraftExtensionsSpec extends SparkSuite {

  // The name predates the removal of registerAll; the functions now come from
  // spark.sql.extensions alone, set by the GraftSession builder.
  test("custom expressions callable from SQL after registerAll") {
    val r = spark.sql(
      """SELECT size_pretty(5368709120) AS sp,
        |       format_duration(3661) AS fd,
        |       simhash60(array(1L, 2L, 3L)) AS sh,
        |       cosine_sim(array(float(1), float(0)), array(float(1), float(0))) AS cs,
        |       dot_product(array(float(2), float(3)), array(float(4), float(5))) AS dp,
        |       size(shingle_hash60('a b c d', 3)) AS ns,
        |       size(block_norms(array(float(3), float(4)), 2)) AS bn,
        |       lang_id('der hund ist nicht da') AS li,
        |       quality_stats('one two three').n_tokens AS qt
        |""".stripMargin).head()
    assert(r.getAs[String]("sp") == "5.0 GB")
    assert(r.getAs[String]("fd") == "1:01:01")
    assert(r.getAs[Double]("cs") == 1.0)
    assert(r.getAs[Double]("dp") == 23.0)
    assert(r.getAs[Int]("ns") == 2)
    assert(r.getAs[Int]("bn") == 2)
    assert(r.getAs[String]("li") == "de")
    assert(r.getAs[Int]("qt") == 3)
  }

  test("winnow_fingerprints one-arg SQL default equals the d5 engine constants") {
    // round-6 verdict: the (text) form defaulted to a swapped (8, 16) —
    // fingerprints that can never match the persisted (k=24, w=8) index
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val viaDefault = spark.sql(
      s"SELECT winnow_fingerprints('$text') AS f").head().getSeq[Long](0)
    val viaEngine = spark.sql(
      s"""SELECT winnow_fingerprints('$text',
         | ${operators.Dedup.WinnowK}, ${operators.Dedup.WinnowW}) AS f"""
        .stripMargin).head().getSeq[Long](0)
    assert(viaDefault == viaEngine && viaDefault.nonEmpty)
    val viaSwapped = spark.sql(
      s"SELECT winnow_fingerprints('$text', 8, 16) AS f").head().getSeq[Long](0)
    assert(viaDefault != viaSwapped)
  }

  test("shingle_hash60 SQL output matches the Scala column API") {
    val viaSql = spark.sql(
      "SELECT shingle_hash60('the quick brown fox jumps') AS h").head()
      .getSeq[Long](0)
    val viaApi = {
      import org.apache.spark.sql.functions._
      spark.range(1).select(
        expressions.HashFunctions.shingle_hash60(
          lit("the quick brown fox jumps"), 3).as("h")).head().getSeq[Long](0)
    }
    assert(viaSql == viaApi && viaSql.length == 3)
  }

  test("cdc_boundaries and window_hash60 SQL forms match the column API") {
    import org.apache.spark.sql.functions._
    val hx = "AB" * 200 // 200 identical payload bytes
    val viaSql = spark.sql(s"SELECT cdc_boundaries('$hx') AS b").head().getSeq[Long](0)
    val viaApi = spark.range(1)
      .select(expressions.HashFunctions.cdc_boundaries(
        lit(hx), operators.Multimodal.CdcWindow,
        operators.Multimodal.CdcDivisor).as("b"))
      .head().getSeq[Long](0)
    assert(viaSql == viaApi)
    // explicit-arg form with divisor 1: EVERY position from w on
    val all = spark.sql(s"SELECT cdc_boundaries('$hx', 4, 1) AS b").head().getSeq[Long](0)
    assert(all == (4L to 200L))
    val wh = spark.sql("SELECT window_hash60('a b c d', 2) AS h").head().getSeq[Long](0)
    assert(wh.length == 3)
    // the one-arg default must be the d8 ENGINE constant (SpanTokens),
    // not some other module's window — the winnow_fingerprints lesson
    val text = (1 to 12).map(i => s"t$i").mkString(" ")
    val viaDefault = spark.sql(s"SELECT window_hash60('$text') AS h")
      .head().getSeq[Long](0)
    val viaEngine = spark.range(1)
      .select(expressions.HashFunctions.window_hash60(
        lit(text), operators.Dedup.SpanTokens).as("h"))
      .head().getSeq[Long](0)
    assert(viaDefault == viaEngine && viaDefault.length == 12 - operators.Dedup.SpanTokens + 1)
  }
}
