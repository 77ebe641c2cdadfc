package graft.tools

/** Boots a session THROUGH spark.sql.extensions=graft.GraftExtensions (the
  * cluster deploy path) and exercises every injected piece — functions,
  * generator, and the optimizer rule — from pure SQL. */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("=== injected scalar + generator functions ===")
    spark.sql(
      """SELECT round(cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)), 6) AS cos,
        |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot""".stripMargin)
      .show(false)
    spark.sql("SELECT text_chunks('aa bb cc dd ee', 6, 2)").show(false)
    println("=== optimizer rule active at boot ===")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb")
    val df = spark.sql(
      """SELECT vec_id, aggregate(
        |  zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),
        |           transform(embedding, x -> CAST(x AS DOUBLE)),
        |           (x, y) -> x * y),
        |  0.0D, (acc, v) -> acc + v) AS selfdot
        |FROM emb LIMIT 3""".stripMargin)
    val plan = df.queryExecution.optimizedPlan.toString
    println("plan contains dot_product: " + plan.contains("dot_product"))
    df.show(false)
    spark.stop()
  }
}
