package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the scaling-curve probe
  * (SCALING.md): replicates the driver's sf0.1 tables `factor`× with
  * key-shifted copies so fact tables grow while dimension keyspaces stay
  * fixed (the realistic 100 TB shape: facts scale, dims don't).
  *
  * - copy 0 is byte-identical to the source (sf0.1 ⊂ generated set);
  * - fact keys shift by copy × keyspace (no cross-copy key collisions);
  * - `documents.text` regenerates per (copy, doc_id) with a seeded RNG
  *   over the source corpus vocabulary — copies are NOT near-dups of
  *   each other, so dedup/similarity workloads keep a realistic match
  *   rate instead of a degenerate every-doc-has-9-twins cliff;
  * - `embeddings.embedding` circularly rotates per copy (deterministic,
  *   norm-preserving, changes the neighbor structure);
  * - dimensions (region/nation/supplier/part) copy verbatim.
  *
  * Never writes to /root/testdata. Usage:
  *   runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/graft_sf1 10
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def src(name: String): DataFrame =
      graft.core.Tables(spark, srcDir, name)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // one explode pass per table — not a union of `factor` scans
    val copyCol = explode(sequence(lit(0L), lit(factor - 1L))).as("_copy")

    // fixed keyspace strides from the SOURCE maxima (stable across runs)
    val maxOrder = src("orders").agg(max("o_orderkey")).as[Long].first() + 1
    val maxCust = src("customer").agg(max("c_custkey")).as[Long].first() + 1
    val maxDoc = src("documents").agg(max("doc_id")).as[Long].first() + 1
    val maxEvent = src("events").agg(max("event_id")).as[Long].first() + 1
    val maxUser = src("events").agg(max("user_id")).as[Long].first() + 1
    val maxVec = src("embeddings").agg(max("vec_id")).as[Long].first() + 1

    write(src("lineitem").select(copyCol, col("*"))
      .withColumn("l_orderkey", col("l_orderkey") + col("_copy") * maxOrder)
      .drop("_copy"), "lineitem")

    write(src("orders").select(copyCol, col("*"))
      .withColumn("o_orderkey", col("o_orderkey") + col("_copy") * maxOrder)
      .withColumn("o_custkey", col("o_custkey") + col("_copy") * maxCust)
      .drop("_copy"), "orders")

    write(src("customer").select(copyCol, col("*"))
      .withColumn("c_custkey", col("c_custkey") + col("_copy") * maxCust)
      .drop("_copy"), "customer")

    write(src("events").select(copyCol, col("*"))
      .withColumn("event_id", col("event_id") + col("_copy") * maxEvent)
      .withColumn("user_id", col("user_id") + col("_copy") * maxUser)
      .drop("_copy"), "events")

    // documents: vocab collected once driver-side (the corpus is synthetic
    // word-salad over a small vocabulary); per-row seeded regen for copies
    val vocab = src("documents").select(explode(split(col("text"), " ")))
      .distinct().as[String].collect().filter(_.nonEmpty).sorted
    val vocabB = spark.sparkContext.broadcast(vocab)
    val regen = udf { (copy: Long, docId: Long, words: Int) =>
      val v = vocabB.value
      val rnd = new scala.util.Random(copy * 1000003L + docId)
      (0 until words).map(_ => v(rnd.nextInt(v.length))).mkString(" ")
    }
    write(src("documents").select(copyCol, col("*"))
      .withColumn("text", when(col("_copy") === 0, col("text"))
        .otherwise(regen(col("_copy"), col("doc_id"), size(split(col("text"), " ")))))
      .withColumn("doc_id", col("doc_id") + col("_copy") * maxDoc)
      .withColumn("n_chars", length(col("text")))
      .drop("_copy"), "documents")

    write(src("embeddings").select(copyCol, col("*"))
      .withColumn("embedding", when(col("_copy") === 0, col("embedding")).otherwise(
        concat(
          slice(col("embedding"), (col("_copy") % size(col("embedding"))).cast("int") + 1,
            size(col("embedding"))),
          slice(col("embedding"), lit(1),
            (col("_copy") % size(col("embedding"))).cast("int")))))
      .withColumn("vec_id", col("vec_id") + col("_copy") * maxVec)
      .drop("_copy"), "embeddings")

    Seq("region", "nation", "supplier", "part").foreach(n => write(src(n), n))
    println(s"""{"scalegen":${graft.core.Json.quote(outDir)},"factor":$factor}""")
    spark.stop()
  }
}
