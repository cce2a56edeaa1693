package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable FIFO message buffer on an embedded JDBC database — the Spark
  * mapping of the reference's sqlite buffer (impl/sql/buffer_sqlite.go:25):
  * writes append rows with a monotonic sequence, reads drain in sequence
  * order, and an explicit ack deletes what downstream has durably
  * consumed. Re-draining without an ack returns the same rows — the
  * at-least-once replay contract.
  *
  * Spark-first positioning: the ENGINE-level durability story is
  * checkpointed replayable sources (file/kafka) + state stores — this
  * buffer is the edge tool for non-replayable inputs (socket/http push),
  * exactly the reference's use. Derby ships on the Spark classpath;
  * a networked DB is a URL change (the gate runs embedded).
  */
object Buffers {

  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Create the buffer table (idempotent). seq is DB-generated: single
    * writer per buffer, like the reference's rowid. */
  def create(url: String, table: String = "graft_buffer"): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"CREATE TABLE $table (seq BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
          "content VARCHAR(32672))")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
      finally st.close()
    } finally conn.close()
  }

  /** Append a batch: every row of `contentCol` becomes one buffered
    * message. JDBC append write — the DB assigns sequence numbers.
    * One writing connection (`numPartitions` 1), the single writer
    * `create` assumes: concurrent inserters contend on Derby's identity
    * generator and a task can fail with a lock timeout. */
  def append(df: DataFrame, contentCol: String, url: String,
             table: String = "graft_buffer"): Unit =
    df.selectExpr(s"$contentCol AS content")
      .write.format("jdbc")
      .option("url", url).option("dbtable", table).option("driver", Driver)
      .option("numPartitions", 1)
      .mode("append").save()

  /** Drain: read buffered messages in sequence order (partitioned JDBC
    * scan over the seq range — parallel at scale). Does NOT delete:
    * call [[ack]] after the downstream write is durable. */
  def drain(spark: SparkSession, url: String,
            table: String = "graft_buffer", numPartitions: Int = 4): DataFrame = {
    val bounds = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement()
          .executeQuery(s"SELECT COALESCE(MIN(seq), 0), COALESCE(MAX(seq), 0) FROM $table")
        rs.next()
        (rs.getLong(1), rs.getLong(2))
      } finally conn.close()
    }
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).option("driver", Driver)
    val part = if (bounds._2 > bounds._1)
      r.option("partitionColumn", "SEQ").option("lowerBound", bounds._1)
        .option("upperBound", bounds._2 + 1).option("numPartitions", numPartitions)
    else r
    val df = part.load()
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*).orderBy("seq")
  }

  /** Ack: delete everything up to and including `uptoSeq` — downstream
    * has durably consumed it (buffer_sqlite.go delete-on-ack). */
  def ack(url: String, uptoSeq: Long, table: String = "graft_buffer"): Int = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(s"DELETE FROM $table WHERE seq <= ?")
      try { st.setLong(1, uptoSeq); st.executeUpdate() } finally st.close()
    } finally conn.close()
  }
}
