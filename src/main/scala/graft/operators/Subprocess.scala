package graft.operators

import graft.core.Msg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `subprocess` / `command` processors (reference: internal/impl/io/
  * processor_subprocess.go:44-94, processor_command.go:19-35).
  *
  * Spark-first shape: the child process lifecycle is PER PARTITION, never
  * per row (the reference keeps one subprocess per pipeline thread — the
  * partition is our pipeline thread).
  *
  *  - `pipe`: one long-lived child per partition; rows stream through its
  *    stdin/stdout as lines ("lines" codec). Built on RDD.pipe, whose
  *    writer thread pumps stdin independently of stdout, so block-buffered
  *    children can't deadlock the executor.
  *  - `command`: a fresh child per message (the reference documents the
  *    same throughput warning); non-zero exit lands stderr in the error
  *    facet and the message continues unchanged — reference error-facet
  *    contract.
  */
object Subprocess {

  /** `subprocess`: content lines → child stdin; child stdout lines replace
    * content 1:1. The child must emit one line per input line (the
    * reference requires the same, processor_subprocess.go:54-64). */
  def pipe(df: DataFrame, cmd: Seq[String], contentCol: String = Msg.ContentCol): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(contentCol).cast("string")).as[String]
      .rdd.pipe(cmd).toDF(contentCol)
  }

  /** `command`: execute `cmd` once per message, stdin=content,
    * stdout→content; non-zero exit → stderr into the error facet, content
    * unchanged. One ProcessBuilder template per partition. */
  def command(df: DataFrame, cmd: Seq[String], contentCol: String = Msg.ContentCol): DataFrame = {
    val hasError = df.columns.contains(Msg.ErrorCol)
    val run = udf { (content: String) =>
      if (content == null) Array[String](null, null)
      else {
        val p = new ProcessBuilder(cmd: _*).start()
        val out = new java.io.ByteArrayOutputStream()
        val errB = new java.io.ByteArrayOutputStream()
        val writer = new Thread(() => {
          try { p.getOutputStream.write(content.getBytes("UTF-8")) }
          finally p.getOutputStream.close()
        })
        writer.start()
        p.getInputStream.transferTo(out)
        p.getErrorStream.transferTo(errB)
        writer.join()
        val code = p.waitFor()
        if (code == 0) Array(new String(out.toByteArray, "UTF-8").stripLineEnd, null)
        else {
          val msg = new String(errB.toByteArray, "UTF-8").trim match {
            case "" => s"command exited with code $code"
            case s => s
          }
          Array(content, msg)
        }
      }
    }
    val base = if (hasError) df
      else df.withColumn(Msg.ErrorCol, lit(null).cast("string"))
    base.withColumn("_sp", run(col(contentCol)))
      .withColumn(contentCol, col("_sp").getItem(0))
      .withColumn(Msg.ErrorCol, coalesce(col(Msg.ErrorCol), col("_sp").getItem(1)))
      .drop("_sp")
  }
}
