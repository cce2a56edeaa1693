package graft.blob

import graft.core.{Msg, Processor}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Spark bridge for the Bloblang text frontend: a mapping string compiles
  * ONCE on the driver (parse errors surface at plan build, like the
  * reference's config lint stage), and executes per row executor-side.
  * The AST is serializable; no driver round-trips at runtime.
  */
object BloblangUdf {

  /** Mapping source → UDF over a JSON content string. Returns the mapped
    * content, or null when the mapping deletes the message. */
  def mappingUdf(src: String, env: Map[String, String] = Map.empty): UserDefinedFunction = {
    val prog = Bloblang.parse(src) // fail fast, driver-side
    udf { (content: String) =>
      if (content == null) null
      else Interp.run(prog, content, Map.empty, env).orNull
    }
  }

  /** `mapping` processor from Bloblang text over the Msg envelope:
    * content → mapped content; `root = deleted()` drops the row; a mapping
    * error lands in the error facet instead of failing the job (reference
    * error-facet semantics, message/data.go:195-201). */
  def mappingProcessor(src: String, env: Map[String, String] = Map.empty): Processor = {
    val prog = Bloblang.parse(src)
    val f = udf { (content: String) =>
      if (content == null) Array[String](null, null)
      else try Array(Interp.run(prog, content, Map.empty, env).orNull, null)
      catch { case e: Bloblang.BlobError => Array(content, e.msg) }
    }
    Processor("bloblang") { df =>
      df.withColumn("_bl", f(col(Msg.ContentCol)))
        .withColumn(Msg.ContentCol, col("_bl").getItem(0))
        .withColumn(Msg.ErrorCol,
          coalesce(col(Msg.ErrorCol), col("_bl").getItem(1)))
        .drop("_bl")
        .filter(col(Msg.ContentCol).isNotNull || col(Msg.ErrorCol).isNotNull)
    }
  }
}
